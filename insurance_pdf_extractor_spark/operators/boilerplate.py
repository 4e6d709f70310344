"""Stage 3 — boilerplate / header-footer stripping via repeated-line
frequency per document (north_star requirement; no reference analog —
the reference ships whole-page text to the LLM).

A line is boilerplate when its *normalized* form (lowercase, digits
folded to '0', whitespace collapsed) appears on at least
``BOILERPLATE_MIN_FRAC`` of the document's pages, for documents with at
least ``BOILERPLATE_MIN_PAGES`` pages. Digit folding makes
'Page 1 of 3' / 'Page 2 of 3' count as the same repeated footer.
"""

from __future__ import annotations

import re

from ..constants import BOILERPLATE_MIN_FRAC, BOILERPLATE_MIN_PAGES

_WS_RE = re.compile(r"\s+")
# ASCII digits fold to '0' via a C-level translate table (measured ~1.7×
# over a regex sub on the typical line mix). Deliberate spec: ONLY ASCII
# digits fold — oracle.normalize_line implements the identical rule.
_DIGIT_TBL = str.maketrans("0123456789", "0000000000")


# every ASCII char Python's \s matches besides a lone space (incl.
# \x1c-\x1f file/group/record/unit separators), plus a double space —
# if none of these occur, the \s+ collapse is the identity
_NEEDS_COLLAPSE = re.compile(r"[\t\n\x0b\x0c\r\x1c-\x1f]|  ")


def norm_key(line: str) -> str:
    k = line.lower().translate(_DIGIT_TBL)
    # skip the whitespace-collapse regex when there is nothing to
    # collapse (single spaces only) — the dominant case; non-ASCII may
    # hold unicode whitespace the search can't prove absent, so it
    # always takes the regex
    if not k.isascii() or _NEEDS_COLLAPSE.search(k):
        k = _WS_RE.sub(" ", k)
    return k.strip()


def strip_boilerplate(
    lines: list[tuple[int, int, str]], n_pages: int
) -> list[tuple[int, int, str]]:
    """Drop repeated header/footer lines from (page, offset, text) lines."""
    if n_pages < BOILERPLATE_MIN_PAGES:
        return list(lines)
    # one norm_key per line (three regex passes each) — the old
    # detect-then-filter shape recomputed it twice per line, and
    # boilerplate was ~26% of the fused kernel
    keys = [norm_key(text) for _page, _off, text in lines]
    pages_with: dict[str, set[int]] = {}
    for (page, _off, _text), k in zip(lines, keys):
        pages_with.setdefault(k, set()).add(page)
    drop = {k for k, pgs in pages_with.items() if len(pgs) / n_pages >= BOILERPLATE_MIN_FRAC}
    if not drop:
        return list(lines)
    return [ln for ln, k in zip(lines, keys) if k not in drop]
