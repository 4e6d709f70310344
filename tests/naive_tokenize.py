"""Straight-line per-character content-stream parser: the differential
oracle for the two production tokenizer tiers in
operators/tokenize.py (the block fast path and the token-level
interpreter), as naive_html.py is for the HTML extractor. It reads
every byte with its own loop — strings (nested parens, escapes, octal),
comments, names, numbers, hex strings and operators — so a regex or
tokenization slip in either tier shows up as a divergence.

The shared semantic rules stay in the package and are imported: the
show-time charset/font decode, the hex-string body rule and the
inline-image skip.
"""

from __future__ import annotations

from insurance_pdf_extractor_spark.operators.tokenize import (
    _STR_ESCAPES,
    _raw_hex_string,
    _show_decode,
    _skip_inline_image,
)

_WS = " \t\r\n\f\x00"
_DELIM = "()<>[]{}/%"


def tokenize_content_reference(
    content: bytes, fonts=None
) -> list[tuple[int, float, float, int, str]]:
    """Straight-line per-character implementation, kept as the
    differential-testing reference for the regex scanners in
    operators/tokenize.py.
    ``fonts`` follows the interpreter tier's contract exactly (raw
    string operands, show-time decode through the Tf-selected map)."""
    if not content:
        return []
    text = content.decode("latin-1")
    n = len(text)
    i = 0
    page = 0
    lm_x = lm_y = 0.0      # text-line matrix origin (e, f components)
    leading = 0.0
    cur_font: str | None = None
    stack: list = []       # operands: floats, ('s', off, str), ('a', off, [items])
    runs: list[tuple[int, float, float, int, str]] = []
    array_marks: list[int] = []

    def parse_string(start: int) -> tuple[int, str]:
        # start points at '('; PDF literal string with escapes and
        # balanced nested parens (§7.3.4.2)
        j = start + 1
        depth = 1
        out: list[str] = []
        while j < n and depth > 0:
            c = text[j]
            if c == "\\" and j + 1 < n:
                nxt = text[j + 1]
                if nxt in _STR_ESCAPES:
                    out.append(_STR_ESCAPES[nxt])
                    j += 2
                elif nxt in "01234567":  # octal \ddd (1-3 digits)
                    k = j + 1
                    digits = ""
                    while k < n and text[k] in "01234567" and len(digits) < 3:
                        digits += text[k]
                        k += 1
                    out.append(chr(int(digits, 8) & 0xFF))
                    j = k
                else:
                    out.append(nxt)
                    j += 2
            elif c == "(":
                depth += 1
                out.append(c)
                j += 1
            elif c == ")":
                depth -= 1
                if depth > 0:
                    out.append(c)
                j += 1
            else:
                out.append(c)
                j += 1
        # the scan is byte-transparent (latin-1) so offsets stay exact;
        # charset interpretation happens at SHOW time via the shared
        # _show_decode — all tiers must agree byte-for-byte
        return j, "".join(out)

    while i < n:
        c = text[i]
        if c in _WS:
            i += 1
            continue
        if c == "%":
            eol = i
            while eol < n and text[eol] not in "\r\n":
                eol += 1
            comment = text[i:eol]
            if comment.startswith("%%PAGE"):
                rest = comment[6:].strip()
                page = int(rest) if rest.lstrip("-").isdigit() else page + 1
            i = eol
            continue
        if c == "(":
            off = i
            i, s = parse_string(i)
            stack.append(("s", off, s))
            continue
        if c == "[":
            array_marks.append(len(stack))
            stack.append(("mark", i, None))
            i += 1
            continue
        if c == "]":
            if array_marks:
                m = array_marks.pop()
                items = stack[m + 1 :]
                off = stack[m][1]
                del stack[m:]
                stack.append(("a", off, items))
            i += 1
            continue
        if c == "/":
            j = i + 1
            while j < n and text[j] not in _WS and text[j] not in _DELIM:
                j += 1
            stack.append(("n", i, text[i:j]))
            i = j
            continue
        if c in "+-.0123456789":
            j = i
            # ASCII digits only — isdigit() would also take ¹²³ and
            # split glued tokens differently from the other tiers
            while j < n and text[j] in "+-.0123456789":
                j += 1
            try:
                stack.append(float(text[i:j]))
            except ValueError:
                pass
            i = j
            continue
        if c == "<":
            # hex string (§7.3.4.3) — mirror the master pattern's
            # <[^<>]*> rule EXACTLY: scan to the first '>' stopping at
            # any '<' (so '<<' dict opens are two lone delimiters, and
            # an unterminated '<' is consumed alone)
            j = i + 1
            while j < n and text[j] not in "<>":
                j += 1
            if j < n and text[j] == ">":
                stack.append(("s", i, _raw_hex_string(text[i + 1 : j])))
                i = j + 1
            else:
                i += 1
            continue
        # operator keyword
        j = i
        while j < n and text[j] not in _WS and text[j] not in _DELIM:
            j += 1
        if j == i:  # lone delimiter (< > { } or stray ')'): consume it
            i += 1
            continue
        op = text[i:j]
        i = j
        if op == "BT":
            lm_x = lm_y = 0.0
            leading = 0.0
            stack.clear(); array_marks.clear()
        elif op == "ET":
            stack.clear(); array_marks.clear()
        elif op == "Td" or op == "TD":
            if len(stack) >= 2 and isinstance(stack[-1], float) and isinstance(stack[-2], float):
                ty, tx = stack[-1], stack[-2]
                lm_x += tx
                lm_y += ty
                if op == "TD":
                    leading = -ty
            stack.clear(); array_marks.clear()
        elif op == "Tm":
            if len(stack) >= 6 and all(isinstance(v, float) for v in stack[-6:]):
                lm_x, lm_y = stack[-2], stack[-1]
            stack.clear(); array_marks.clear()
        elif op == "T*":
            lm_y -= leading
            stack.clear(); array_marks.clear()
        elif op == "TL":
            if stack and isinstance(stack[-1], float):
                leading = stack[-1]
            stack.clear(); array_marks.clear()
        elif op == "Tj" or op == "'":
            if op == "'":
                lm_y -= leading
            if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "s":
                _, off, s = stack[-1]
                runs.append((page, lm_x, lm_y, off, _show_decode(s, cur_font, fonts)))
            stack.clear(); array_marks.clear()
        elif op == "TJ":
            if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "a":
                _, off, items = stack[-1]
                s = "".join(
                    _show_decode(it[2], cur_font, fonts)
                    for it in items
                    if isinstance(it, tuple) and it[0] == "s"
                )
                if s:
                    runs.append((page, lm_x, lm_y, off, s))
            stack.clear(); array_marks.clear()
        elif op == '"':
            # §9.4.3: aw ac (string) " — set spacings (no effect on the
            # line model), move to next line, show; string leniency
            # mirrors Tj/' exactly
            lm_y -= leading
            if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "s":
                _, off, s = stack[-1]
                runs.append((page, lm_x, lm_y, off, _show_decode(s, cur_font, fonts)))
            stack.clear(); array_marks.clear()
        elif op == "Tf":
            # §9.3.1 text state: font selection persists across BT/ET
            if (
                len(stack) >= 2
                and isinstance(stack[-1], float)
                and isinstance(stack[-2], tuple)
                and stack[-2][0] == "n"
            ):
                cur_font = stack[-2][2]
            stack.clear(); array_marks.clear()
        elif op == "BI":  # inline image: skip its binary data wholesale
            i = _skip_inline_image(text, i)
            stack.clear(); array_marks.clear()
        else:
            # unknown operator (Tf, Tc, Tw, gs, ...) — consume operands
            stack.clear(); array_marks.clear()
    return runs
