"""Differential fuzzing of the three tokenizer tiers: the block-level
fast path and the token-level interpreter must agree byte-for-byte with
the straight-line reference parser on arbitrary structured content
streams — template blocks, multi-show blocks, nested/escaped strings,
stray delimiters, unknown operators, \\r line endings."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from naive_tokenize import tokenize_content_reference

from insurance_pdf_extractor_spark.operators.tokenize import (
    _tokenize_interpreter,
    tokenize_content,
)

_string_body = st.text(
    alphabet="abcXYZ 0123456789.,$%-·é\\()nrt",
    max_size=20,
).map(lambda s: s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)"))

_escaped = st.sampled_from(["\\101\\102", "a\\tb", "x\\(y\\)z", "\\n", "\\065", "q\\\\w"])

_nested = st.sampled_from(["a(b)c", "a(b(c))d", "(x)"])  # raw nesting (balanced)


def _tj_block(x, y, body):
    return f"BT\n/F1 12 Tf\n{x:.1f} {y:.1f} Td\n({body}) Tj\nET\n"


def _tm_tj_block(x, y, body):
    return f"BT\n1 0 0 1 {x:.1f} {y:.1f} Tm\n({body}) Tj\nET\n"


def _tJ_block(x, y, a, b):
    return f"BT\n{x:.1f} {y:.1f} Td\n[({a}) -120 ({b})] TJ\nET\n"


def _multi_block(x, y, a, b):
    # multiple shows + T*/TL inside one BT: forces the interpreter path
    return f"BT\n{x:.1f} {y:.1f} Td\n14 TL\n({a}) Tj\nT*\n({b}) Tj\nET\n"


def _quote_block(x, y, a):
    return f"BT\n{x:.1f} {y:.1f} Td\n12 TL\n({a}) '\nET\n"


def _hex_block(x, y, body):
    # hex string show (§7.3.4.3): forces the interpreter path
    return f"BT\n{x:.1f} {y:.1f} Td\n<{body.encode('latin-1').hex()}> Tj\nET\n"


def _hex_tJ_block(x, y, a, b):
    return f"BT\n{x:.1f} {y:.1f} Td\n[<{a.encode('latin-1').hex()}> -120 ({b})] TJ\nET\n"


_coord = st.integers(0, 800)

_piece = st.one_of(
    st.builds(_tj_block, _coord, _coord, _string_body),
    st.builds(_tm_tj_block, _coord, _coord, _string_body),
    st.builds(_tJ_block, _coord, _coord, _string_body, _string_body),
    st.builds(_multi_block, _coord, _coord, _string_body, _string_body),
    st.builds(_quote_block, _coord, _coord, _string_body),
    st.builds(_tj_block, _coord, _coord, _escaped),
    st.builds(_hex_block, _coord, _coord, _string_body),
    st.builds(_hex_tJ_block, _coord, _coord, _string_body, _string_body),
    st.builds(lambda b: f"BT\n10 20 Td\n({b}) Tj\nET\n", _nested),
    st.sampled_from(
        [
            "%%PAGE 1\n",
            "%%PAGE 2\n",
            "% plain comment\n",
            "% cr comment\r10 20 Td\n",
            "<< /Type /Page >>\n",   # dict delimiters (consumed, no-ops)
            "{ } > <\n",
            "q 1 0 0 1 5 5 cm Q\n",  # unknown operators with operands
            "BT\n(orphan string) ET\n",  # show-less block
            ") stray\n",
            # malformed number tokens: float() must not crash any tier
            # and all tiers must agree (round-1 advisory: the block fast
            # path floated '[\\d.]+' matches like 12.5.6)
            "BT\n12.5.6 7 Td\n(x) Tj\nET\n",
            "BT\n-.+. 5 Td\n(y) Tj\nET\n",
            "BT\n1. .5 Td\n(z) Tj\nET\n",
            # Python-\s-but-not-PDF-whitespace bytes between tokens: the
            # fast path must not treat \x0b \x1c \x85 \xa0 as separators
            # (reference tier _WS is [ \t\r\n\f\x00] only)
            "BT 1\x0b2 Td (w) Tj ET\n",
            "BT\x851 2 Td (v) Tj ET\n",
            "BT\n1\xa02 Td\n(u) Tj\nET\n",
            "BT\n1\x1c2 Td\n(t) Tj\nET\n",
            "BT\x001\x002 Td\x00(s) Tj\x00ET\n",  # NUL IS reference whitespace
            # /Info metadata objects: fast path skips, other tiers
            # consume as dead operands — must be equivalent
            "1 0 obj\n<< /Title (T \\(x\\)) /Author (A) /N 3 >>\nendobj\n",
            "2 0 obj << /Title ((nested)) >> endobj\n",  # nested str → fallback
            "3 0 obj\n<< /Producer (p\\\\q) /CreationDate (D:2024) >>\nendobj\n",
            # operator INSIDE an open array: the stack-clear must drop
            # the array mark too (regression: stale mark index crashed
            # the interpreter/reference tiers on the closing ']')
            "[ BT ]\n",
            "[ Tj 5 4 ]\n",
            "[ q 1 0 cm ] BT\n1 2 Td\n(x) Tj\nET\n",
            "[[ BT ]] ]\n",
            # dirty hex strings: odd digit count (pads 0), internal
            # whitespace (ignored), non-hex garbage (ignored), an
            # unterminated '<', and a dict-open directly before a show
            "BT\n1 2 Td\n<48 65 6C6C6F> Tj\nET\n",
            "BT\n1 2 Td\n<465> Tj\nET\n",
            "BT\n1 2 Td\n<4x8!6f> Tj\nET\n",
            "BT\n1 2 Td\n<48656 Tj\nET\n",
            "BT\n1 2 Td\n<< /X 1 >> <41> Tj\nET\n",
            "<deadbeef>\n",
            # inline images: binary payload skipped wholesale by every
            # tier (token-shaped garbage inside, truncated EI, EI-like
            # byte runs that are not token-delimited)
            "BI /W 2 /H 2 ID \x01\x02(fk) Tj EI\nBT 1 2 Td (a) Tj ET\n",
            "BI ID xEI EIx EI BT 1 2 Td (b) Tj ET\n",
            "BI /W 1 ID no terminator (c) Tj\n",
            "q BI EI Q BT 1 2 Td (d) Tj ET\n",
            # quote-show operators: ' (next line + show) and " (set
            # spacings + next line + show), with malformed operand mixes
            "BT 8 TL 1 2 Td (a) ' (b) ' ET\n",
            'BT 8 TL 1 2 Td 2 3 (c) " ET\n',
            'BT (d) " 1 (e) " " ET\n',
        ]
    ),
)


_TWO_BLOCKS = ["BT\n1 2 Td\n(a) Tj\nET\n", "%%PAGE 1\n", "BT\n3 4 Td\n[(b) 5 (c)] TJ\nET\n"]


@settings(max_examples=120, deadline=None)
@given(st.lists(_piece, min_size=1, max_size=12))
# nested strings at the start, middle and end of a document, then an
# unterminated '(' and backslash-EOL strings: the interpreter reads
# each in place and carries on scanning after it
@example(["BT\n5 6 Td\n(x(y(z))w) Tj\nET\n"] + _TWO_BLOCKS)
@example(_TWO_BLOCKS[:2] + ["BT\n5 6 Td\n[(p(q)r) -9 (s)] TJ\nET\n", _TWO_BLOCKS[2]])
@example(_TWO_BLOCKS + ["BT\n5 6 Td\n(end (of) doc\\)) Tj\nET\n"])
@example(_TWO_BLOCKS[:2] + ["BT\n5 6 Td\n(open (never) closed Tj\nET\n", _TWO_BLOCKS[2]])
@example(_TWO_BLOCKS + ["BT\n5 6 Td\n(line\\\nnext\\\r\nlast\\101) Tj\nET\n", "%%PAGE 2\n"])
def test_tokenizer_tiers_agree(pieces):
    content = ("%PDF-1.4\n" + "".join(pieces)).encode("latin-1")
    ref = tokenize_content_reference(content)
    assert tokenize_content(content) == ref
    assert _tokenize_interpreter(content) == ref


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=300))
def test_tokenizer_tiers_agree_on_raw_bytes(b):
    """Arbitrary bytes: no tier may crash and all must agree (found the
    glued number-operator split divergence and the stale-array-mark
    crash that structured pieces never hit)."""
    ref = tokenize_content_reference(b)
    assert tokenize_content(b) == ref
    assert _tokenize_interpreter(b) == ref


_PRINTABLE = st.text(
    alphabet="()[]<>{}/%\\'\"BTEjdmLQq* .0123456789+-\t\r\nxo",
    max_size=120,
)


@settings(max_examples=200, deadline=None)
@given(_PRINTABLE)
def test_tokenizer_tiers_agree_on_operator_soup(s):
    """Dense streams of delimiters/operators/numbers without structured
    spacing — the regime where tokenization boundaries diverge."""
    b = s.encode("latin-1")
    ref = tokenize_content_reference(b)
    assert tokenize_content(b) == ref
    assert _tokenize_interpreter(b) == ref


def test_fast_path_handles_corpus_without_fallback():
    """All rendered corpus docs should take the block fast path (the
    speedup only exists if they do). Verified by monkeypatching the
    interpreter fallback to raise."""
    import insurance_pdf_extractor_spark.operators.tokenize as tk
    from insurance_pdf_extractor_spark import corpus as C

    docs = [d.content for d in C.generate_corpus(60) if d.content]
    orig = tk._tokenize_interpreter
    tk._tokenize_interpreter = lambda c: (_ for _ in ()).throw(AssertionError("fell back"))
    try:
        for c in docs:
            tk.tokenize_content(c)
    finally:
        tk._tokenize_interpreter = orig
