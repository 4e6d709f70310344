"""Hostile/malformed input robustness: the pipeline must never crash,
hang, or silently drop rows — every document either yields spans or a
classified reject. (The original char-loop tokenizer hung forever on a
lone '<'; this suite guards that whole class.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from naive_tokenize import tokenize_content_reference

from insurance_pdf_extractor_spark.operators.tokenize import (
    _tokenize_interpreter,
    tokenize_content,
)
from insurance_pdf_extractor_spark.plans.pipeline import extract_results
from insurance_pdf_extractor_spark.schema import DOCUMENTS_RAW

HOSTILE = [
    ("trunc-header", b"%PDF-"),
    ("no-magic", b"not a pdf at all"),
    ("empty", b""),
    ("delim-bomb", b"%PDF-1.4\n" + b"<>{}[]()/%" * 500),
    ("unterminated-string", b"%PDF-1.4\nBT\n10 20 Td\n(never closed... Tj\nET\n"),
    ("unterminated-nested", b"%PDF-1.4\nBT\n10 20 Td\n(a(b(c... Tj\nET\n"),
    ("escape-at-eof", b"%PDF-1.4\nBT\n10 20 Td\n(x\\"),
    ("binary-junk", b"%PDF-1.4\n" + bytes(range(256)) * 40),
    ("deep-array", b"%PDF-1.4\nBT\n" + b"[" * 200 + b"(x)" + b"]" * 200 + b" TJ\nET\n"),
    ("huge-number", b"%PDF-1.4\nBT\n1e308 99999999999999999999 Td\n(x) Tj\nET\n"),
    ("bad-number", b"%PDF-1.4\nBT\n12.5.6 -.+. Td\n(x) Tj\nET\n"),
    ("array-mark-cleared", b"%PDF-1.4\n[ BT ]\nBT\n1 2 Td\n(x) Tj\nET\n"),
    ("array-mark-repushed", b"%PDF-1.4\n[ Tj 5 4 ]\n"),
    ("truncated-info-obj", b"%PDF-1.4\n1 0 obj<<" + b"1" * 64 + b"("),
    ("truncated-tj-array", b"%PDF-1.4\nBT 1 2 Td [ " + b"1" * 64),
    ("superscript-digits", b"%PDF-1.4\nBT 1 2 Td (x) 1\xb2 Tj ET\n"),
    ("comment-noeol", b"%PDF-1.4\n% comment without newline"),
    ("page-garbage", b"%PDF-1.4\n%%PAGE xyz\nBT\n1 2 Td\n(x) Tj\nET\n"),
    ("negative-page", b"%PDF-1.4\n%%PAGE -5\nBT\n1 2 Td\n(x) Tj\nET\n"),
    ("operators-only", b"%PDF-1.4\n" + b"q Q cm gs BT ET Tz Tr " * 300),
    ("lone-closers", b"%PDF-1.4\n)))]]]}}}>>>\nBT\n1 2 Td\n(ok) Tj\nET\n"),
]


@pytest.mark.parametrize("name,content", HOSTILE, ids=[n for n, _ in HOSTILE])
def test_tokenizer_never_crashes_and_tiers_agree(name, content):
    ref = tokenize_content_reference(content)
    assert tokenize_content(content) == ref
    assert _tokenize_interpreter(content) == ref
    for row in ref:
        assert isinstance(row[4], str)


def test_pipeline_accounts_for_every_hostile_doc(spark, shuffle_partitions):
    rows = [
        (name, content, [], content.count(b"%%PAGE") or 1, len(content))
        for name, content in HOSTILE
    ]
    raw = spark.createDataFrame(rows, DOCUMENTS_RAW)
    with shuffle_partitions(4):
        got = extract_results(raw).select("doc_id", "status").collect()
    # conservation: every input doc appears exactly once, success or reject
    assert sorted(r["doc_id"] for r in got) == sorted(n for n, _ in HOSTILE)
    by_id = {r["doc_id"]: r["status"] for r in got}
    assert by_id["no-magic"] == "error"   # magic-byte reject
    assert by_id["empty"] == "error"
    # parseable-but-weird docs flow through as records (partial or not)
    assert by_id["lone-closers"] in ("success", "partial_success")


def test_adversarial_repeats_are_linear_time():
    """Every scanner entry point must fail/parse adversarial repeated
    atoms in linear time (ReDoS class: ambiguous digit-run splits inside
    unbounded regex loops — hit twice in round 2, in _INFO_OBJ and the
    TJ-array alternative)."""
    import time

    from insurance_pdf_extractor_spark.operators import tokenize as tk
    from insurance_pdf_extractor_spark.operators.metadata import parse_info_dict

    atoms = [b"1", b"1.", b".", b"(", b"\\", b"/n", b"%"]
    prefixes = [b"BT 1 2 Td [ ", b"1 0 obj<<", b"BT 1 2 Td [ (a) ", b"BT\n/F1 "]
    for pre in prefixes:
        for atom in atoms:
            b = pre + atom * 300
            t0 = time.process_time()  # CPU time: immune to the shared
            r1 = tk.tokenize_content(b)  # box's external load spikes
            r3 = tokenize_content_reference(b)
            parse_info_dict(b)
            assert time.process_time() - t0 < 5.0, (pre, atom)
            assert r1 == r3, (pre, atom)
