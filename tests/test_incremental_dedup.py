"""Bloom-prefiltered cross-batch exact dedup (dedup.incremental_dedup)
and vocabulary building (text_quality.vocab_topk).

The load-bearing property for the bloom path: the RESULT is exact at
every fpp — a tiny bitmap (massive false-positive rate) must route
nearly everything through the exact-confirm anti-join and still return
the same rows as a huge bitmap (near-zero fpp) and as a plain
anti-join reference computed without any bloom.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from insurance_pdf_extractor_spark.operators import dedup
from insurance_pdf_extractor_spark.operators import text_quality as tq


@pytest.fixture(scope="module")
def corpus(spark):
    # 40 docs; ids 0..39. Text repeats with period 10, so ids i and
    # i+10 are exact duplicates after normalization (case/whitespace
    # noise added to exercise normalize_text_expr).
    rows = []
    for i in range(40):
        base = f"document body number {i % 10} with shared tail"
        noisy = base.upper() if i % 3 == 0 else f"  {base}\t\n"
        rows.append((i, noisy))
    rows.append((99, None))  # null text must be ignored, not crash
    return spark.createDataFrame(rows, "doc_id long, text string")


def _reference(batch, history):
    """Plain exact semantics, no bloom: first-in-batch per normalized
    text, anti-joined against history's normalized texts."""
    key = dedup.normalize_text_expr(F.col("text"))
    b = batch.filter(F.col("text").isNotNull()).select("doc_id", key.alias("k"))
    h = history.filter(F.col("text").isNotNull()).select(key.alias("k")).distinct()
    firsts = b.groupBy("k").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_batch_dups")
    )
    return firsts.join(h, "k", "left_anti").select("doc_id", "n_batch_dups")


def _as_set(df):
    return {(r.doc_id, r.n_batch_dups) for r in df.collect()}


def test_bloom_bitmap_has_no_false_negatives(spark):
    keys = spark.range(0, 500).select(F.xxhash64("id").alias("k"))
    bm = dedup.bloom_bitmaps(keys, "k", n_bits=1 << 16, n_hashes=5, n_shards=1)
    flags = (
        keys.withColumn("hit", dedup.bloom_contains_udf(keys, bm, n_hashes=5)(F.col("k")))
        .agg(F.sum(F.col("hit").cast("int")).alias("n"))
        .first()
    )
    assert flags.n == 500  # every inserted key must test positive


def test_bloom_bitmap_rejects_most_non_members(spark):
    keys = spark.range(0, 500).select(F.xxhash64("id").alias("k"))
    bm = dedup.bloom_bitmaps(keys, "k", n_bits=1 << 20, n_hashes=5, n_shards=1)
    others = spark.range(10_000, 10_500).select(F.xxhash64("id").alias("k"))
    n_hits = (
        others.withColumn("hit", dedup.bloom_contains_udf(others, bm, n_hashes=5)(F.col("k")))
        .filter("hit")
        .count()
    )
    # 500 keys in 2^20 bits with 5 hashes: fpp ~ 1e-13; allow slack.
    assert n_hits <= 2


def test_bloom_bitmap_requires_power_of_two(spark):
    keys = spark.range(3).select(F.xxhash64("id").alias("k"))
    with pytest.raises(ValueError):
        dedup.bloom_bitmaps(keys, "k", n_bits=1000, n_shards=1)


@pytest.mark.parametrize("n_bits", [1 << 6, 1 << 20])
def test_incremental_dedup_exact_at_any_fpp(spark, corpus, n_bits):
    # history = ids 0..19 (+ null row), batch = ids 20..39: every batch
    # text already exists in history → everything is a cross-batch dup.
    history = corpus.filter((F.col("doc_id") < 20) | (F.col("doc_id") == 99))
    batch = corpus.filter(F.col("doc_id").between(20, 39))
    out = dedup.incremental_dedup(batch, history, n_bits=n_bits)
    ref = _reference(batch, history)
    assert _as_set(out) == _as_set(ref)
    assert out.count() == 0  # all texts repeat with period 10


@pytest.mark.parametrize("n_bits", [1 << 6, 1 << 20])
def test_incremental_dedup_keeps_unseen_and_dedups_within_batch(spark, corpus, n_bits):
    # history = ids 0..9 except 3 and 7 → batch texts 3 and 7 are
    # genuinely new; batch 20..39 carries each text twice (i, i+10).
    history = corpus.filter((F.col("doc_id") < 10) & ~F.col("doc_id").isin(3, 7))
    batch = corpus.filter(F.col("doc_id").between(20, 39))
    out = dedup.incremental_dedup(batch, history, n_bits=n_bits)
    ref = _reference(batch, history)
    assert _as_set(out) == _as_set(ref)
    got = {r.doc_id: r.n_batch_dups for r in out.collect()}
    # texts 3 and 7 survive; first occurrence (min id) wins; each
    # appears twice in the batch (23/33 and 27/37).
    assert got == {23: 2, 27: 2}


def test_incremental_dedup_null_history_and_empty_batch(spark, corpus):
    empty = corpus.filter(F.lit(False))
    history = corpus.filter(F.col("doc_id") < 10)
    assert dedup.incremental_dedup(empty, history, n_bits=1 << 8).count() == 0
    # empty history: everything first-in-batch survives
    batch = corpus.filter(F.col("doc_id") < 10)
    out = dedup.incremental_dedup(batch, empty, n_bits=1 << 8)
    assert out.count() == 10


def test_bloom_prefilter_routes_rows_off_the_join(spark, corpus):
    # Structural check on the scale claim: with a good bitmap, the
    # bloom-negative branch (no join) must carry the genuinely-new
    # rows. Count rows surviving WITHOUT entering the anti-join by
    # running the flag expression directly.
    history = corpus.filter(F.col("doc_id") < 10)
    batch = corpus.filter(F.col("doc_id").between(100, 101))  # none exist → synthetic
    fresh_docs = spark.createDataFrame(
        [(100, "a wholly novel body"), (101, "another unseen body")],
        "doc_id long, text string",
    )
    norm = dedup.normalize_text_expr(F.col("text"))
    hist_keys = history.filter(F.col("text").isNotNull()).select(
        F.xxhash64(norm).alias("k")
    )
    bm = dedup.bloom_bitmaps(hist_keys, "k", n_bits=1 << 20, n_hashes=5, n_shards=1)
    flags = fresh_docs.select(
        dedup.bloom_contains_udf(fresh_docs, bm, n_hashes=5)(F.xxhash64(norm)).alias("hit")
    )
    assert flags.filter("hit").count() == 0  # novel rows skip the join


def test_vocab_topk_counts_and_order(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta  beta"),
            (2, "ALPHA gamma"),
            (3, "beta"),
            (4, None),
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    out = tq.vocab_topk(docs, k=10).collect()
    assert [(r.word, r.tf, r.doc_freq) for r in out] == [
        ("beta", 3, 2),
        ("alpha", 2, 2),
        ("gamma", 1, 1),
    ]


def test_vocab_topk_limit_tiebreak(spark):
    docs = spark.createDataFrame(
        [(1, "b a c d"), (2, "d c a b")], "doc_id long, text string"
    )
    out = tq.vocab_topk(docs, k=2).collect()
    # all tf=2: alphabetical tiebreak picks a, b deterministically
    assert [r.word for r in out] == ["a", "b"]


def test_tfidf_top_terms_scores_and_ranks(spark):
    import math

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple banana cherry date"),
        ],
        "doc_id long, text string",
    )
    out = tq.tfidf_top_terms(docs, top_n=2).collect()
    got = {(r.doc_id, r.term_rank): (r.word, r.tf, r.doc_freq, r.score) for r in out}
    n = 3

    def score(tf, df):
        return round(tf * math.log((n + 1.0) / (df + 1.0)), 6)

    # doc 1: apple tf=2 df=2, banana tf=1 df=3 -> apple first
    assert got[(1, 1)] == ("apple", 2, 2, score(2, 2))
    assert got[(1, 2)] == ("banana", 1, 3, score(1, 3))
    # doc 2: cherry (df=2) outranks banana (df=3, score 0)
    assert got[(2, 1)] == ("cherry", 1, 2, score(1, 2))
    # banana appears in every doc: ln(4/4)=0
    assert got[(2, 2)] == ("banana", 1, 3, 0.0)
    # doc 3: date (df=1) unique -> top; apple & cherry tie (df=2) ->
    # alphabetical tiebreak gives apple rank 2
    assert got[(3, 1)] == ("date", 1, 1, score(1, 1))
    assert got[(3, 2)] == ("apple", 1, 2, score(1, 2))
    assert len(out) == 6  # top_n=2 for each of 3 docs


def test_linear_probe_scores_match_pure_python(spark):
    import math

    from insurance_pdf_extractor_spark.operators import similarity

    w, b = similarity.probe_weights(4)
    rows = [
        (1, [1.0, 0.0, -1.0, 2.0]),
        (2, [0.5, 0.5, 0.5, 0.5]),
        (3, None),              # null embedding -> null score
        (4, [1.0, 2.0]),        # wrong dim -> null score
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probe = similarity.linear_probe_udf(w, b)
    got = {r.vec_id: r.s for r in emb.select("vec_id", probe("embedding").alias("s")).collect()}

    def expected(v):
        z = sum(x * wi for x, wi in zip(v, w)) + b
        return 1.0 / (1.0 + math.exp(-z))

    assert got[3] is None and got[4] is None
    assert abs(got[1] - expected(rows[0][1])) < 1e-12
    assert abs(got[2] - expected(rows[1][1])) < 1e-12
    assert 0.0 < got[1] < 1.0 and 0.0 < got[2] < 1.0


def test_incremental_near_dup_pairs_planted(spark):
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the rain in spain stays mainly on the plain for days"
    )
    history = spark.createDataFrame(
        [(100, base), (101, "completely unrelated text about spark shuffles and arrow batches here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (200, base),                           # exact copy of hist 100
            (201, base.replace("dog", "cat")),     # near dup of hist 100
            (202, "nothing in common with either history document at all whatsoever truly"),
        ],
        "doc_id long, text string",
    )
    out = dedup.incremental_near_dup_pairs(batch, history, min_jaccard=0.5)
    got = {(r.batch_id, r.hist_id): r.jaccard for r in out.collect()}
    assert got[(200, 100)] == 1.0
    assert 0.5 <= got[(201, 100)] < 1.0
    assert all(b != 202 and h != 101 for b, h in got)


# -- property: bloom-routed result == pure-Python exact semantics ----------
import re as _re
import string as _string

from hypothesis import given, settings, strategies as _st

# ASCII-only alphabet: Java's \s and trim() are ASCII-bounded while
# Python's re is unicode-aware — the operator contract is defined by
# the Spark expression, so the generator stays in the shared subset.
_TXT = _st.text(alphabet=_string.ascii_lowercase + "AB \t", max_size=12)


def _pynorm(t):
    return _re.sub(r"[ \t]+", " ", t).strip().lower()


@settings(max_examples=6, deadline=None)
@given(
    hist=_st.lists(_TXT, max_size=8),
    batch=_st.lists(_TXT, min_size=1, max_size=10),
    tiny_bloom=_st.booleans(),
)
def test_incremental_dedup_matches_python_reference(spark, hist, batch, tiny_bloom):
    hdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(hist)] or [(0, None)], "doc_id long, text string"
    )
    bdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch)], "doc_id long, text string"
    )
    n_bits = 64 if tiny_bloom else 1 << 16
    got = {
        (r.doc_id, r.n_batch_dups)
        for r in dedup.incremental_dedup(bdf, hdf, n_bits=n_bits).collect()
    }
    hist_keys = {_pynorm(t) for t in hist}
    firsts: dict[str, list[int]] = {}
    for i, t in enumerate(batch):
        firsts.setdefault(_pynorm(t), []).append(i)
    want = {
        (ids[0], len(ids)) for key, ids in firsts.items() if key not in hist_keys
    }
    assert got == want


def test_history_filter_keeps_in_batch_dups_and_schema(spark, corpus):
    history = corpus.filter(F.col("doc_id") < 10)  # texts 0..9
    # batch: texts 0..9 twice (20..39) → ALL are history dups; plus two
    # fresh rows sharing one new text → both must pass (no in-batch
    # representative selection here).
    fresh = spark.createDataFrame(
        [(500, "a brand new body"), (501, "A   brand new body")],
        "doc_id long, text string",
    )
    batch = corpus.filter(F.col("doc_id").between(20, 39)).unionByName(fresh)
    out = dedup.history_filter(batch, history, n_bits=1 << 8)
    assert set(out.columns) == {"doc_id", "text"}  # full caller schema, no temp cols
    assert {r.doc_id for r in out.collect()} == {500, 501}


def test_bloom_contains_udf_exposes_broadcast_handle(spark):
    keys = spark.range(0, 10).select(F.xxhash64("id").alias("k"))
    bm = dedup.bloom_bitmaps(keys, "k", n_bits=1 << 8, n_hashes=3, n_shards=1)
    fn = dedup.bloom_contains_udf(keys, bm, n_hashes=3)
    assert hasattr(fn, "broadcast")
    n = keys.withColumn("hit", fn(F.col("k"))).filter("hit").count()
    assert n == 10
    fn.broadcast.destroy()  # the documented cleanup path works


def test_bigram_logprob_hand_model(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a  B c"), (3, "solo"), (4, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in tq.bigram_logprob_scores(docs).collect()}
    # corpus bigrams: doc1 (a,b),(b,a),(a,b); doc2 (a,b),(b,c)
    # cb: (a,b)=3 (b,a)=1 (b,c)=1; prefix cu: a=3, b=2; V={a,b}=2
    lp_ab = math.log((3 + 1.0) / (3 + 2))
    lp_ba = math.log((1 + 1.0) / (2 + 2))
    lp_bc = math.log((1 + 1.0) / (2 + 2))
    m1 = (2 * lp_ab + lp_ba) / 3
    m2 = (lp_ab + lp_bc) / 2
    assert out[1].n_bigrams == 3 and out[2].n_bigrams == 2
    assert abs(out[1].mean_logp - round(m1, 6)) < 1e-9
    assert abs(out[2].mean_logp - round(m2, 6)) < 1e-9
    assert abs(out[1].ppl - round(math.exp(-m1), 6)) < 1e-9
    # single-word and null docs have no bigrams -> no row
    assert 3 not in out and 4 not in out
    # doc2 repeats the corpus-common bigram less -> higher perplexity
    assert out[2].ppl > out[1].ppl


def test_bigram_logprob_probes_with_collapsed_stream(spark):
    """Scale-shape pin (r3 verdict): the count-table joins must probe
    with the pre-collapsed (doc, w1, w2, n) frame, not the raw
    occurrence stream — the probe side's aggregate groups on
    [doc_id, w1, w2] BEFORE any join appears above it."""
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "b c b c")], "doc_id long, text string"
    )
    out = tq.bigram_logprob_scores(docs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the per-(doc,bigram) aggregate exists...
    assert "doc_id" in plan and "w1" in plan and "w2" in plan
    import re

    # ...and every join key block sits above an Aggregate that carries
    # doc_id in its grouping (the collapsed frame), i.e. no Join's
    # immediate left input is the raw explode projection.
    first_join = plan.find("Join")
    agg_with_doc = re.search(r"Aggregate \[[^\]]*doc_id[^\]]*w1[^\]]*w2[^\]]*\]", plan)
    assert agg_with_doc is not None and first_join != -1
    assert agg_with_doc.start() > first_join  # collapsed agg feeds the joins


def test_corpus_profile_matches_standalone_one_scan(spark):
    """corpus_profile == (vocab_topk, tfidf_top_terms) value-for-value,
    while both outputs read the ONE persisted tf frame instead of
    re-scanning the corpus (the r3 second-scan fix)."""
    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple banana cherry date"),
            (4, "   "),   # zero-word doc still counts toward n_docs
            (5, None),    # null text excluded everywhere
        ],
        "doc_id long, text string",
    )
    prof = tq.corpus_profile(docs, k=10, top_n=2)
    try:
        want_vocab = [(r.word, r.tf, r.doc_freq) for r in tq.vocab_topk(docs, k=10).collect()]
        got_vocab = [(r.word, r.tf, r.doc_freq) for r in prof["vocab"].collect()]
        assert got_vocab == want_vocab

        def key(df):
            return {
                (r.doc_id, r.term_rank): (r.word, r.tf, r.doc_freq, r.score)
                for r in df.collect()
            }

        assert key(prof["tfidf"]) == key(tq.tfidf_top_terms(docs, top_n=2))
        # one-scan evidence: both profile outputs execute from the
        # persisted tf frame, not a fresh corpus scan
        for out in (prof["vocab"], prof["tfidf"]):
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan
    finally:
        prof["tf"].unpersist()


# -- r4: fingerprint-range-sharded bitmaps + bucketed confirm ---------------


@pytest.mark.parametrize("n_shards", [1, 2, 8])
@pytest.mark.parametrize("n_bits", [1 << 6, 1 << 16])
def test_incremental_dedup_shard_count_invariance(spark, corpus, n_shards, n_bits):
    """The sharded-bitmap path must be value-identical to the single
    bitmap at every (fpp, shard count) — sharding only changes WHERE a
    key probes, never the outcome (exactness comes from the confirm
    join either way)."""
    history = corpus.filter((F.col("doc_id") < 10) & ~F.col("doc_id").isin(3, 7))
    batch = corpus.filter(F.col("doc_id").between(20, 39))
    out = dedup.incremental_dedup(batch, history, n_bits=n_bits, n_shards=n_shards)
    assert _as_set(out) == _as_set(_reference(batch, history))


def test_sharded_bloom_no_false_negatives_and_shape(spark):
    keys = spark.range(0, 500).select(F.xxhash64("id").alias("k"))
    bms = dedup.bloom_bitmaps(keys, "k", n_bits=1 << 12, n_hashes=5, n_shards=8)
    assert bms.shape == (8, (1 << 12) >> 6)
    fn = dedup.bloom_contains_udf(keys, bms, n_hashes=5)
    assert keys.withColumn("hit", fn(F.col("k"))).filter("hit").count() == 500
    # xxhash64 keys spread across the top-bit ranges: several shards populated
    assert (dedup.bloom_fill_fractions(bms) > 0).sum() >= 4


def test_sharded_bloom_rejects_non_members(spark):
    keys = spark.range(0, 500).select(F.xxhash64("id").alias("k"))
    bms = dedup.bloom_bitmaps(keys, "k", n_bits=1 << 17, n_hashes=5, n_shards=4)
    others = spark.range(10_000, 10_500).select(F.xxhash64("id").alias("k"))
    fn = dedup.bloom_contains_udf(others, bms, n_hashes=5)
    assert others.withColumn("hit", fn(F.col("k"))).filter("hit").count() <= 2


def test_bloom_saturation_warns(spark):
    keys = spark.range(0, 2000).select(F.xxhash64("id").alias("k"))
    with pytest.warns(UserWarning, match="saturated"):
        dedup.bloom_bitmaps(keys, "k", n_bits=1 << 6, n_hashes=5)


def test_bloom_requires_power_of_two_shards(spark):
    keys = spark.range(3).select(F.xxhash64("id").alias("k"))
    with pytest.raises(ValueError):
        dedup.bloom_bitmaps(keys, "k", n_bits=1 << 8, n_shards=3)


def test_prebuilt_bitmaps_reused_across_batches(spark, corpus):
    """ADVICE r3: a micro-batch loop builds the history bitmaps ONCE
    and passes them to every incremental_dedup call — results identical
    to per-call builds, and no history scan happens per batch (the
    hist_fp frame is never touched when bitmaps are supplied and no
    bloom-positive confirm is needed)."""
    history = corpus.filter(F.col("doc_id") < 10)
    hist_fp = dedup.history_fingerprints(history)
    bms = dedup.bloom_bitmaps(hist_fp, "__bk", n_bits=1 << 16, n_shards=4)
    for lo, hi in [(20, 29), (30, 39)]:
        batch = corpus.filter(F.col("doc_id").between(lo, hi))
        got = dedup.incremental_dedup(
            batch, hist_fp=hist_fp, bitmaps=bms, n_bits=1 << 16, n_shards=4
        )
        assert _as_set(got) == _as_set(_reference(batch, history))


def test_shard_expr_matches_numpy_shard(spark):
    """Spark-side shard id (shiftrightunsigned) == numpy top-bit shard
    for negative and positive hashes alike."""
    keys = spark.range(0, 256).select(F.xxhash64("id").alias("k"))
    for n_shards in (2, 8, 64):
        rows = keys.select("k", dedup.shard_expr(F.col("k"), n_shards).alias("s")).collect()
        ks = np.array([r.k for r in rows], dtype=np.int64).view(np.uint64)
        want = dedup._shard_of(ks, n_shards).astype(np.int64)
        assert [r.s for r in rows] == list(want)


def test_bucketed_fingerprint_table_confirm(spark, corpus, tmp_path):
    """write_fingerprint_table → incremental_dedup(hist_fp=table):
    values equal the raw-history path, and — broadcast disabled so the
    bucket layout matters — the confirm anti-join plan has NO exchange
    above the bucketed history scan (only the slim batch side
    shuffles)."""
    import uuid

    history = corpus.filter((F.col("doc_id") < 10) & ~F.col("doc_id").isin(3, 7))
    batch = corpus.filter(F.col("doc_id").between(20, 39))
    name = "hist_fp_" + uuid.uuid4().hex[:8]
    dedup.write_fingerprint_table(
        history, name, str(tmp_path / "hist_fp"), n_buckets=4, n_shards=4
    )
    try:
        tbl = spark.table(name)
        assert "__shard" in tbl.columns  # range-partitioned for per-shard rebuilds
        out = dedup.incremental_dedup(
            batch, hist_fp=tbl, n_bits=1 << 16, n_shards=4
        )
        assert _as_set(out) == _as_set(_reference(batch, history))

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                dedup.incremental_dedup(batch, hist_fp=tbl, n_bits=1 << 16, n_shards=4)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # the history-side scan is bucketed and the anti-join reads it
        # WITHOUT an exchange: the plan's only Exchange hash-partitions
        # the slim bloom-positive batch side to the bucket layout;
        # the history child is Sort → FileScan (Bucketed: true).
        assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan
        seg = plan[plan.find("LeftAnti") :]
        assert seg.count("Exchange") == 1  # the batch side only
        hist_child = seg[seg.rfind("+- Sort") :]  # second SMJ input
        assert "FileScan" in hist_child and "Exchange" not in hist_child
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_auto_bloom_params_sizes_from_history(spark):
    """Verdict r4 #5: n_bits/n_shards derive from one
    approx_count_distinct over the slim fingerprint frame — ~10
    bits/key rounded up to a power of two, floored at min_bits, split
    into <= max_bits_per_shard shards with total capacity preserved."""
    few = spark.range(3).select(F.xxhash64("id").alias("__bk"))
    assert dedup.auto_bloom_params(few) == (1 << 16, 1)  # min_bits floor
    many = spark.range(20_000).select(F.xxhash64("id").alias("__bk"))
    n_bits, n_shards = dedup.auto_bloom_params(many)
    assert n_shards == 1 and n_bits & (n_bits - 1) == 0
    # 20k keys x 10 bits = 200k -> 2^18; one pow2 step of HLL slack
    assert n_bits in (1 << 17, 1 << 18, 1 << 19)
    n_bits2, n_shards2 = dedup.auto_bloom_params(many, max_bits_per_shard=1 << 14)
    assert n_bits2 == 1 << 14
    assert n_bits2 * n_shards2 == n_bits * n_shards  # same HLL read, same total


def test_incremental_dedup_auto_sizing_matches_manual(spark, corpus):
    """Auto-sized defaults ≡ explicit manual knobs ≡ the no-bloom
    reference, and the auto-sized path never fires the saturation
    warning (the r3/r4 silent-degradation finding)."""
    import warnings

    history = corpus.filter(F.col("doc_id") < 10)
    batch = corpus.filter(F.col("doc_id") >= 20)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        auto = _as_set(dedup.incremental_dedup(batch, history))
    assert not [w for w in caught if "saturated" in str(w.message)]
    manual = _as_set(dedup.incremental_dedup(batch, history, n_bits=1 << 20, n_shards=1))
    assert auto == manual == _as_set(_reference(batch, history))


def test_history_filter_auto_sizing_matches_manual(spark, corpus):
    history = corpus.filter(F.col("doc_id") < 10)
    batch = corpus.filter(F.col("doc_id") >= 20)
    auto = {r.doc_id for r in dedup.history_filter(batch, history).collect()}
    manual = {
        r.doc_id
        for r in dedup.history_filter(batch, history, n_bits=1 << 20, n_shards=1).collect()
    }
    assert auto == manual


def test_gate_hist_fp_table_does_not_accumulate(spark):
    """Verdict r4 #6: the incremental_dedup driver gate registers ONE
    fixed-name metastore table and overwrites it — two in-process runs
    leave exactly one gate table in the catalog."""
    from insurance_pdf_extractor_spark.queries import Q

    q = Q["incremental_dedup"]
    for _ in range(2):
        assert q(spark, "/root/testdata/sf0.001").count() > 0
    gates = [t.name for t in spark.catalog.listTables() if t.name.startswith("gate_hist_fp")]
    assert gates == ["gate_hist_fp"]


def test_band_table_probe_matches_live_and_is_bucketed(spark, corpus, tmp_path):
    """Verdict r4 #3: write_band_table → incremental_near_dup_pairs
    (hist_bands=table). Values equal the live-history path across a
    micro-batch loop reusing ONE table, and — broadcast disabled so the
    bucket layout matters — the candidate join reads the history band
    table with NO exchange (only the batch's slim band rows shuffle to
    the bucket layout)."""
    import uuid

    history = corpus.filter(F.col("doc_id") < 20)
    name = "hist_bands_" + uuid.uuid4().hex[:8]
    dedup.write_band_table(history, name, str(tmp_path / "hb"), n_buckets=4)
    try:
        tbl = spark.table(name)

        def pairs_set(df):
            return {(r.batch_id, r.hist_id, r.jaccard) for r in df.collect()}

        batches = [
            corpus.filter(F.col("doc_id").between(20, 29)),
            corpus.filter(F.col("doc_id").between(30, 39)),
        ]
        for batch in batches:  # one table, many micro-batches
            live = dedup.incremental_near_dup_pairs(batch, history, min_jaccard=0.2)
            reused = dedup.incremental_near_dup_pairs(
                batch, history, min_jaccard=0.2, hist_bands=tbl
            )
            got = pairs_set(reused)
            assert got == pairs_set(live) and got

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                dedup.incremental_near_dup_pairs(
                    batches[0], history, min_jaccard=0.2, hist_bands=tbl
                )
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan
        # the probe SMJ on (band, band_key): between the join node and
        # the bucketed FileScan there is exactly ONE Exchange — the
        # batch side being hashed to the bucket layout; the history
        # side is Sort → FileScan with no exchange.
        idx = plan.find("SortMergeJoin [band")
        cut = plan.find("Bucketed: true", idx)
        assert 0 <= idx < cut
        assert plan[idx:cut].count("Exchange") == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_gate_hist_bands_table_does_not_accumulate(spark):
    """The minhash_lsh_pairs gate's band table uses a fixed name +
    overwrite — repeated in-process verify sweeps keep one entry."""
    from insurance_pdf_extractor_spark.queries import Q

    q = Q["minhash_lsh_pairs"]
    for _ in range(2):
        assert q(spark, "/root/testdata/sf0.001").count() > 0
    gates = [t.name for t in spark.catalog.listTables() if t.name.startswith("gate_hist_bands")]
    assert gates == ["gate_hist_bands"]
