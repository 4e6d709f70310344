"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "docs_per_sec": ...}

The flagship number is the end-to-end extraction pipeline
(render -> tokenize -> layout -> boilerplate strip -> span assembly ->
field extraction/validation) in documents/sec; the remaining entries
are the analytics / dedup / similarity headliners from the query
registry. Scaling-efficiency evidence (N vs 4N cores) lives in
tools/bench_scaling.py -> BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from insurance_pdf_extractor_spark import queries as Qmod
from insurance_pdf_extractor_spark.session import build_session

HEADLINE = [
    "stats_by_group",          # A2: TPC-H Q1-style grouped multi-agg (600k rows @ sf0.1)
    "pk_fk_join",              # J1: orders x customer x nation broadcast join + agg
    "trend_window",            # A7: daily agg + 7-day moving-average window
    "search_filters",          # P4+O1: pushed-down predicates + top-k
    "incremental_dedup",       # bloom-prefiltered cross-batch exact dedup
    "dedup_clusters",          # connected components over the near-dup pair graph
    "text_quality",            # tokenization stats + quality scoring over documents
    "vocab_topk",              # corpus term/doc-frequency top-k word counts
    "tfidf_top_terms",         # per-doc characteristic terms (tf-idf top-n)
    "bigram_logprob",          # corpus bigram-model perplexity scoring
    "json_extract_cascade",    # F1/F2 LLM-response JSON parsing round-trip
    "range_join_bands",        # grid-binned interval join
    "sequence_packing",        # token-budget chunk layout (two-phase prefix sum)
    "kmeans_semantic_dedup",   # spherical k-means + SemDeDup pruning
]
# ANN timings keep their r1/r2 names for cross-round comparability: the
# gate registry consolidated cosine_topk / ann_ivf_topk into src-tagged
# union gates, so bench times the underlying operators directly. The
# merged embedding_exact_baselines gate is NOT a headliner — its
# near-dup half is the labeled all-pairs ORACLE BASELINE (quadratic by
# construction, ~87 s at sf0.1); benching it would measure the thing
# the scale paths exist to avoid.


def _dedup_headliners(spark, sf_dir):
    """minhash_lsh_pairs keeps its r1/r2 name by timing the pure
    within-corpus operator (the gate is now a src-tagged union with the
    cross-batch half); incremental_near_dup times the cross-batch path
    alone.

    The *_probe entries (r4 verdict #2: decompose the gate timing)
    time ONLY the per-ingest-batch cost — the history artifacts
    (bucketed fingerprint table + Bloom bitmaps; bucketed band table)
    are built once OUTSIDE the timed window, exactly as a long-lived
    ingest loop amortizes them once per corpus epoch. The plain
    incremental_dedup HEADLINE entry keeps timing the full gate
    (materialize + probe) for cross-round comparability."""
    import tempfile

    from pyspark.sql import functions as F2

    from insurance_pdf_extractor_spark.operators import dedup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    history = d.filter(F2.col("doc_id") % 3 == 0)
    batch = d.filter(F2.col("doc_id") % 2 == 0)

    tmp = tempfile.mkdtemp(prefix="bench_hist_")
    dedup.write_fingerprint_table(
        history, "bench_hist_fp", f"{tmp}/fp", n_buckets=8, n_shards=4, mode="overwrite"
    )
    hist_fp = spark.table("bench_hist_fp")
    bitmaps = dedup.bloom_bitmaps(hist_fp, "__bk", n_bits=1 << 14, n_shards=4)
    dedup.write_band_table(
        history, "bench_hist_bands", f"{tmp}/bands", n_buckets=8, mode="overwrite"
    )
    hist_bands = spark.table("bench_hist_bands")

    return {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(d, min_jaccard=0.2),
        "incremental_near_dup": lambda: dedup.incremental_near_dup_pairs(
            batch, history, min_jaccard=0.2
        ),
        "incremental_near_dup_probe": lambda: dedup.incremental_near_dup_pairs(
            batch, history, min_jaccard=0.2, hist_bands=hist_bands
        ),
        "incremental_dedup_probe": lambda: dedup.incremental_dedup(
            batch, hist_fp=hist_fp, bitmaps=bitmaps
        ),
    }


def _bpe_headliners(spark, sf_dir):
    """Real-vocab BPE kernel cost (r4 verdict #4), two regimes:

    - bpe_count_corpus: the sf documents table. Its vocabulary is 31
      distinct words over ~270k occurrences at sf0.1, so this is the
      cache-HIT regime — it measures Arrow plumbing, not encode cost.
    - bpe_count_high_vocab: a deterministic synthetic corpus sampled
      from the 30k-word Zipf vocabulary (2,000 docs x 128 words) —
      the cache-MISS regime, measuring the per-distinct-word encode
      cost a real vocabulary pays.

    The 12k-merge production table is trained and broadcast ONCE
    outside the timed window — a long-lived job's amortized cost."""
    import random

    from insurance_pdf_extractor_spark.operators import bpe

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    udf = bpe.bpe_token_count_udf(bpe.production_merges(), sc=spark.sparkContext)
    vocab = ["".join(w) for w in bpe.synthetic_word_freqs()]
    rng = random.Random(29)
    hv = (
        spark.createDataFrame(
            [(i, " ".join(rng.choice(vocab) for _ in range(128))) for i in range(2000)],
            "doc_id long, text string",
        )
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
        .localCheckpoint()  # generation + upload excluded from the timed window
    )
    return {
        "bpe_count_corpus": lambda: d.select(udf(F.col("text")).alias("n")),
        "bpe_count_high_vocab": lambda: hv.select(udf(F.col("text")).alias("n")),
    }


def _asof_headliners(spark, sf_dir):
    """asof_join keeps its r1-r4 bench name by timing the plain
    operator only (the gate is now a src-tagged plain+bucketed union —
    timing it would double the work and break cross-round series);
    asof_join_bucketed times the hot-key variant separately so the
    seed-aggregate overhead the bucketing buys is a recorded number."""
    from insurance_pdf_extractor_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    probe = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts", "event_type"
    )
    build = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("_bts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
        F.col("ts").alias("purchase_ts"),
    )
    kw = dict(
        on="user_id", probe_ts="ts", build_ts="_bts",
        payload_cols=["purchase_id", "purchase_value", "purchase_ts"],
        tiebreak="purchase_id",
    )
    return {
        "asof_join": lambda: asof_join(probe, build, **kw),
        "asof_join_bucketed": lambda: asof_join_bucketed(
            probe, build, bucket_width="13 minutes", **kw
        ),
    }


def _ann_headliners(spark, sf_dir):
    from insurance_pdf_extractor_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return {
        "cosine_topk": lambda: similarity.brute_force_topk(emb, qs, k=10),
        "ann_lsh_topk": lambda: similarity.lsh_topk(emb, qs, k=10, n_planes=6, dim=64),
        "ann_ivf_topk": lambda: similarity.ivf_topk(emb, qs, k=10, n_centroids=16, n_probe=4),
    }


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _best_of(df_or_thunk, n: int = 2) -> float:
    """min wall over n executions — the shared box carries external
    load spikes (observed 3x inflation at loadavg ~9); min is the
    stable capacity estimator (cf. BENCH.md variance notes).

    Accepts a DataFrame or a zero-arg builder. Pass a BUILDER for
    queries whose construction itself runs Spark jobs (kmeans fit's
    Lloyd passes, packing's bucket-base collect) so the timed window
    covers the whole query, not just the final plan's execution."""
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        _run(df_or_thunk() if callable(df_or_thunk) else df_or_thunk)
        best = min(best, time.perf_counter() - t0)
    return best


def _settle(threshold: float = 2.0, max_wait_s: int = 120) -> float:
    """Bounded wait for the box to go idle before the timed window.
    Concurrent JVMs inflated sustained wall times up to ~3x in past
    rounds (BENCH.md variance note) — a pre-measurement settle makes
    the per-round numbers comparable instead of load-lottery. Bounded
    so an always-busy box still produces a (flagged) measurement.
    Returns seconds waited; loadavg_before in the output shows whether
    the wait sufficed. Disable with SPARK_GRAFT_NO_SETTLE=1."""
    if os.environ.get("SPARK_GRAFT_NO_SETTLE"):
        return 0.0
    t0 = time.monotonic()
    while os.getloadavg()[0] >= threshold and time.monotonic() - t0 < max_wait_s:
        time.sleep(5)
    return round(time.monotonic() - t0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _settled = _settle()
    _load0 = round(os.getloadavg()[0], 2)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session(app_name="bench")

    timings: dict[str, float] = {}
    registry = Qmod.queries()

    # flagship: single-pass extraction plan (records + reject stubs in
    # one action; salt exchange materialized once, reused per branch)
    from insurance_pdf_extractor_spark.plans.pipeline import extract_results
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs_tbl.count()
    # warm-up covers the FULL extraction DAG: Python worker spin-up and
    # whole-stage-codegen compile of the 18-field expression tree are
    # one-time JVM costs a long-lived job amortizes (see BENCH.md)
    _run(extract_results(render_documents_raw(docs_tbl.limit(64))))

    job = extract_results(render_documents_raw(docs_tbl))
    extract_sec = _best_of(job)
    timings["extract_results_e2e"] = round(extract_sec, 3)

    # sustained rate: the sf corpus alone finishes in ~2 s of compute,
    # so per-stage overhead dominates docs/sec; a 32x replicated corpus
    # (deterministic doc_id remap, same bytes at any parallelism)
    # measures the amortized rate a long-running job sees
    reps = docs_tbl.repartition(int(spark.conf.get("spark.sql.shuffle.partitions"))).select(
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("rep"), "doc_id", "text"
    ).select(F.concat_ws("-", "rep", "doc_id").alias("doc_id"), "text")
    # best-of-3 here specifically: the render-inclusive sustained path
    # is the metric that absorbed 4-20x hypervisor-steal spikes across
    # rounds (BENCH.md variance notes) — a third rep materially raises
    # the odds one execution lands in a clean window
    sustained_job = extract_results(render_documents_raw(reps))
    sustained_sec = _best_of(sustained_job, n=3)
    timings["extract_sustained_32x"] = round(sustained_sec, 3)

    # same corpus with the computed render source materialized ONCE per
    # run (materialized_source): the branch-pushdown plan re-executes a
    # computed source per branch — 3x render, ~35% of executor time
    # (BENCH.md "computed-source triple evaluation"). Cache dropped
    # between reps so every rep re-renders honestly.
    from insurance_pdf_extractor_spark.plans.pipeline import materialized_source

    shared_sec = float("inf")
    for _ in range(3):
        with materialized_source(render_documents_raw(reps)) as raw:
            t0 = time.perf_counter()
            _run(extract_results(raw))
            shared_sec = min(shared_sec, time.perf_counter() - t0)
    timings["extract_sustained_shared_32x"] = round(shared_sec, 3)

    # production shape: raw documents already persisted as parquet —
    # the timed window is scan → salt shuffle → kernel → fields only,
    # no corpus rendering (render is test scaffolding, not the engine)
    import shutil
    import tempfile

    raw_dir = tempfile.mkdtemp(prefix="bench_raw_") + "/raw"
    render_documents_raw(reps).write.parquet(raw_dir)
    stored = spark.read.parquet(raw_dir)
    storage_sec = _best_of(extract_results(stored))
    timings["extract_from_storage_32x"] = round(storage_sec, 3)
    # same scan with the salt shuffle elided: the parquet layout written
    # above is already balanced (32-partition write), so the full-byte
    # reshuffle — the job's largest exchange — is pure overhead here
    storage_ns_sec = _best_of(extract_results(stored, presalted=True))
    timings["extract_from_storage_presalted_32x"] = round(storage_ns_sec, 3)
    shutil.rmtree(raw_dir, ignore_errors=True)

    # compressed-input production shape (round 5): the same stored
    # corpus but with every doc's pages inside FILTERED stream objects
    # (per-doc Flate/LZW/ASCIIHex/ASCII85+Flate/RLE/predictor mix, the
    # real-world PDF shape). Same presalted scan→kernel→fields window,
    # so the delta vs extract_from_storage_presalted_32x IS the
    # stream-filter decode cost inside the Arrow kernel.
    rawf_dir = tempfile.mkdtemp(prefix="bench_rawf_") + "/raw"
    render_documents_raw(reps, mix="filters").write.parquet(rawf_dir)
    stored_f = spark.read.parquet(rawf_dir)
    storage_filtered_sec = _best_of(extract_results(stored_f, presalted=True))
    timings["extract_from_storage_filtered_32x"] = round(storage_filtered_sec, 3)
    shutil.rmtree(rawf_dir, ignore_errors=True)

    # font-encoded production shape (round 5): the full real-world
    # matrix — filters × PDF-1.5 structure × FONT ENCODING (plain /
    # Differences-cipher / 2-byte Identity-H+ToUnicode). Font docs
    # bypass the block fast path for the token-level interpreter with
    # show-time map lookups, so the delta vs the filtered row is the
    # font parse + interpreter-tier cost on ~2/3 of the corpus.
    rawe_dir = tempfile.mkdtemp(prefix="bench_rawe_") + "/raw"
    render_documents_raw(reps, mix="full").write.parquet(rawe_dir)
    stored_e = spark.read.parquet(rawe_dir)
    storage_encoded_sec = _best_of(extract_results(stored_e, presalted=True))
    timings["extract_from_storage_encoded_32x"] = round(storage_encoded_sec, 3)
    shutil.rmtree(rawe_dir, ignore_errors=True)

    # interleaved-FORMAT production shape (round 5 second half): a
    # deterministic third of the stored corpus is HTML pages routed
    # through the from-scratch main-content extractor (operators/
    # html.py); the rest is the full PDF matrix above. Same presalted
    # scan→kernel→fields window — the delta vs the encoded row is the
    # HTML kernel replacing the PDF interpreter on 1/3 of the docs.
    rawi_dir = tempfile.mkdtemp(prefix="bench_rawi_") + "/raw"
    render_documents_raw(reps, mix="interleaved").write.parquet(rawi_dir)
    stored_i = spark.read.parquet(rawi_dir)
    storage_interleaved_sec = _best_of(extract_results(stored_i, presalted=True))
    timings["extract_from_storage_interleaved_32x"] = round(storage_interleaved_sec, 3)
    shutil.rmtree(rawi_dir, ignore_errors=True)

    # warm run (codegen compile is one-time per JVM), then best-of-2
    # timed runs: single-shot headliners showed up to 20x spikes from
    # hypervisor steal invisible to loadavg (BENCH.md variance notes)
    for name in HEADLINE:
        # search_filters keeps its r1/r2 bench name though its gate
        # merged into ordered_slices (src='search'); time the builder.
        fn = registry.get(name) or getattr(Qmod, f"q_{name}")
        _run(fn(spark, sf_dir))
        timings[name] = round(_best_of(lambda: fn(spark, sf_dir)), 3)

    for helper in (_dedup_headliners, _asof_headliners, _ann_headliners, _bpe_headliners):
        for name, mk in helper(spark, sf_dir).items():
            _run(mk())
            timings[name] = round(_best_of(mk), 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline query suite wall time (extraction e2e + analytics/dedup/similarity)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / extract_sec, 2),
        "docs_per_sec_sustained": round(n_docs * 32 / sustained_sec, 2),
        "docs_per_sec_sustained_shared": round(n_docs * 32 / shared_sec, 2),
        "docs_per_sec_storage": round(n_docs * 32 / storage_sec, 2),
        "docs_per_sec_storage_presalted": round(n_docs * 32 / storage_ns_sec, 2),
        "docs_per_sec_storage_filtered": round(n_docs * 32 / storage_filtered_sec, 2),
        "settle_wait_sec": _settled,
        "loadavg_before": _load0,
        "loadavg_after": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
