"""Physical-plan invariants that make the engine scale, pinned as tests.

Correctness gates prove the RESULTS right; these prove the PLANS stay
the shape that survives 100 TB (SURVEY §6, BENCH.md plan audit):
pushed filters, pruned scans, broadcast joins where a side is small,
each extraction branch shuffling only its filtered subset (pushdown
differentiates the branch exchanges, so ReuseExchange does NOT fire —
the reject branch instead stays metadata-width via the pushed `magic`
prefix column), and — the
north rule's hard requirement — no row-at-a-time Python anywhere
(Arrow `ArrowEvalPython`/`MapInPandas`/`FlatMapGroupsInPandas` nodes
allowed, legacy `BatchEvalPython` banned).

A regression that flips a broadcast join to sort-merge or sneaks a
cartesian product past the registry changes no sf0.001 result and
would pass every value gate; only the plan text catches it.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

# Queries whose plan LEGITIMATELY contains a broadcast cross join:
# the labeled exact/oracle baselines that score a broadcast-small side
# against every candidate (BroadcastNestedLoopJoin, not a shuffled
# CartesianProduct — asserted separately below).
CROSS_OK = {
    # r3 consolidation: cosine_topk + embedding_near_dup_exact — the
    # two labeled exact baselines — merged under one src-tagged gate
    "embedding_exact_baselines",
    "ann_ivf_exhaustive",   # n_probe = n_centroids: equivalence-to-brute-force gate
    "cost_model",           # ONE-row broadcast global aggregate joined onto per-group rows
    "overall_stats",        # 1-row x 1-row crossJoin (absorbed retention_cutoff count)
    "tfidf_top_terms",      # 1-row n_docs broadcast onto (doc, word) rows — constant traffic
    "bigram_logprob",       # 1-row vocabulary-size broadcast onto bigram rows
    # r5 DSIR branch: dsir_bucket_table normalizes hashed-n-gram counts
    # by ONE 1-row (target_total, raw_total) broadcast aggregate —
    # constant traffic, same shape as cost_model/overall_stats (the
    # test below pins that this is the ONLY BNLJ in the plan)
    "hash_sample_split",
}


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture(scope="module")
def registry():
    from insurance_pdf_extractor_spark import queries as Q

    return Q.queries()


def test_no_cartesian_or_rowwise_python_anywhere(spark, registry):
    """Sweep EVERY registered query: no shuffled cartesian product, no
    row-at-a-time Python eval. This is the mechanical form of the north
    rule's 'no per-row Python is permitted'."""
    offenders = []
    for name, fn in registry.items():
        plan = _plan(spark, fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython (row-at-a-time UDF)"))
        if "BroadcastNestedLoopJoin" in plan and name not in CROSS_OK:
            offenders.append((name, "BroadcastNestedLoopJoin outside labeled baselines"))
    assert not offenders, f"plan invariant violations: {offenders}"


def test_hash_sample_split_single_one_row_broadcast(spark, registry):
    """The CROSS_OK exemption for hash_sample_split is exactly one
    BroadcastNestedLoopJoin — the DSIR branch's 1-row totals
    normalizer — never a second cross join sneaking in behind the
    allowlist."""
    import re

    plan = _plan(spark, registry["hash_sample_split"](spark, SF_DIR))
    # formatted explain prints each node in the tree AND a "(n) Node"
    # details header — count the unique details headers
    nodes = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(nodes) == 1, plan
    assert "CartesianProduct" not in plan


def test_search_filters_pushdown_and_pruning(spark, registry):
    """P4: dynamic search predicates must reach the parquet scan, and
    the scan must not read columns the projection drops. The P4 gate
    merged into ordered_slices (src='search'); the pushdown contract
    holds on the union plan's orders scans."""
    plan = _plan(spark, registry["ordered_slices"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # at least one real comparison pushed, not only IsNotNull
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any(
        any(tok in l for tok in ("GreaterThan", "LessThan", "EqualTo", "In(")) for l in pushed
    ), f"no comparison predicate pushed: {pushed}"
    # o_comment is never used by the query — a scan that reads it would
    # ship the widest column of the table for nothing
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("o_comment" not in l for l in read), read


def test_documents_scans_prune_to_used_columns(spark, registry):
    """Text-analysis queries read (doc_id, text) — the scan must not
    drag the rest of the documents schema along."""
    for name in ("text_quality", "clean_text"):
        plan = _plan(spark, registry[name](spark, SF_DIR))
        read = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert read, f"{name}: no parquet ReadSchema in plan"
        for l in read:
            assert "kind" not in l and "media_ref" not in l, f"{name}: unpruned scan: {l}"


def test_pk_fk_join_broadcasts_small_dims(spark, registry):
    """J1: nation/customer dims must broadcast; a sort-merge join here
    means a full shuffle of the fact table at 100 TB."""
    plan = _plan(spark, registry["pk_fk_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_extract_pipeline_storage_plan_shape(spark, tmp_path):
    """Production shape (raw docs persisted as parquet): the three
    union branches must compile to PRUNED scans — size_bytes pushed to
    parquet on the small/oversized branches, and the reject branch
    never reading the content column (it classifies from the tiny
    ``magic`` prefix column; without that, the reject side-output
    re-reads every content byte at corpus scale)."""
    from insurance_pdf_extractor_spark.plans.pipeline import extract_results
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    raw_dir = str(tmp_path / "raw")
    render_documents_raw(docs).write.parquet(raw_dir)
    stored = spark.read.parquet(raw_dir)

    plan = _plan(spark, extract_results(stored))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the fused kernel crosses via Arrow

    scans = [l for l in plan.splitlines() if "ReadSchema" in l or "PushedFilters" in l]
    text = "\n".join(scans)
    # small + oversized branches: size threshold pushed into the scan
    assert "LessThanOrEqual(size_bytes" in text, text
    assert "GreaterThan(size_bytes" in text, text
    # reject branch: exactly one scan omits content — metadata-only
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    no_content = [l for l in read_lines if "content" not in l]
    assert no_content, f"reject branch scan reads content bytes:\n{read_lines}"


def test_extract_salt_exchange_is_coalescible(spark):
    """The fused kernel's doc-id salt is a repartition by column with no
    partition count (REPARTITION_BY_COL), so AQE sizes it from shuffle
    bytes and cores; a fixed-count REPARTITION_BY_NUM salt would run
    ``spark.sql.shuffle.partitions`` Python tasks whatever the input."""
    import re

    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents
    from insurance_pdf_extractor_spark.schema import DOCUMENTS_RAW

    raw = spark.createDataFrame([("d-1", b"%PDF-1.4\n", [], 1, 9)], DOCUMENTS_RAW)
    plan = _plan(spark, extract_documents(raw)[0])
    salts = re.findall(r"hashpartitioning\(xxhash64\(doc_id#\d+, 42\), \d+\), (\w+)", plan)
    assert salts == ["REPARTITION_BY_COL"], plan
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_html_meta_scan_is_map_only(spark):
    """The HTML <head> metadata scan rides the scan: one Arrow kernel,
    zero exchanges — at corpus scale it must stay a pure map over the
    (doc_id, content) projection."""
    from insurance_pdf_extractor_spark.operators.html import scan_html_meta
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    raw = render_documents_raw(docs, partitions=4, mix="html")
    plan = _plan(spark, scan_html_meta(raw))
    assert "BatchEvalPython" not in plan
    # one exchange NODE total: the render path's deliberate pre-UDF
    # salt spread; the metadata scan itself adds none on top (the
    # formatted plan mentions each node twice — tree + details — so
    # count the numbered node entries)
    import re as _re

    n_exchanges = len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M))
    assert n_exchanges <= 1, plan


def test_interleaved_storage_routes_html_around_shard_path(spark, tmp_path):
    """Interleaved-format production shape: the oversized (shard)
    branch must be PDF-only — its parquet scan carries the pushed
    magic equality alongside the size threshold, so a giant HTML page
    can never enter the %%PAGE shard machinery — and the reject branch
    stays metadata-width (magic-prefix classification) with HTML
    magics accepted."""
    from insurance_pdf_extractor_spark.plans.pipeline import extract_results
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    raw_dir = str(tmp_path / "rawi")
    render_documents_raw(docs, mix="interleaved").write.parquet(raw_dir)
    stored = spark.read.parquet(raw_dir)

    plan = _plan(spark, extract_results(stored))
    assert "BatchEvalPython" not in plan
    pushed = "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)
    # oversized branch: size threshold AND the PDF magic both pushed
    assert "GreaterThan(size_bytes" in pushed, pushed
    assert "EqualTo(magic," in pushed, pushed
    # reject branch: metadata-width scan (no content column)
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert [l for l in read_lines if "content" not in l], read_lines
    # and the interleaved corpus produces zero rejects end-to-end
    res = extract_results(stored)
    assert res.filter(res.status == "error").count() == 0


@pytest.mark.parametrize("mix", ["plain", "filters", "full", "html", "interleaved"])
def test_render_path_renders_once_per_branch(spark, mix):
    """render_udf is marked nondeterministic so filter pushdown cannot
    duplicate it — the plan historically evaluated the render kernel
    TWICE per union branch (6 corpus renders). Every mix runs the same
    UDF."""
    from insurance_pdf_extractor_spark.plans.pipeline import extract_results
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(spark, extract_results(render_documents_raw(docs, mix=mix)))
    renders = plan.count("render_udf")
    # one logical reference per branch (small / oversized / reject);
    # the formatted plan mentions each ArrowEvalPython node once
    assert 1 <= renders <= 3, f"render duplicated by pushdown: {renders} references"


def test_unknown_render_mix_raises(spark):
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown mix"):
        render_documents_raw(docs, mix="encoded")


def test_analytics_stay_in_whole_stage_codegen(spark, registry):
    """A1/A2: grouped aggregation over expressions must compile to
    WholeStageCodegen spans with partial (map-side) aggregation."""
    # un-executed AdaptiveSparkPlan hides codegen ids (they appear as
    # stages run); explain the non-adaptive plan for this assertion
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("stats_by_group", "overall_stats"):
            plan = _plan(spark, registry[name](spark, SF_DIR))
            # formatted mode marks codegen'd operators [codegen id : N]
            assert "codegen id" in plan, f"{name}: no whole-stage-codegen span"
            # partial_ agg functions = map-side combine before the shuffle
            assert "partial_" in plan, f"{name}: no map-side partial aggregation"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_vocab_topk_plan_shape(spark, registry):
    """Vocabulary build must be ONE word shuffle with map-side partial
    aggregation and a TakeOrderedAndProject top-k — a global Sort or a
    missing partial_count would be the scale regression."""
    plan = _plan(spark, registry["vocab_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan  # map-side combine before the word exchange
    # the doc-frequency count-distinct must ride pre-aggregated (word, doc_id)
    assert "count(distinct doc_id" in plan


def test_tfidf_plan_shape(spark, registry):
    """TF-IDF top-n must run the per-doc window with WindowGroupLimit
    (Spark's top-k pushdown: per-partition group limits BEFORE the doc
    shuffle) and broadcast the 1-row n_docs — a corpus-global window or
    a shuffled cartesian would not survive scale."""
    plan = _plan(spark, registry["tfidf_top_terms"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "windowspecdefinition(doc_id" in plan  # partitioned BY DOCUMENT
    assert "CartesianProduct" not in plan


def test_incremental_dedup_plan_shape(spark, registry):
    """The exact confirm must be a LeftAnti join and the flagged frame
    must sit behind a checkpoint boundary (materialized ONCE — without
    it both union branches re-run the groupBy finalization and the
    bloom probe per action). The probe's Arrow-ness is asserted on the
    pre-checkpoint fragment, which the checkpointed plan hides."""
    plan = _plan(spark, registry["incremental_dedup"](spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # the checkpoint boundary

    from pyspark.sql import functions as F

    from insurance_pdf_extractor_spark.operators import dedup

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    keys = d.select(F.xxhash64("text").alias("k"))
    bm = dedup.bloom_bitmaps(keys, "k", n_bits=1 << 10, n_hashes=3, n_shards=1)
    probe = dedup.bloom_contains_udf(keys, bm, n_hashes=3)
    probe_plan = _plan(spark, keys.withColumn("hit", probe(F.col("k"))))
    assert "ArrowEvalPython" in probe_plan
    assert "BatchEvalPython" not in probe_plan


def test_asof_bucketed_plan_shape(spark):
    """The hot-key as-of variant's scale shape (r5): the running-latest
    window exchanges on (key, bucket) — NOT key alone, that's the whole
    defusal — and the cross-bucket seed aggregate combines map-side
    (partial_max_by before its exchange). The only key-only exchange
    left is the seed carry window over the per-key bucket LIST, whose
    row count is #distinct (key, bucket), bounded by time span / width,
    not by data rows."""
    import datetime as dt

    from insurance_pdf_extractor_spark.operators.asof import asof_join_bucketed

    probe = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1, 9, 0, 0))],
        "probe_id long, k long, ts timestamp",
    )
    build = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 8, 0, 0), 10, 1.0)],
        "k long, bts timestamp, pay_id long, pay_val double",
    )
    df = asof_join_bucketed(
        probe, build, on="k", probe_ts="ts", build_ts="bts",
        payload_cols=["pay_id", "pay_val"], tiebreak="pay_id",
        bucket_width="1 hour",
    )
    plan = _plan(spark, df)
    lines = plan.splitlines()
    part_lines = [l for l in lines if "hashpartitioning" in l]
    # the data-row exchanges carry (key, bucket)
    assert any("_k" in l and "_bkt" in l for l in part_lines)
    # map-side combine of the per-bucket latest-build aggregate
    assert "partial_max_by" in plan
    # no data-row window partitions on the bare key: every key-only
    # exchange must feed the bucket-LIST seed window, which sits on the
    # deduplicated (key, bucket) frame, not on raw rows
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_container_kernels_are_map_only(spark):
    """Container metadata + MP4 frame sampling must ride the scan: one
    Arrow MapInPandas stage, ZERO exchanges (r5). A shuffle appearing
    here would mean the metadata pass — the cheap gate in front of full
    media decode at 100 TB — started paying network for per-row work."""
    from insurance_pdf_extractor_spark.operators.containers import (
        extract_container_metadata,
        sample_frames_mp4,
        synth_container_assets,
    )

    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    assets = synth_container_assets(docs, "mp4")
    for df in (extract_container_metadata(assets), sample_frames_mp4(assets)):
        plan = _plan(spark, df)
        assert "MapInPandas" in plan
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan
