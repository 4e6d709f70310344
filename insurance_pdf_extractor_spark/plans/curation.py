"""End-to-end corpus curation plan: the composition a training-data
team actually runs, built from the individually-gated operators.

    raw docs
      → quality gate   (token bounds, quality score, Gopher repetition)
      → PII redaction  (codegen'd regexp cascade)
      → exact dedup    (fingerprint groupBy, keep min id)
      → near-dup dedup (MinHash+LSH pairs → connected components →
                        keep each cluster's minimum id)
      → split + sample (salt-separated md5 decisions)
      → packing layout (fixed token-budget training chunks)

Every stage is the operator already proven by its own driver gate —
this module only owns the composition and the stage-count accounting.
All stages are lazy; `stage_counts` forces one count per stage and is
optional (skip it in production, read the counters off the Spark UI or
the lineage sink instead).

Scale shape: quality + PII + fingerprints + sampling are map-side;
the exact-dup groupBy shuffles (fp, id); MinHash shuffles slim band
keys; clustering shuffles (node, label) pairs bounded by the near-dup
graph; packing shuffles (bucket, okey, id, n_tokens). No stage ever
shuffles document text except the MinHash candidate verify (candidates
only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.pii import redact_pii_expr
from ..operators import dedup, text_quality as tq
from ..operators.packing import pack_documents
from ..operators.sampling import hash_sample_expr, hash_split_expr
from .checkpoint import completed_keys


def _token_counter(tokenizer: str, text_col: str):
    if tokenizer == "whitespace":
        return tq.token_count_expr(F.col(text_col))
    if tokenizer == "bpe":
        from ..operators.bpe import bpe_token_count_udf

        return bpe_token_count_udf()(F.col(text_col))
    raise ValueError(f"unknown tokenizer {tokenizer!r} (whitespace|bpe)")


# --- stage functions: each takes the PREVIOUS stage's frame, so the
# --- resumable runner can feed them materialized parquet instead of
# --- the live lineage (run_curate_job), while curate_corpus composes
# --- them lazily. Single source of truth for the funnel semantics.


def stage_quality(
    base: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    max_tokens: int = 100_000,
    min_quality: float = 0.2,
    max_dup_5gram_frac: float = 0.6,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Quality gate + PII redaction → (id, text, n_tokens)."""
    count_tokens = _token_counter(tokenizer, text_col)
    return (
        tq.repetition_stats(
            base.withColumn("n_tokens", count_tokens).withColumn(
                "quality", tq.quality_score_expr(F.col(text_col), F.length(text_col))
            )
        )
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("n_tokens") <= max_tokens)
            & (F.col("quality") >= min_quality)
            & (F.col("dup_5gram_frac") <= max_dup_5gram_frac)
        )
        .select(id_col, text_col, "n_tokens")
        .withColumn(text_col, redact_pii_expr(F.col(text_col)))
    )


def stage_exact_dedup(redacted: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    keepers = dedup.exact_dedup(redacted, text_col=text_col, id_col=id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return redacted.join(keepers, id_col, "left_semi")


def stage_near_dedup(
    exact: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.2,
) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        exact, min_jaccard=min_jaccard, id_col=id_col, text_col=text_col
    )
    clusters = dedup.dedup_clusters(pairs)
    # survivors: docs that are their own cluster minimum, plus docs in
    # no cluster at all (left anti on the drop set)
    drops = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return exact.join(drops, id_col, "left_anti")


def stage_survivors(
    near_deduped: DataFrame, id_col: str = "doc_id", sample_fraction: float = 1.0
) -> DataFrame:
    return near_deduped.filter(hash_sample_expr(F.col(id_col), sample_fraction)).withColumn(
        "split", hash_split_expr(F.col(id_col))
    )


def stage_packing(sampled: DataFrame, id_col: str = "doc_id", pack_budget: int = 512) -> DataFrame:
    return pack_documents(
        sampled.select(id_col, "n_tokens"),
        id_col=id_col,
        token_col="n_tokens",
        budget=pack_budget,
    )


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    max_tokens: int = 100_000,
    min_quality: float = 0.2,
    max_dup_5gram_frac: float = 0.6,
    min_jaccard: float = 0.2,
    sample_fraction: float = 1.0,
    pack_budget: int = 512,
    profile: bool = False,
    tokenizer: str = "whitespace",
) -> dict:
    """Returns {"survivors": DataFrame(id, text, split),
    "packing": DataFrame(id, n_tokens, start_offset, chunk_id, ...),
    "stages": [stage names in order]} — call :func:`stage_counts` for
    the per-stage funnel.

    ``profile=True`` adds corpus-profiling outputs {"vocab", "tfidf",
    "profile_tf"} over the survivors via
    :func:`..operators.text_quality.corpus_profile`: both aggregates
    share ONE persisted (doc, word, tf) frame, so the survivor text is
    scanned once — not once per profiling output (the standalone
    tfidf_top_terms pays a second scan for n_docs). The caller owns
    ``result["profile_tf"].unpersist()`` after materializing both.

    ``tokenizer`` picks the token counter the quality bounds and the
    packing budget run on: 'whitespace' (codegen'd column expr) or
    'bpe' (real merges-table encoder, operators/bpe.py — one Arrow
    kernel riding the same scan; use it when chunks must tile a real
    tokenizer's budget)."""
    base = docs.select(F.col(id_col), F.col(text_col))
    quality = stage_quality(
        base,
        id_col=id_col,
        text_col=text_col,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        min_quality=min_quality,
        max_dup_5gram_frac=max_dup_5gram_frac,
        tokenizer=tokenizer,
    )
    exact = stage_exact_dedup(quality, id_col=id_col, text_col=text_col)
    near_deduped = stage_near_dedup(
        exact, id_col=id_col, text_col=text_col, min_jaccard=min_jaccard
    )
    sampled = stage_survivors(near_deduped, id_col=id_col, sample_fraction=sample_fraction)
    packing = stage_packing(sampled, id_col=id_col, pack_budget=pack_budget)
    out: dict = {}
    if profile:
        prof = tq.corpus_profile(sampled, text_col=text_col, id_col=id_col)
        out.update(
            {"vocab": prof["vocab"], "tfidf": prof["tfidf"], "profile_tf": prof["tf"]}
        )
    return out | {
        "survivors": sampled.select(id_col, text_col, "n_tokens", "split"),
        "packing": packing,
        "_stages": {
            "raw": base,
            "quality": quality,
            "exact_dedup": exact,
            "near_dedup": near_deduped,
            "sampled": sampled,
        },
    }


def stage_counts(curated: dict) -> dict[str, int]:
    """Force the funnel: one count action per stage, in pipeline order."""
    return {name: df.count() for name, df in curated["_stages"].items()}


# ---------------------------------------------------------------------------
# Resumable curation runs — stage-granular checkpointing (north rule)
# ---------------------------------------------------------------------------
# The extract job resumes at PARTITION granularity (plans/checkpoint.py)
# because extraction is per-document. Curation cannot: exact and
# near-dup dedup compare documents ACROSS any partitioning, so the
# honest resume unit is the STAGE — each stage materializes its output
# parquet and appends one lineage row (run_id, stage, rows, wall) to
# the checkpoint table; a resumed run loads the last completed stage's
# parquet and recomputes only what's missing. Every stage is a pure
# deterministic function of its input frame (hash-based sampling, min-id
# dedup), so resumed output == uninterrupted output, which the
# kill-resume test asserts.

_CURATE_CKPT = "_curate_checkpoint"


def run_curate_job(
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    max_tokens: int = 100_000,
    min_quality: float = 0.2,
    max_dup_5gram_frac: float = 0.6,
    min_jaccard: float = 0.2,
    sample_fraction: float = 1.0,
    pack_budget: int = 512,
    tokenizer: str = "whitespace",
    profile: bool = False,
    _stop_after: str | None = None,
) -> dict:
    """One (possibly resumed) curation run: executes the funnel stage
    by stage, writing ``<out_dir>/<stage>`` parquet + a checkpoint row
    per completed stage; on re-run with the same ``run_id``, completed
    stages are LOADED, not recomputed. Returns
    {"stages_run": [...], "stages_skipped": [...]}.

    ``profile=True`` adds one more checkpointed stage after survivors:
    :func:`..operators.text_quality.corpus_profile` over the survivor
    text — vocab and TF-IDF artifacts written to
    ``<out_dir>/profile_vocab`` and ``<out_dir>/profile_tfidf`` off ONE
    shared (doc, word, tf) scan, not one scan per artifact.

    ``_stop_after`` is the kill-simulation test hook: the run 'dies'
    after checkpointing that stage.
    """
    import time

    spark = docs.sparkSession
    done = completed_keys(spark, f"{out_dir}/{_CURATE_CKPT}", run_id, "stage")
    ran: list[str] = []
    skipped: list[str] = []

    def materialize(stage: str, df: DataFrame) -> DataFrame:
        t0 = time.monotonic()
        path = f"{out_dir}/{stage}"
        df.write.mode("overwrite").parquet(path)
        out = spark.read.parquet(path)
        ck = spark.createDataFrame(
            [(run_id, stage, out.count(), int((time.monotonic() - t0) * 1000))],
            "run_id string, stage string, rows bigint, wall_ms bigint",
        )
        ck.write.mode("append").parquet(f"{out_dir}/{_CURATE_CKPT}")
        ran.append(stage)
        return out

    def load(stage: str) -> DataFrame:
        skipped.append(stage)
        return spark.read.parquet(f"{out_dir}/{stage}")

    def step(stage: str, compute):
        """compute is lazy (a thunk) so skipped stages build no plan."""
        return load(stage) if stage in done else materialize(stage, compute())

    base = docs.select(F.col(id_col), F.col(text_col))
    quality = step(
        "quality",
        lambda: stage_quality(
            base,
            id_col=id_col,
            text_col=text_col,
            min_tokens=min_tokens,
            max_tokens=max_tokens,
            min_quality=min_quality,
            max_dup_5gram_frac=max_dup_5gram_frac,
            tokenizer=tokenizer,
        ),
    )
    result = {"stages_run": ran, "stages_skipped": skipped}
    if _stop_after == "quality":
        return result
    exact = step("exact_dedup", lambda: stage_exact_dedup(quality, id_col, text_col))
    if _stop_after == "exact_dedup":
        return result
    near = step(
        "near_dedup", lambda: stage_near_dedup(exact, id_col, text_col, min_jaccard)
    )
    if _stop_after == "near_dedup":
        return result
    survivors = step(
        "survivors", lambda: stage_survivors(near, id_col, sample_fraction)
    )
    if _stop_after == "survivors":
        return result
    step("packing", lambda: stage_packing(survivors, id_col, pack_budget))
    if profile:
        if "profile" in done:
            skipped.append("profile")
        else:
            t0 = time.monotonic()
            prof = tq.corpus_profile(survivors, text_col=text_col, id_col=id_col)
            prof["vocab"].write.mode("overwrite").parquet(f"{out_dir}/profile_vocab")
            prof["tfidf"].write.mode("overwrite").parquet(f"{out_dir}/profile_tfidf")
            prof["tf"].unpersist()
            n_vocab = spark.read.parquet(f"{out_dir}/profile_vocab").count()
            spark.createDataFrame(
                [(run_id, "profile", n_vocab, int((time.monotonic() - t0) * 1000))],
                "run_id string, stage string, rows bigint, wall_ms bigint",
            ).write.mode("append").parquet(f"{out_dir}/{_CURATE_CKPT}")
            ran.append("profile")
    return result
