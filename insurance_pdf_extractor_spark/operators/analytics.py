"""Analytics over the extraction results table — the Spark
re-expression of every SQLite analytics query the reference serves
(app/services/storage.py:368-584, app/api/routes/analytics.py).

These run on the ``results`` table produced by plans/pipeline.py
``build_results`` (native nested types instead of the reference's
JSON-string blobs). All shapes are builtin Catalyst ops: partial+final
hash aggregation, TakeOrderedAndProject for top-k, window for
pct-of-total / moving averages, broadcast join for the metrics lookup.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import EMPTY_VALUE, FIELD_NAMES


def token_usage_overview(results: DataFrame) -> DataFrame:
    """A1 — global multi-agg (app/services/storage.py:442-458)."""
    return results.filter(F.col("input_tokens").isNotNull()).agg(
        F.count("*").alias("total_extractions_with_tokens"),
        F.sum("input_tokens").alias("total_input_tokens"),
        F.sum("output_tokens").alias("total_output_tokens"),
        F.sum("total_tokens").alias("total_tokens_used"),
        F.sum("estimated_cost").alias("total_estimated_cost"),
        F.avg("estimated_cost").alias("avg_cost_per_extraction"),
        F.min("estimated_cost").alias("min_cost"),
        F.max("estimated_cost").alias("max_cost"),
    )


def daily_cost_trends(results: DataFrame, now: datetime, days: int = 30) -> DataFrame:
    """A3 — daily agg over the trailing window
    (app/services/storage.py:482-497). ``now`` is explicit for
    deterministic tests (the reference uses datetime('now'))."""
    cutoff = F.lit(now) - F.expr(f"INTERVAL {days} DAYS")
    return (
        results.filter(F.col("input_tokens").isNotNull() & (F.col("created_at") >= cutoff))
        .groupBy(F.to_date("created_at").alias("date"))
        .agg(
            F.count("*").alias("extraction_count"),
            F.sum("estimated_cost").alias("daily_cost"),
            F.sum("total_tokens").alias("daily_tokens"),
        )
        .orderBy(F.desc("date"))
    )


def most_expensive(results: DataFrame, limit: int = 10) -> DataFrame:
    """O2 — top-N by cost (app/services/storage.py:499-512); Spark plans
    TakeOrderedAndProject (no full sort)."""
    return (
        results.filter(F.col("estimated_cost").isNotNull())
        .select("doc_id", "model_used", "estimated_cost", "input_tokens", "output_tokens", "created_at")
        .orderBy(F.desc("estimated_cost"), F.asc("doc_id"))
        .limit(limit)
    )


def status_breakdown(results: DataFrame) -> DataFrame:
    """A5 — count per status with pct of total
    (app/services/storage.py:533-549)."""
    counts = results.groupBy("status").count()
    total = F.sum("count").over(Window.partitionBy())
    return counts.select(
        "status",
        F.col("count").alias("count"),
        F.round(F.col("count") * 100.0 / total, 2).alias("percentage"),
    )


def unpivot_fields(results: DataFrame) -> DataFrame:
    """S7 — wide record → narrow (extraction_id, field_name,
    field_value, confidence_score, is_failed) rows
    (app/services/storage.py:79-92,278-298)."""
    pairs = []
    for f in FIELD_NAMES:
        col = F.col(f"extracted_data.{f}")
        if f == "issuing_carrier":
            col = F.array_join(col, "; ")
        pairs.extend([F.lit(f), col.cast("string")])
    stacked = results.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        pairs[i].alias("field_name"),
                        pairs[i + 1].alias("field_value"),
                    )
                    for i in range(0, len(pairs), 2)
                ]
            )
        ).alias("kv"),
        F.col("confidence_scores"),
        F.col("failed_fields"),
    )
    return stacked.select(
        "doc_id",
        F.col("kv.field_name").alias("field_name"),
        F.col("kv.field_value").alias("field_value"),
        F.element_at(F.col("confidence_scores"), F.col("kv.field_name")).alias("confidence_score"),
        F.array_contains(F.coalesce("failed_fields", F.array().cast("array<string>")), F.col("kv.field_name")).alias(
            "is_failed"
        ),
    )


def field_success_rates(fields_long: DataFrame) -> DataFrame:
    """A4 — conditional agg with the EMPTY VALUE sentinel predicate
    (app/services/storage.py:552-570)."""
    ok = F.when(
        (~F.col("is_failed"))
        & F.col("field_value").isNotNull()
        & (F.col("field_value") != EMPTY_VALUE),
        1,
    ).otherwise(0)
    return (
        fields_long.groupBy("field_name")
        .agg(
            F.count("*").alias("total_occurrences"),
            F.sum(ok).alias("successful"),
            F.round(F.sum(ok) * 100.0 / F.count("*"), 2).alias("success_rate"),
        )
        .orderBy(F.desc("success_rate"))
    )


def search_extractions(
    results: DataFrame,
    filename_pattern: str | None = None,
    status: str | None = None,
    model_used: str | None = None,
    start_date=None,
    end_date=None,
    limit: int = 100,
) -> DataFrame:
    """P4 + O1 — dynamic AND-composed predicates, recent-first
    (app/services/storage.py:388-433). Catalyst pushes every filter to
    the scan."""
    df = results
    if filename_pattern:
        df = df.filter(F.col("doc_id").contains(filename_pattern))
    if status:
        df = df.filter(F.col("status") == status)
    if model_used:
        df = df.filter(F.col("model_used") == model_used)
    if start_date is not None:
        df = df.filter(F.col("created_at") >= F.lit(start_date))
    if end_date is not None:
        df = df.filter(F.col("created_at") <= F.lit(end_date))
    return df.orderBy(F.desc("created_at"), F.desc("doc_id")).limit(limit)


def join_run_metrics(results: DataFrame, run_metrics: DataFrame) -> DataFrame:
    """J1 — extraction + its metrics child row via broadcast hash join
    (app/services/storage.py:308-344)."""
    return results.join(F.broadcast(run_metrics), "doc_id", "left")


def cleanup_old_records(results: DataFrame, cutoff) -> tuple[DataFrame, int]:
    """Retention delete (app/services/storage.py:601-639) re-expressed
    as keep-filter + deleted count; with Iceberg this becomes
    DELETE FROM ... WHERE created_at < cutoff."""
    kept = results.filter(F.col("created_at") >= F.lit(cutoff))
    deleted = results.filter(F.col("created_at") < F.lit(cutoff)).count()
    return kept, deleted


def trend_classification(daily: DataFrame) -> DataFrame:
    """A7 — 7-day moving average + increasing/decreasing/stable labels
    (app/api/routes/analytics.py:129-148,362-378): ±10% of the previous
    week's average."""
    w7 = Window.orderBy("date").rowsBetween(-6, 0)
    prev7 = Window.orderBy("date").rowsBetween(-13, -7)
    cur = F.avg("daily_cost").over(w7)
    prev = F.avg("daily_cost").over(prev7)
    return daily.select(
        "date",
        "daily_cost",
        F.round(cur, 6).alias("ma7"),
        F.when(prev.isNull(), "stable")
        .when(cur > prev * 1.1, "increasing")
        .when(cur < prev * 0.9, "decreasing")
        .otherwise("stable")
        .alias("trend"),
    )


def cost_prediction(results: DataFrame, planned_extractions: int) -> DataFrame:
    """A8 — planned × avg cost with ±20% band
    (app/api/routes/analytics.py:209-265)."""
    return results.filter(F.col("estimated_cost").isNotNull()).agg(
        F.round(F.avg("estimated_cost") * planned_extractions, 6).alias("predicted_cost"),
        F.round(F.avg("estimated_cost") * planned_extractions * 0.8, 6).alias("low_estimate"),
        F.round(F.avg("estimated_cost") * planned_extractions * 1.2, 6).alias("high_estimate"),
    )
