"""Results-table analytics parity: each Spark analytics op vs a DuckDB
run of the reference's literal SQL over the same rows."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from insurance_pdf_extractor_spark import corpus as C
from insurance_pdf_extractor_spark.operators import analytics as A
from insurance_pdf_extractor_spark.plans.pipeline import build_results, extract_documents


@pytest.fixture(scope="module")
def results_df(spark, corpus_docs, shuffle_partitions):
    raw = C.to_raw_df(spark, corpus_docs)
    with shuffle_partitions(4):
        docs, _ = extract_documents(raw)
    res = build_results(docs)
    # deterministic created_at spread over 60 days for time-window ops
    res = res.withColumn(
        "created_at",
        F.expr("timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0, pmod(xxhash64(doc_id), 5184000))"),
    )
    return res.cache()


@pytest.fixture(scope="module")
def duck(results_df):
    pdf = results_df.select(
        "doc_id", "status", "model_used", "input_tokens", "output_tokens",
        "total_tokens", "estimated_cost", "created_at",
    ).toPandas()
    con = duckdb.connect()
    con.register("extractions", pdf)
    return con


def test_token_usage_overview(results_df, duck):
    got = A.token_usage_overview(results_df).first().asDict()
    exp = duck.execute(
        """
        SELECT COUNT(*) AS total_extractions_with_tokens,
               SUM(input_tokens) AS total_input_tokens,
               SUM(output_tokens) AS total_output_tokens,
               SUM(total_tokens) AS total_tokens_used,
               SUM(estimated_cost) AS total_estimated_cost,
               AVG(estimated_cost) AS avg_cost_per_extraction,
               MIN(estimated_cost) AS min_cost,
               MAX(estimated_cost) AS max_cost
        FROM extractions WHERE input_tokens IS NOT NULL
        """
    ).fetchdf().iloc[0]
    assert got["total_extractions_with_tokens"] == exp["total_extractions_with_tokens"]
    assert got["total_input_tokens"] == exp["total_input_tokens"]
    assert got["total_estimated_cost"] == pytest.approx(exp["total_estimated_cost"])
    assert got["avg_cost_per_extraction"] == pytest.approx(exp["avg_cost_per_extraction"])


def test_status_breakdown(results_df, duck):
    got = {r["status"]: (r["count"], r["percentage"]) for r in A.status_breakdown(results_df).collect()}
    exp = duck.execute(
        """
        SELECT status, COUNT(*) AS count,
               ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM extractions), 2) AS percentage
        FROM extractions GROUP BY status
        """
    ).fetchall()
    for status, count, pct in exp:
        assert got[status][0] == count
        assert got[status][1] == pytest.approx(pct, abs=0.011)


def test_most_expensive(results_df, duck):
    got = [r["doc_id"] for r in A.most_expensive(results_df, 10).collect()]
    exp = [
        r[0]
        for r in duck.execute(
            """
            SELECT doc_id FROM extractions WHERE estimated_cost IS NOT NULL
            ORDER BY estimated_cost DESC, doc_id ASC LIMIT 10
            """
        ).fetchall()
    ]
    assert got == exp


def test_daily_trends_window(results_df, duck):
    from datetime import datetime

    now = datetime(2024, 5, 1)
    got = {str(r["date"]): r["extraction_count"] for r in A.daily_cost_trends(results_df, now, 30).collect()}
    exp = dict(
        duck.execute(
            """
            SELECT CAST(created_at AS DATE) AS date, COUNT(*)
            FROM extractions
            WHERE input_tokens IS NOT NULL
              AND created_at >= TIMESTAMP '2024-05-01' - INTERVAL 30 DAY
            GROUP BY 1
            """
        ).fetchall()
    )
    assert got == {str(k): v for k, v in exp.items()}


def test_unpivot_and_field_success(results_df):
    long = A.unpivot_fields(results_df)
    n_results = results_df.count()
    assert long.count() == n_results * 18
    rates = {r["field_name"]: r for r in A.field_success_rates(long).collect()}
    assert set(rates) == set(
        __import__("insurance_pdf_extractor_spark.constants", fromlist=["FIELD_NAMES"]).FIELD_NAMES
    )
    # quote_number is present on nearly all valid docs → high rate
    assert rates["quote_number"]["success_rate"] > 50
    for r in rates.values():
        assert r["total_occurrences"] == n_results
        assert 0 <= r["success_rate"] <= 100


def test_search_extractions_dynamic_filters(results_df):
    all_rows = A.search_extractions(results_df, limit=10**6).count()
    assert all_rows == results_df.count()
    some = A.search_extractions(results_df, status="success", limit=10**6)
    assert some.count() == results_df.filter(F.col("status") == "success").count()
    pat = A.search_extractions(results_df, filename_pattern="doc-7-000000", limit=10**6)
    assert pat.count() > 0


def test_join_run_metrics(spark, results_df):
    metrics = results_df.select("doc_id").withColumn("wall_ms", F.lit(5))
    joined = A.join_run_metrics(results_df, metrics)
    assert joined.count() == results_df.count()
    assert "wall_ms" in joined.columns


def test_cleanup_old_records(results_df):
    from datetime import datetime

    cutoff = datetime(2024, 3, 25)
    kept, deleted = A.cleanup_old_records(results_df, cutoff)
    assert kept.count() + deleted == results_df.count()
    assert deleted > 0


def test_trend_classification(results_df):
    from datetime import datetime

    daily = A.daily_cost_trends(results_df, datetime(2024, 6, 1), 90)
    out = A.trend_classification(daily)
    labels = {r["trend"] for r in out.collect()}
    assert labels <= {"increasing", "decreasing", "stable"}
    assert out.count() == daily.count()


def test_cost_prediction(results_df, duck):
    got = A.cost_prediction(results_df, 100).first()
    avg = duck.execute(
        "SELECT AVG(estimated_cost) FROM extractions WHERE estimated_cost IS NOT NULL"
    ).fetchone()[0]
    assert got["predicted_cost"] == pytest.approx(round(avg * 100, 6))
    assert got["low_estimate"] == pytest.approx(round(avg * 100 * 0.8, 6))
