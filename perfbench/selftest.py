"""Self-tests of the benchmark's own machinery (``run.py --self-test``):

1. the Spark accounting reader scopes stage and SQL data to one run:
   two back-to-back runs of known shape do not leak into each other;
2. the oracle counts a correct output as clean and notices one corrupted
   span, one wrong field and one dropped row;
3. the traced pass attributes the kernel from the same sample it times.
"""

from __future__ import annotations

import operator

import pandas as pd

import checks
import tracer
import workloads
from accounting import SparkAccounting, parse_metric_total


def check_accounting(spark) -> None:
    from pyspark.sql import functions as F

    acct = SparkAccounting(spark)
    sc = spark.sparkContext
    # run A: one RDD job, a 4-task map stage and a 3-task reduce stage
    acct.begin("a")
    sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(operator.add, 3).collect()
    a = acct.end()
    # run B: one Python UDF job over 2 partitions, noop sink
    def add_one(s: pd.Series) -> pd.Series:
        return s + 1

    plus_one = F.pandas_udf(add_one, "long")
    acct.begin("b")
    spark.range(0, 64, 1, 2).select(plus_one("id")).write.format("noop").mode("overwrite").save()
    b = acct.end()
    acct.begin("empty")
    c = acct.end()

    assert len(a.jobs) == 1 and len(b.jobs) >= 1, (a.jobs, b.jobs)
    assert not set(a.jobs) & set(b.jobs)
    a_ids = {s.stage_id for s in a.stages}
    b_ids = {s.stage_id for s in b.stages}
    assert not a_ids & b_ids and max(a_ids) < min(b_ids), (a_ids, b_ids)
    assert sum(s.num_tasks for s in a.stages) == 7, a.stages
    assert sum(s.num_tasks for s in b.stages if s.status == "COMPLETE") == 2, b.stages
    assert a.sql["arrow_in_mb"] == 0 and b.sql["arrow_in_mb"] > 0, (a.sql, b.sql)
    assert not c.jobs and not c.stages and not any(c.sql.values()), c
    assert parse_metric_total("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms)") == 1.5
    assert parse_metric_total("2.0 KiB") == 2 / 1024
    print("accounting: two back-to-back runs are disjoint", flush=True)


def _ideal_results(expect) -> list[dict]:
    return [
        {
            "doc_id": doc_id,
            "spans": e.spans,
            "status": e.status,
            "warnings": e.warnings,
            "fields": dict(e.fields or {}),
        }
        for doc_id, e in expect.items()
    ]


def _ideal_checkpoint(expect) -> dict:
    docs, rejects, counts = [], [], {}
    for doc_id, e in expect.items():
        b = checks.bucket_of(doc_id)
        n = counts.setdefault(b, [0, 0])
        n[e.reject is not None] += 1
        if e.reject is None:
            docs.append({"doc_id": doc_id, "spans": e.spans, "bucket": b})
        else:
            rejects.append({"doc_id": doc_id, "reject_reason": e.reject, "status": "error", "bucket": b})
    lineage = [
        {"partition_id": b, "docs_processed": p, "docs_rejected": r} for b, (p, r) in counts.items()
    ]
    return {"documents": docs, "rejects": rejects, "lineage": lineage}


def check_oracle() -> None:
    for name in ("quotes_pdf", "mixed_formats"):
        expect = checks.expectations(workloads.GENERATORS[name](3, 120))
        ideal = _ideal_results(expect)
        assert checks.results_failures(expect, ideal) == 0
        print(f"oracle {name}: {checks.negative_selftest(expect, ideal, False)}", flush=True)
    expect = checks.expectations(workloads.checkpoint_job(3, 300))
    ideal = _ideal_checkpoint(expect)
    assert checks.checkpoint_failures(expect, ideal) == 0
    print(f"oracle checkpoint_job: {checks.negative_selftest(expect, ideal, True)}", flush=True)


def check_tracer() -> None:
    docs = workloads.mixed_formats(3, 60)
    expect = checks.expectations(docs)
    metrics, tr = tracer.traced_pass("mixed_formats", docs, [], expect)
    assert metrics["kernel.unattributed_frac"] <= 0.15, metrics
    roots = [s["doc"] for s in tr.spans if s["name"] == "kernel"]
    assert roots == [d.doc_id for d in docs]
    print(
        f"tracer: unattributed {metrics['kernel.unattributed_frac']:.3f}, "
        f"overhead {metrics['kernel.trace_overhead_frac']:.3f}",
        flush=True,
    )


def run(session_factory) -> None:
    check_oracle()
    check_tracer()
    session = session_factory()
    try:
        check_accounting(session.get())
    finally:
        session.close()
    print("self-test passed", flush=True)
