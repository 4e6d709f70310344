"""Extraction benchmark: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload quotes_pdf --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. Set-up starts a ``local[<nproc>]`` session
with ``build_session``, generates the workload's inputs from the seed,
writes them to parquet and runs the workload once to warm up. The
measured loop then submits one run at a time until ``--seconds`` have
passed. Every run's output is checked against an independent oracle.

The last line of standard output is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes stays under ``.perfbench/`` in the working
directory; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path.cwd()
STATE = ROOT / ".perfbench"
WORKLOADS = ("quotes_pdf", "mixed_formats", "oversized_tail", "checkpoint_job")
TRACE_SAMPLE = 300


def _isolate(work: Path) -> None:
    """Keep Spark's local dirs, the JVM's and Python's temp files inside
    the working directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path[:0] = [str(ROOT), str(ROOT / "tools"), str(Path(__file__).resolve().parent)]


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


class Session:
    """``build_session`` started on a helper thread, so the JVM boots
    while the main thread generates the inputs; ``close`` stops Spark
    and waits for the gateway JVM to exit."""

    def __init__(self):
        self._spark = None
        self._error: BaseException | None = None
        self._thread = threading.Thread(target=self._start, daemon=True)
        self._thread.start()

    def _start(self) -> None:
        t0 = time.perf_counter()
        try:
            from insurance_pdf_extractor_spark.session import build_session

            self._spark = build_session(master=f"local[{os.cpu_count()}]")
        except BaseException as exc:  # re-raised on the main thread by get()
            self._error = exc
            return
        log(f"session up in {time.perf_counter() - t0:.1f} s")

    def get(self):
        self._thread.join()
        if self._error is not None:
            raise self._error
        return self._spark

    def close(self) -> None:
        self._thread.join()
        spark = self._spark
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class Runner:
    """One workload run: read the stored input, run the program's public
    entry point with its defaults, leave the result on disk."""

    def __init__(self, workload: str, spark, src: Path, work: Path, run_id: str):
        self.workload, self.spark, self.src, self.work, self.run_id = (
            workload, spark, str(src), work, run_id,
        )

    def __call__(self, tag: str) -> str:
        out = str(self.work / f"out-{tag}")
        raw = self.spark.read.parquet(self.src)
        if self.workload == "checkpoint_job":
            from insurance_pdf_extractor_spark.plans.checkpoint import run_extract_job

            run_extract_job(raw, out_dir=out, run_id=self.run_id)
        else:
            from insurance_pdf_extractor_spark.plans.pipeline import extract_results

            extract_results(raw).write.mode("overwrite").parquet(out)
        return out


def _timed(acct, label, fn):
    acct.begin(label)
    t0 = time.perf_counter()
    result = fn()
    wall = time.perf_counter() - t0
    return wall, acct.end(), result


def _median_metrics(dicts: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def fields_metrics(spark, acct, src: str, n_docs: int, run_wall: float) -> dict:
    """``build_results`` alone over a persisted spans table, noop sink."""
    from insurance_pdf_extractor_spark.plans.pipeline import build_results, extract_documents

    docs, _ = extract_documents(spark.read.parquet(src))
    docs = docs.persist()
    try:
        docs.count()
        reps = [
            _timed(acct, "fields", lambda: build_results(docs).write.format("noop").mode("overwrite").save())
            for _ in range(2)
        ]
    finally:
        docs.unpersist(blocking=True)
    wall = statistics.median(r[0] for r in reps)
    return {
        "fields.project_s": wall,
        "fields.core_ms_per_doc": statistics.median(r[1].core_ms for r in reps) / n_docs,
        "fields.share_of_run": wall / run_wall,
    }


def checkpoint_metrics(spark, acct, runner: Runner, last_out: str, run_wall: float) -> dict:
    """Checkpoint overhead against the bare extraction on the same input,
    what the job wrote, and a resume over completed output."""
    from insurance_pdf_extractor_spark.plans.checkpoint import run_extract_job
    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents

    def bare():
        docs, rejects = extract_documents(spark.read.parquet(runner.src))
        docs.write.format("noop").mode("overwrite").save()
        rejects.write.format("noop").mode("overwrite").save()

    bare_wall = statistics.median(_timed(acct, "bare", bare)[0] for _ in range(2))
    files = [p for p in Path(last_out).rglob("*") if p.is_file()]
    resume_wall = _timed(
        acct, "resume",
        lambda: run_extract_job(spark.read.parquet(runner.src), out_dir=last_out, run_id=runner.run_id),
    )[0]
    overhead = run_wall - bare_wall
    return {
        "checkpoint.overhead_s": overhead,
        "checkpoint.share_of_run": overhead / run_wall,
        "checkpoint.written_mb": sum(p.stat().st_size for p in files) / 2**20,
        "checkpoint.files": float(sum(p.name.startswith("part-") for p in files)),
        "checkpoint.resume_s": resume_wall,
    }


def trace_sample(docs, seed: int):
    """Seeded kernel sample: documents that reach the fused kernel, plus
    (separately) the PDFs that take the shard path."""
    import random

    from workloads import SHARD_THRESHOLD

    fused = [d for d in docs if not d.reject and not (d.kind != "html" and len(d.content) > SHARD_THRESHOLD)]
    heavy = [d for d in fused if len(d.content) > 1 << 20]
    light = [d for d in fused if len(d.content) <= 1 << 20]
    sample = random.Random(seed).sample(light, min(TRACE_SAMPLE, len(light))) + heavy
    shard = [d for d in docs if not d.reject and d.kind != "html" and len(d.content) > SHARD_THRESHOLD]
    return sample, shard


PER_LAYER_ZERO = (
    "fields.project_s", "fields.core_ms_per_doc", "fields.share_of_run",
    "checkpoint.overhead_s", "checkpoint.share_of_run", "checkpoint.written_mb",
    "checkpoint.files", "checkpoint.resume_s",
)


def bench(args, work: Path) -> dict:
    t_setup = time.perf_counter()
    session = Session()  # the JVM boots while the inputs and the oracle are built
    try:
        from accounting import SparkAccounting
        import checks
        import tracer
        import workloads

        run_id = f"perfbench-{args.seed}"
        t0 = time.perf_counter()
        docs = workloads.generate(args.workload, args.seed)
        src = work / "input.parquet"
        workloads.write_parquet(docs, str(src))
        print("profile " + json.dumps(workloads.profile(docs)), flush=True)
        expect = checks.expectations(docs)
        log(f"inputs and oracle built in {time.perf_counter() - t0:.1f} s")
        spark = session.get()
        acct = SparkAccounting(spark)
        runner = Runner(args.workload, spark, src, work, run_id)
        t0 = time.perf_counter()
        runner("warmup")
        log(f"warm-up run in {time.perf_counter() - t0:.1f} s")
        setup_s = time.perf_counter() - t_setup
        log(f"setup {setup_s:.1f} s")

        runs = []
        t_loop = time.perf_counter()
        while not runs or time.perf_counter() - t_loop < args.seconds:
            tag = str(len(runs))
            runs.append(_timed(acct, tag, lambda: runner(tag)))
            log(f"run {tag}: {runs[-1][0]:.2f} s, {runs[-1][1].core_ms / 1e3:.1f} core-s")

        n = len(docs)
        run_wall = statistics.median(r[0] for r in runs)
        extra = {}
        if args.trace:
            if args.workload == "checkpoint_job":
                extra.update(checkpoint_metrics(spark, acct, runner, runs[-1][2], run_wall))
            else:
                extra.update(fields_metrics(spark, acct, runner.src, n, run_wall))
    finally:
        t0 = time.perf_counter()
        session.close()
        log(f"spark stopped in {time.perf_counter() - t0:.1f} s")

    t0 = time.perf_counter()
    ckpt = args.workload == "checkpoint_job"
    failed = 0
    first = None
    for _wall, _acct, out in runs:
        if ckpt:
            output = checks.read_checkpoint(out, runner.run_id)
            failed += checks.checkpoint_failures(expect, output)
        else:
            output = checks.read_results(out)
            failed += checks.results_failures(expect, output)
        first = first or output
    negatives = checks.negative_selftest(expect, first, ckpt)
    log(f"outputs checked in {time.perf_counter() - t0:.1f} s")
    attempted = n * len(runs)
    print(
        "check " + json.dumps(
            {"runs": len(runs), "failed_frac": failed / attempted, "negative_selftest": negatives}
        ),
        flush=True,
    )

    if not args.trace:
        metrics = {
            "docs_per_s": (n / run_wall, "docs/s"),
            "core_ms_per_doc": (statistics.median(r[1].core_ms for r in runs) / n, "ms"),
            "setup_s": (setup_s, "s"),
        }
    else:
        layer = _median_metrics([r[1].layer_metrics() for r in runs])
        layer.update(dict.fromkeys(PER_LAYER_ZERO, 0.0))
        layer.update(extra)
        sample, shard = trace_sample(docs, args.seed)
        kernel, tr = tracer.traced_pass(args.workload, sample, shard, expect)
        layer.update(kernel)
        traces = STATE / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tr.dump(str(traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
        metrics = {k: (v, _unit(k)) for k, v in layer.items()}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _unit(name: str) -> str:
    if name.endswith(("_mb",)):
        return "MiB"
    if name.endswith(("_ms", "ms_per_doc")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("jobs", "docs", "files", "poisoned")):
        return "count"
    if name.endswith("_per_doc"):
        return "count/doc"
    return "ratio"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="check the accounting reader and oracle")
    args = ap.parse_args(argv)
    if not args.self_test and args.workload is None:
        ap.error("--workload is required")

    work = STATE / f"run-{os.getpid()}"
    _isolate(work)
    try:
        if args.self_test:
            import selftest

            selftest.run(Session)
            return 0
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
