"""The spark-submit session of jobs/extract.py keeps the submitted conf
and fills only the workload defaults it leaves unset."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_PROBE = """
import json, runpy
job = runpy.run_path("jobs/extract.py")
spark = job["build_cluster_session"]("conf-probe")
keys = ["spark.sql.execution.arrow.maxRecordsPerBatch", "spark.sql.session.timeZone",
        "spark.sql.autoBroadcastJoinThreshold"]
print(json.dumps({k: spark.conf.get(k) for k in keys}))
spark.stop()
"""


def test_cluster_session_keeps_submitted_conf():
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")}
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--master local[1] --conf spark.ui.enabled=false"
        " --conf spark.sql.execution.arrow.maxRecordsPerBatch=256"
        " --conf spark.sql.session.timeZone=America/New_York pyspark-shell"
    )
    run = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, env=env, capture_output=True, text=True, timeout=300
    )
    assert run.returncode == 0, run.stderr[-2000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])
    # submitted values survive
    assert got["spark.sql.execution.arrow.maxRecordsPerBatch"] == "256"
    assert got["spark.sql.session.timeZone"] == "America/New_York"
    # an unset workload default is filled
    assert got["spark.sql.autoBroadcastJoinThreshold"] == str(64 * 1024 * 1024)
