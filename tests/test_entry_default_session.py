"""Driver-gate hardening (VERDICT r1 #10): the driver owns the
SparkSession, so every queries() entry must be correct under a PLAIN
Spark 4 session — ANSI on, no kgpipe conf. A query whose arithmetic
overflows a long only under ANSI (one did in round 1) is exactly the
class of failure this file surfaces locally.

Runs in a subprocess: the kgpipe conftest session is process-global,
and this test needs a session built with none of its configs.
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .appName("default-session-gate")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.sql.ansi.enabled") == "true", "expected Spark 4 ANSI default"

import __spark_entry__ as entrymod

out = {}
for name, fn in entrymod.queries().items():
    try:
        out[name] = {"rows": fn(spark, "/root/testdata/sf0.001").count(), "err": None}
    except Exception as ex:
        out[name] = {"rows": None, "err": f"{type(ex).__name__}: {ex}"[:500]}
spark.stop()
print("GATE_JSON:" + json.dumps(out))
"""


def test_all_queries_run_under_default_ansi_session():
    res = subprocess.run(
        [sys.executable, "-c", _SCRIPT % {"repo": REPO}],
        capture_output=True, text=True, timeout=1200,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    line = next((l for l in res.stdout.splitlines() if l.startswith("GATE_JSON:")), None)
    assert line, f"gate subprocess failed:\n{res.stdout[-2000:]}\n{res.stderr[-2000:]}"
    results = json.loads(line[len("GATE_JSON:"):])
    failures = {k: v["err"] for k, v in results.items() if v["err"]}
    assert not failures, f"queries failing under default session: {failures}"
