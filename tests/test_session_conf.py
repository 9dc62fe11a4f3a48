"""Pin the perf-critical session configs set by build_session.

Two of these are measured-performance load-bearing and would fail
silently if dropped in a refactor:

- ``canChangeCachedPlanOutputPartitioning`` — the round-7 cached-plan
  AQE knob (1.4-1.9x crawl_round, BENCH/aqe_cached_plan_ab.json);
  without it cached frames pin 256-partition layouts on every
  consumer stage.
- ``spark.sql.shuffle.partitions`` — the scaling comparison requires
  the same initial plan at every parallelism level.

``parquet.pushdown.inFilterThreshold`` is pinned at Spark's default:
the fetch path pushes no IN lists (the layout is read through the
set-membership arrow scan or bucket pruning only), so the session
has no reason to raise it.

``build_session`` ends in ``getOrCreate``, so asserting through the
suite's shared session would test conftest, not the builder — a fresh
subprocess is the only honest probe (slow: one JVM start, ~10 s).
"""

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_PROBE = """
import json
from ccrawler_spark.scheduler.cli import build_session
s = build_session(2)
keys = [
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.parquet.pushdown.inFilterThreshold",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.files.maxPartitionBytes",
]
print("CONF=" + json.dumps({k: s.conf.get(k) for k in keys}))
s.stop()
"""


def test_build_session_pins_perf_critical_configs():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=REPO, capture_output=True,
        text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("CONF=")]
    assert line, out.stdout[-2000:]
    conf = json.loads(line[0][len("CONF="):])
    assert conf["spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"] == "true"
    assert conf["spark.sql.parquet.pushdown.inFilterThreshold"] == "10"
    assert conf["spark.sql.shuffle.partitions"] == "256"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.files.maxPartitionBytes"] == "33554432"
