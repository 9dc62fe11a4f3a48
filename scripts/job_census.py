"""Per-job census of one tiny crawl round (round 8 evidence for the
job-count work in OPTIMIZATION_r08.md): run bootstrap + round 1 with
the event log enabled, then print every Spark job with submit time,
duration, task count, and its job description (store writes are
labeled via SnapshotStore.write_parquet).

    python scripts/job_census.py [cores]
"""

from __future__ import annotations

import glob
import json
import pathlib
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

EVENT_DIR = "/tmp/spark-events"


def build_logged_session(cores: int):
    """build_session's exact conf + event logging (kept out of
    cli.build_session: the bench must not pay event-log IO)."""
    import os

    from pyspark.sql import SparkSession

    repo_root = str(pathlib.Path(__file__).resolve().parents[1])
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}:{existing}" if existing else repo_root
        )
    shm = pathlib.Path("/dev/shm/ccrawler-spark-local")
    shm.mkdir(exist_ok=True)
    pathlib.Path(EVENT_DIR).mkdir(exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("job-census")
        .config("spark.local.dir", str(shm))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", EVENT_DIR)
        .getOrCreate()
    )


def main() -> int:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32

    from ccrawler_spark.fixtures.gen import (
        ensure_corpus_layout, ensure_fixtures,
    )
    from ccrawler_spark.scheduler.cli import make_engine

    spark = build_logged_session(cores)
    fdir = str(ensure_fixtures("tiny"))
    layout = str(ensure_corpus_layout(spark, fdir))
    seeds = spark.read.parquet(f"{fdir}/seeds.parquet")
    with tempfile.TemporaryDirectory() as out:
        engine, _ = make_engine(spark, fdir, out, size="tiny",
                                corpus_layout=layout)
        engine.bootstrap(seeds)
        t_round = time.time() * 1000
        t0 = time.time()
        engine.run_round(1)
        wall = time.time() - t0
    print(f"round wall: {wall:.2f}s")
    spark.stop()
    time.sleep(1)

    d = sorted(glob.glob(f"{EVENT_DIR}/eventlog_v2_*"))[-1]
    f = glob.glob(f"{d}/events_*")[0]
    if f.endswith(".zstd"):
        txt = subprocess.run(["zstd", "-dc", f],
                             capture_output=True).stdout.decode()
    else:
        txt = open(f).read()
    jobs: dict[int, dict] = {}
    for line in txt.splitlines():
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "t0": ev["Submission Time"],
                "ntasks": sum(s.get("Number of Tasks", 0)
                              for s in ev.get("Stage Infos", [])),
                "desc": (props.get("spark.job.description")
                         or props.get("callSite.short") or "")[:80],
            }
        elif ev.get("Event") == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["ms"] = (
                    ev["Completion Time"] - jobs[ev["Job ID"]]["t0"]
                )
    round1 = [(j, v) for j, v in sorted(jobs.items())
              if v["t0"] >= t_round - 100]
    print(f"jobs in round 1: {len(round1)}")
    base = round1[0][1]["t0"] if round1 else 0
    for jid, j in round1:
        print(f"  job {jid}: t+{(j['t0'] - base) / 1000:6.2f}s "
              f"{j.get('ms', '?'):>6} ms {j['ntasks']:>5}t  {j['desc']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
