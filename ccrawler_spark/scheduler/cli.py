"""CLI runner: bootstrap + N scheduling rounds over a fixture dir.

    python -m ccrawler_spark.scheduler.cli --size tiny --rounds 3 \
        --out /tmp/crawl --cores 8

Prints one JSON line per round (fetched/denied/enqueued/queued counts)
and a final summary. ``--resume`` continues from the latest committed
snapshot in --out instead of bootstrapping (E3, SEMANTICS.md §6).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_session(cores: int, shuffle_partitions: int | None = None,
                  driver_mem: str = "16g"):
    import os
    import pathlib

    from pyspark.sql import SparkSession

    # workers must import ccrawler_spark (UDFs); in a real cluster this is
    # `spark-submit --py-files ccrawler_spark.zip` (BASELINE.json north_rule)
    repo_root = str(pathlib.Path(__file__).resolve().parents[2])
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{existing}" if existing else repo_root

    # one BLAS thread per Python worker: N workers × M BLAS threads
    # oversubscribes the box quadratically (32×32 threads thrash); the
    # codec matrices are 8×8 — single-threaded BLAS is optimal
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    # shuffle spill on tmpfs: local[N] shares ONE disk across all task
    # slots, so shuffle IO is parallelism-independent there — a local-mode
    # artifact (real clusters add local disks with every executor). RAM
    # (125 GB) comfortably holds the ≤5 GB round shuffles.
    shm = pathlib.Path("/dev/shm/ccrawler-spark-local")
    shm.mkdir(exist_ok=True)

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("ccrawler-spark")
        .config("spark.local.dir", str(shm))
        .config("spark.ui.enabled", "false")
        # fixed partition count across parallelism levels: the scaling
        # comparison (local[8] vs local[32]) must run the same plan;
        # 256 initial partitions balance skewed windows, AQE coalesces
        # the small ones back
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 256))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE re-coalesce consumers of cached plans: .cache()d frames
        # (dequeue head, round frontier) otherwise pin the full 256-
        # partition layout on every downstream stage — a tiny round was
        # measured at 6,411 executed tasks across 14×256-task stages,
        # pure scheduler dispatch (BENCH/dispatch_floor.json: ~178 ms/job
        # floor). With the knob on, 4 interleaved A/B pairs ran the same
        # round 1.4-1.9× faster at byte-identical fetch counts
        # (BENCH/aqe_cached_plan_ab.json); safe because nothing depends
        # on physical partitioning (no spark_partition_id anywhere;
        # sequence/ordering are value-based) and the full parity suite
        # runs under the knob (tests/conftest.py)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # finer task granularity: coarse scans/shuffle partitions leave
        # a 32-core box idle behind stragglers (one 400 MB scan task
        # holds a whole stage); 64 MB splits / 16 MB shuffle targets
        # expose enough tasks for the largest local[N] we bench
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .getOrCreate()
    )


def make_engine(spark, fixture_dir: str, out_dir: str, conf=None,
                size: str = "tiny", corpus_layout: str | None = None):
    from ccrawler_spark import conf as confmod
    from ccrawler_spark.io.snapshot import SnapshotStore
    from ccrawler_spark.scheduler.engine import CrawlEngine

    if conf is None:
        conf = {"tiny": confmod.TINY, "small": confmod.SMALL, "bench": confmod.BENCH}[size]
    store = SnapshotStore(spark, out_dir, conf)
    corpus = spark.read.parquet(f"{fixture_dir}/corpus.parquet")
    hosts = spark.read.parquet(f"{fixture_dir}/hosts.parquet")
    robots = spark.read.parquet(f"{fixture_dir}/robots.parquet")
    return CrawlEngine(spark, store, corpus, hosts, robots, conf,
                       corpus_layout=corpus_layout), store


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--size", default="tiny", choices=["tiny", "small", "bench"])
    ap.add_argument("--rounds", type=int, default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--fixture-dir", default=None)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args(argv)

    from ccrawler_spark.fixtures.gen import SIZES, ensure_fixtures

    rounds = args.rounds if args.rounds is not None else SIZES[args.size][3]
    fdir = args.fixture_dir or str(ensure_fixtures(args.size))

    spark = build_session(args.cores)
    engine, store = make_engine(spark, fdir, args.out, size=args.size)
    t0 = time.time()
    if args.resume:
        start = store.latest()
        if start is None:
            print("nothing to resume from", file=sys.stderr)
            return 2
    else:
        seeds = spark.read.parquet(f"{fdir}/seeds.parquet")
        st = engine.bootstrap(seeds)
        print(json.dumps({"round": 0, "queued": st.queued_after}))
        start = 0
    total_fetched = 0
    for r in range(start + 1, rounds + 1):
        st = engine.run_round(r)
        total_fetched += st.fetched
        print(json.dumps({
            "round": r, "fetched": st.fetched, "denied": st.denied,
            "enqueued": st.enqueued, "queued_after": st.queued_after,
        }))
    wall = time.time() - t0
    m = store.read_manifest(store.latest())
    print(json.dumps({
        "rounds": rounds, "wall_s": round(wall, 2),
        "fetched_total": m["counters"]["fetched_total"],
        "urls_per_sec": round(m["counters"]["fetched_total"] / wall, 1),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
