"""Measure the fetch-path corpus layout (io/corpus_layout) against the
flat corpus at bench scale (10^7-row corpus), in both scheduling
regimes, plus the row-group-touch histogram VERDICT r3 asked for.
Each regime reads the layout the way the engine does
(engine._corpus_side): the host-scoped arrow scan for a schedule of at
most ARROW_PUSHDOWN_CAP rows, bucket pruning only above it.

- **sparse** (the design-scale shape: frontier ≫ fetch batch, a round
  touches a small fraction of the host universe): ~1% of hosts
  scheduled at per_host_k=200. The layout prunes to the scheduled
  hosts' row groups; the flat corpus must scan everything.
- **dense** (the sandbox bench conf: per_host_k=200 over ALL hosts,
  ~20% of the corpus fetched per round): every bucket and essentially
  every row group is touched — the histogram quantifies that, which is
  the measured irreducibility proof for the dense regime.

    python bench/bench_fetch_layout.py [--cores 32]

Writes BENCH/fetch_layout.json and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def scheduled_for_hosts(spark, fdir: str, step: int, k: int):
    """Schedule the first k pages of every step-th host (deterministic,
    mixes Zipf head and tail)."""
    from pyspark.sql import functions as F

    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.spark_exprs import (
        host_bucket, image_id_of,
    )

    urls = universe_urls_df(spark, fdir)
    picked = urls.withColumn(
        "_hidx",
        F.regexp_extract("host", r"^h(\d+)\.", 1).cast("int"),
    ).withColumn(
        "_page", F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    ).filter(
        (F.lit(step == 1) | (F.col("_hidx") % step == 3))
        & (F.col("_page") < k)
    )
    return picked.select(
        "url", "host",
        host_bucket(F.col("host"), 64).alias("host_bucket"),
        image_id_of(F.col("url")).alias("image_id"),
    )


def rowgroup_histogram(layout: str, buckets: set[int],
                       host_ids: dict[str, set[str]] | None = None):
    """(touched, total) row groups the pruned scan would read — the
    metadata-level skipping bound. Without ``host_ids`` (bucket-only
    pruning) every group of the scheduled buckets is touched. With
    ``host_ids`` the admission is HOST-SCOPED: a group is touched only
    if some scheduled host key in its key range has one of ITS OWN ids
    in the group's id range — mirroring arrow_scan's admits_scoped
    exactly. The layout clusters on the bucket-prefixed NUMERIC
    host_key (io/corpus_layout.CLUSTER_KEYS). The bucket count comes
    from the layout's own metadata sidecar, not a hard-coded constant —
    a layout written with different bucketing would otherwise silently
    produce a bogus histogram (ADVICE r5)."""
    import bisect

    import pyarrow.parquet as pq

    from ccrawler_spark.io.corpus_layout import host_key_py, read_layout_meta

    b = int(read_layout_meta(layout)["buckets"])

    def _admits(srt, lo_v, hi_v):
        lo = bisect.bisect_left(srt, lo_v)
        return lo < len(srt) and srt[lo] <= hi_v

    by_key: dict[int, list] = {}
    for h, v in (host_ids or {}).items():
        by_key.setdefault(host_key_py(h, b), []).extend(v)
    by_key = {k: sorted(v) for k, v in by_key.items()}
    keys = sorted(by_key)
    total = touched = 0
    for pf in pathlib.Path(layout).glob("host_bucket=*/*.parquet"):
        md = pq.ParquetFile(pf).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        in_bucket = int(pf.parent.name.split("=", 1)[1]) in buckets
        for rg in range(md.num_row_groups):
            total += 1
            if not in_bucket:
                continue
            if host_ids is None:
                touched += 1
                continue
            st = md.row_group(rg).column(cols["host_key"]).statistics
            sti = md.row_group(rg).column(cols["image_id"]).statistics
            lo = bisect.bisect_left(keys, st.min)
            hi = bisect.bisect_right(keys, st.max, lo)
            if any(_admits(by_key[k], sti.min, sti.max) for k in keys[lo:hi]):
                touched += 1
    return touched, total


def time_fetch(spark, scheduled, corpus, reps: int = 2) -> list[float]:
    from ccrawler_spark.scheduler.fetch import fetch_and_decode

    walls = []
    for _ in range(reps):
        t0 = time.time()
        fetch_and_decode(scheduled, corpus).count()
        walls.append(round(time.time() - t0, 2))
    return walls


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from ccrawler_spark.fixtures.gen import (
        ensure_bench_fixtures, ensure_corpus_layout,
    )
    from ccrawler_spark.io.arrow_scan import (
        ARROW_PUSHDOWN_CAP, pruned_corpus_arrow,
    )
    from ccrawler_spark.io.corpus_layout import pruned_corpus
    from ccrawler_spark.scheduler.cli import build_session

    # 48g: the one-time layout job shuffles the full 13 GB payload
    # column once (real warehouses run this as a normal batch job with
    # executor memory to match; the 16g engine default is sized for
    # per-round work, which never shuffles payloads)
    spark = build_session(args.cores, driver_mem="48g")
    fdir = str(ensure_bench_fixtures(spark))
    t0 = time.time()
    layout = str(ensure_corpus_layout(spark, fdir))
    layout_build_s = round(time.time() - t0, 1)
    flat = spark.read.parquet(f"{fdir}/corpus.parquet")

    out = {"cores": args.cores, "layout_build_s": layout_build_s}
    for regime, step in (("sparse", 100), ("dense", 1)):
        sched = scheduled_for_hosts(spark, fdir, step=step, k=200).cache()
        n = sched.count()
        buckets = {
            r["host_bucket"]
            for r in sched.select("host_bucket").distinct().collect()
        }
        # the engine's plan for this schedule size (engine._corpus_side)
        h_ids = None
        if n <= ARROW_PUSHDOWN_CAP:
            h_ids = {}
            for r in sched.select("host", "image_id").collect():
                h_ids.setdefault(r["host"], set()).add(r["image_id"])
            pruned = pruned_corpus_arrow(spark, layout, host_ids=h_ids)
        else:
            pruned = pruned_corpus(spark, layout, buckets=sorted(buckets))
        flat_walls = time_fetch(spark, sched, flat)
        layout_walls = time_fetch(spark, sched, pruned)
        touched, total = rowgroup_histogram(layout, buckets, h_ids)
        out[regime] = {
            "scheduled_rows": n,
            "scheduled_hosts": sched.select("host").distinct().count(),
            "buckets": len(buckets),
            "path": "arrow" if h_ids is not None else "buckets",
            "flat_wall_s": flat_walls,
            "layout_wall_s": layout_walls,
            "speedup_warm": round(flat_walls[-1] / layout_walls[-1], 2),
            "rowgroups_touched": touched,
            "rowgroups_total": total,
            "rowgroup_touch_frac": round(touched / total, 4),
        }
        sched.unpersist()
    (REPO / "BENCH").mkdir(exist_ok=True)
    with open(REPO / "BENCH" / "fetch_layout.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
