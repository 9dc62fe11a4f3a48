"""Fetch-path corpus layout: bucket-partitioned, host/image_id-clustered
parquet so a scheduling round's fetch join stops scanning the whole
corpus payload column (the last O(corpus)-per-round structure at design
scale — VERDICT r3 #1).

The crawl corpus (BASELINE.json input_hint schema: image_id, bytes, w,
h, fmt, caption, phash) is keyed by ``image_id`` = sha256(url)[:16] —
pure hash, so a flat corpus has no locality whatsoever and every fetch
round's broadcast join must scan every row group of the multi-TB
``bytes`` column. But the *schedule* has structure: politeness bounds a
round to ≤ per_host_k fetches per host, so a round touches at most
K / per_host_k distinct hosts — at design scale (10^10-row corpus,
K ≪ corpus) a small fraction of the host universe. The layout makes
that structure physical:

- **partitioned by** ``host_bucket=`` (the crawler writes the corpus,
  so it knows the source host of every image) — the fetch join prunes
  to the buckets actually scheduled (free: the engine already has the
  scheduled per-bucket counts driver-side for lineage);
- **clustered** (sorted within files) **by (host_key, image_id)**
  where host_key is the bucket-prefixed numeric key (CLUSTER_KEYS
  comment) — parquet row-group min/max statistics on ``host_key``
  become tight disjoint ranges, so a scan restricted to the scheduled
  keys skips every row group of unscheduled hosts; within a big host's
  run the ``image_id`` stats are sorted ranges too, so the scheduled
  ids additionally skip cold id ranges;
- **small-ish row groups** (``row_group_bytes``) — the skipping
  granularity; at design scale with ~100 KB images the default 128 MB
  row group holds ~10^3 rows, which is already fine — the knob matters
  at sandbox scale where rows are ~400 B.

Writing the layout is a one-time (or periodic, post-compaction) Spark
job — exactly the kind of table-maintenance job an Iceberg warehouse
runs anyway (rewrite_data_files with a sort order). The engine reads
it one of two ways (engine._corpus_side): a schedule of at most
``io/arrow_scan.ARROW_PUSHDOWN_CAP`` rows goes through the host-scoped
set-membership scan ``io/arrow_scan.pruned_corpus_arrow``; a larger
one through :func:`pruned_corpus` with bucket partition pruning only.
Neither pushes a JVM ``IN`` list, whose ``Or`` tree overflows the JVM
stack at a few thousand values (docs/SCALING.md round 5 #2).

Dense-schedule regime (the bench conf fetches ~20% of the corpus per
round, touching every host): the filters select everything, parquet
keeps every row group, and the scan cost equals the flat layout's —
the pruning is never a regression. Measured numbers + the row-group
touch histogram live in docs/SCALING.md (finding 8, updated r4).
"""

from __future__ import annotations

import json
import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccrawler_spark.functions.spark_exprs import host_bucket

# layout metadata sidecar, written next to the parquet partitions. The
# leading underscore keeps every reader (Spark's parquet source, pyarrow
# datasets) from treating it as data. It pins the parameters the pruned
# read DEPENDS on: a reader filtering host_bucket with a different
# bucket count than the writer silently drops rows (ADVICE r4, medium),
# and a reader pushing host_key filters against a layout clustered on a
# different key gets no skipping (or a missing column).
META_FILE = "_layout_meta.json"
# cluster on a BUCKET-PREFIXED numeric host key, not the host string:
#   host_key = host_bucket << 57  |  (unsigned xxhash64(host) >> 7)
# Two measured r5 findings drove this:
# 1. String min/max stats interleave lexicographically ("h103.example"
#    sorts between "h10.example" and "h11.example") — useless ranges.
# 2. A plain numeric hash key is uniform over int64 in EVERY bucket, so
#    the pushed global host IN list cross-admits row groups of other
#    buckets: each small file spans the whole key range and some key in
#    the list lands in most groups' [min,max] (measured 28.6 % of
#    groups touched for a 100-host schedule whose rows live in far
#    fewer). Prefixing the bucket makes per-bucket key ranges DISJOINT:
#    a scheduled host's key can only admit groups of its own bucket.
# image_id needs no such treatment: fixed-width lowercase hex, so its
# lexicographic order IS its numeric order — within a host's sorted run
# the id stats are tight.
CLUSTER_KEYS = ["host_bucket", "host_key.bp2", "image_id"]

# sandbox default: bench corpus rows are ~400 B, so 2 MiB row groups
# ≈ 5k rows — fine enough for host-level skipping to show. At design
# scale (~100 KB images) the parquet default (128 MiB) already gives
# ~10^3-row groups; pass row_group_bytes=None to keep it.
ROW_GROUP_BYTES = 2 * 1024 * 1024


def write_corpus_layout(
    corpus: DataFrame,
    url_map: DataFrame,
    path: str,
    buckets: int = 64,
    row_group_bytes: int | None = ROW_GROUP_BYTES,
    layout_partitions: int = 256,
) -> None:
    """One-time layout job: corpus ⋈ (image_id → host), partitioned by
    host_bucket, clustered by (host, image_id).

    ``url_map`` carries (image_id, host) — in a real crawl store the
    fetcher records the source host with every payload, so this join
    exists only because the sandbox fixture corpus pre-dates the
    layout. The salt in the repartition splits a hot host's rows over
    ~4 writer tasks (Zipf head host alone is ~20% of the corpus);
    every file stays internally sorted, so row-group stats remain
    tight regardless of how many files a bucket has.
    """
    # shuffle_hash hint: url_map often derives from a tiny dim scan via
    # explode (fixtures: hosts.parquet → 10^7 URLs), so Catalyst's size
    # estimate sees the pre-explode bytes and would BROADCAST the full
    # URL universe — a multi-GB driver build that OOMs the session. The
    # hash side per shuffle partition is tiny; the corpus never sorts.
    df = corpus.join(
        url_map.select("image_id", "host").hint("shuffle_hash"),
        on="image_id",
    )
    # 7-bit bucket prefix: bucket 63 × 2^57 + (2^57 − 1) == LONG_MAX
    # exactly; anything above 64 buckets would wrap the signed long
    assert buckets <= 64, "host_key bucket prefix supports ≤ 64 buckets"
    df = df.withColumn("host_bucket", host_bucket(F.col("host"), buckets))
    # bucket-prefixed numeric cluster key (see CLUSTER_KEYS)
    df = df.withColumn(
        "host_key",
        F.col("host_bucket").cast("long") * F.lit(1 << 57)
        + F.shiftrightunsigned(F.xxhash64("host"), 7),
    )
    # RANGE partitioning on the full cluster key (r5, replacing the
    # earlier (bucket, id-salt) hash split): a tail host's rows land in
    # exactly ONE file instead of one per salt (the salt multiplied
    # every host's touched-group count ×4), and a hot host splits into
    # CONTIGUOUS image_id slices, so per-file and per-group id stats
    # stay tight for the id pushdown. Writer balance comes from range
    # boundary sampling (by rows — better than the hash split for the
    # Zipf head). The repartitionByRange per-job sampling caveat
    # (memory: never derive cross-job offsets from it) doesn't apply:
    # this is a single self-contained write job.
    w = (
        df.repartitionByRange(layout_partitions, "host_bucket",
                              "host_key", "image_id")
        .sortWithinPartitions("host_bucket", "host_key", "image_id")
        .write.mode("overwrite")
    )
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.partitionBy("host_bucket").parquet(path)
    # data_schema: the parquet files' columns (everything except the
    # host_bucket partition column) in written order, nullable-
    # normalized to match what a parquet read reports — lets the arrow
    # reader skip its per-call driver footer read (VERDICT r6 #4)
    import json as _json

    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST

    data_schema = _ST([
        _SF(f.name, f.dataType, True)
        for f in df.schema.fields if f.name != "host_bucket"
    ])
    write_layout_meta(path, buckets, row_group_bytes,
                      data_schema=_json.loads(data_schema.json()))


# Not planned by the engine; kept while perfbench/tracing.py still wraps it.
def pruned_corpus_split(
    spark: SparkSession,
    path: str,
    narrow_hosts,
    wide_hosts,
    wide_ids,
    buckets_of,
) -> DataFrame:
    """Two-scan split pruning (r5): narrow hosts read with host_key
    pruning only; wide hosts additionally push their scheduled
    image_ids (a bounded set — ≤ |wide| × per_host_k), skipping row
    groups INSIDE their sorted runs via the tight per-group id stats.

    Soundness: the scans partition the scheduled hosts, so their union
    covers every scheduled corpus row; a wide-host row with an
    unscheduled id is dropped, and it can only have been needed if two
    different URLs collided in the 64-bit image_id — the same
    collision assumption the fetch join itself already makes.
    ``buckets_of(host)`` maps a host to its partition value (pure,
    driver-side)."""
    a = pruned_corpus(
        spark, path,
        buckets=sorted({buckets_of(h) for h in narrow_hosts}),
        hosts=narrow_hosts,
    ) if narrow_hosts else None
    b = pruned_corpus(
        spark, path,
        buckets=sorted({buckets_of(h) for h in wide_hosts}),
        hosts=wide_hosts, ids=wide_ids,
    ) if wide_hosts else None
    if a is None:
        return b
    if b is None:
        return a
    return a.unionByName(b)


def host_key_py(host: str, buckets: int) -> int:
    """Python twin of the layout's host_key expression — same xxhash64
    core as the JVM (tests/test_hashing.py), bucket prefix in the top
    7 bits, unsigned hash in the lower 57."""
    from ccrawler_spark.functions.hashing import (
        to_unsigned64, umod, xxhash64_str,
    )

    h = xxhash64_str(host)
    return umod(h, buckets) * (1 << 57) + (to_unsigned64(h) >> 7)


def write_layout_meta(path: str, buckets: int,
                      row_group_bytes: int | None,
                      data_schema: dict | None = None) -> None:
    """``data_schema`` (Spark StructType JSON of the data columns, i.e.
    everything but the ``host_bucket`` partition column) lets the arrow
    reader build its output schema without a per-call driver-side
    parquet footer read (VERDICT r6 #4); layouts written before this
    field fall back to the footer."""
    meta = {"buckets": int(buckets), "cluster_keys": CLUSTER_KEYS,
            "row_group_bytes": row_group_bytes}
    if data_schema is not None:
        meta["data_schema"] = data_schema
    (pathlib.Path(path) / META_FILE).write_text(json.dumps(meta))


def read_layout_meta(path: str) -> dict | None:
    """Layout metadata, or None for a pre-metadata (legacy) layout."""
    p = pathlib.Path(path) / META_FILE
    if not p.exists():
        return None
    return json.loads(p.read_text())


def assert_layout_compatible(path: str, host_buckets: int) -> None:
    """Fail loudly before any round runs if the layout's bucketing does
    not match the engine conf: a mismatched ``host_bucket`` partition
    filter in :func:`pruned_corpus` would silently drop scheduled corpus
    rows — fetches come back ``fetch_ok=false`` and look like legitimate
    misses (ADVICE r4, medium)."""
    meta = read_layout_meta(path)
    if meta is None:
        raise ValueError(
            f"corpus layout at {path} has no {META_FILE}: cannot verify "
            f"its bucket count against conf.host_buckets={host_buckets}. "
            "Rewrite it with write_corpus_layout (which records the "
            "metadata) before using it for pruned fetches."
        )
    if int(meta["buckets"]) != int(host_buckets):
        raise ValueError(
            f"corpus layout at {path} was written with "
            f"buckets={meta['buckets']} but the engine conf has "
            f"host_buckets={host_buckets}: the partition filter would "
            "silently drop scheduled corpus rows. Rewrite the layout "
            "with the conf's bucket count."
        )
    if meta.get("cluster_keys") != CLUSTER_KEYS:
        raise ValueError(
            f"corpus layout at {path} is clustered on "
            f"{meta.get('cluster_keys')} but this reader pushes filters "
            f"against {CLUSTER_KEYS}: rewrite the layout (the host_key "
            "pushdown column would be missing or unsorted)."
        )


def pruned_corpus(
    spark: SparkSession,
    path: str,
    buckets=None,
    hosts=None,
    ids=None,
) -> DataFrame:
    """Layout scan with whatever schedule structure the caller has:
    bucket partition pruning + pushed-down host / image_id IN filters
    (row-group skipping via the layout's sorted min/max stats). All
    three prunings are sound for the fetch join — a corpus row outside
    the scheduled (bucket, host, id) sets cannot match any scheduled
    row — so results are identical to the flat scan. The engine passes
    ``buckets`` only: a pushed IN list of a few thousand values
    overflows the JVM stack (module docstring)."""
    df = spark.read.parquet(path)
    if buckets is not None:
        df = df.filter(F.col("host_bucket").isin([int(b) for b in buckets]))
    if hosts is not None:
        # push against the bucket-prefixed numeric cluster key (see
        # CLUSTER_KEYS); host_key_py is bit-identical to the writer's
        # JVM expression (xxhash64 twin pinned by tests/test_hashing).
        # A hash collision can only ADMIT extra rows (the fetch join
        # still keys on image_id), never drop one — pruning stays
        # sound. The bucket count comes from the layout's own metadata
        # sidecar, so a conf mismatch cannot silently compute wrong
        # keys (the engine separately asserts it equals its conf).
        meta = read_layout_meta(path)
        if meta is None:
            raise ValueError(
                f"corpus layout at {path} has no {META_FILE}: cannot "
                "compute host_key pushdown values without the bucket "
                "count it was written with"
            )
        b = int(meta["buckets"])
        df = df.filter(F.col("host_key").isin(
            sorted(host_key_py(h, b) for h in hosts)
        ))
    if ids is not None:
        df = df.filter(F.col("image_id").isin(sorted(ids)))
    return df
