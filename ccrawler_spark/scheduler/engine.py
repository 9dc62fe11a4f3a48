"""The crawl engine: bootstrap + run_round orchestration (SURVEY.md §3).

One engine round is a single declarative DataFrame DAG over the
snapshot-store tables; the only driver-side state is the manifest
(small JSON) — bloom segments stay task-side (cogrouped per
host_bucket), never collected or broadcast from the driver.
Rounds are idempotent pure functions of (snapshot n-1, conf) — the
virtual clock (SEMANTICS.md §6) and total-order keys make re-running a
crashed round byte-identical, which is the resumability contract
(BASELINE.json:6).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StructField, StructType,
)

from ccrawler_spark.bloom import filter as bf
from ccrawler_spark.conf import CrawlConf
from ccrawler_spark.functions.spark_exprs import umod_long
from ccrawler_spark.io.snapshot import SnapshotStore
from ccrawler_spark.scheduler import stages
from ccrawler_spark.scheduler.fetch import fetch_and_decode
from ccrawler_spark.scheduler.seen import seen_dedup

FRONTIER_COLS = [
    "url", "url_hash", "host", "host_bucket", "priority",
    "discover_ts", "depth", "image_id", "status", "retry_count",
]

# head cache rows persist the robots gate's crawl_delay_ms so head
# rounds skip the gate join entirely (the gate is static per conf)
HEAD_COLS = FRONTIER_COLS + ["crawl_delay_ms"]

BLOOM_SCHEMA = StructType([
    StructField("host_bucket", IntegerType()),
    StructField("version", LongType()),
    StructField("bits", BinaryType()),
])

# metadata-sized round bound, shared by every small-round regime so
# the bounds cannot drift apart: a round_budget at or below it takes
# the single-window fetch sequence and the single fused schedule
# collect (_sched_metadata), and a previous round that enqueued at
# most this many URLs skips the bloom pre-filter, whose fixed cogroup
# + Arrow-crossing cost then exceeds what it saves the exact
# anti-join (results identical; see run_round)
SMALL_ROUND_ROWS = 4096


def _pair_ids(rows) -> dict[str, set[str]]:
    """(host, image_id) schedule rows → {host: its scheduled ids} for
    the arrow reader's host-scoped row-group admission."""
    out: dict[str, set[str]] = {}
    for r in rows:
        out.setdefault(r["host"], set()).add(r["image_id"])
    return out


@dataclass
class RoundStats:
    round: int
    fetched: int
    denied: int
    enqueued: int
    queued_after: int


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        corpus: DataFrame,
        hosts: DataFrame,
        robots: DataFrame,
        conf: CrawlConf,
        corpus_layout: str | None = None,
    ):
        self.spark = spark
        self.store = store
        self.corpus = corpus
        # arrow-scan key-set broadcasts created during the current
        # round; run_round unpersists them in its finally (ADVICE r6)
        self._round_bcs: list = []
        # optional bucket-partitioned / (host, image_id)-clustered corpus
        # (io/corpus_layout): the fetch join prunes its scan to the
        # scheduled hosts' row groups (io/arrow_scan) instead of
        # scanning the whole payload column every round. Purely
        # physical — fetch results are identical.
        # Fail loudly up front if the layout's bucketing doesn't match
        # conf.host_buckets: a mismatched partition filter would silently
        # drop scheduled rows (ADVICE r4, medium).
        if corpus_layout is not None:
            from ccrawler_spark.io.corpus_layout import (
                assert_layout_compatible,
            )

            assert_layout_compatible(corpus_layout, conf.host_buckets)
        self.corpus_layout = corpus_layout
        self.hosts = hosts
        self.H = hosts.count()
        self.robots_active = stages.robots_active(robots, conf.robots_version).cache()
        self.conf = conf

    def _use_head(self) -> bool:
        """Head cache (SEMANTICS.md §6b) serves dequeues in non-recrawl
        mode; recrawl's due predicate changes per-round eligibility, so
        static rank containment does not hold there."""
        return self.conf.head_multiple > 0 and self.conf.recrawl_interval_micros == 0

    def _head_m(self) -> int:
        return self.conf.head_multiple * self.conf.per_host_k

    # ------------------------------------------------------------ bootstrap
    def bootstrap(self, seeds: DataFrame) -> RoundStats:
        """Seeds → snapshot 0 (SEMANTICS.md §6 bootstrap)."""
        conf = self.conf
        # seed sources are often single-file/single-partition; spread
        # them before the (CPU-bound) normalization UDF
        from concurrent.futures import ThreadPoolExecutor
        from pyspark.sql import Window

        seeds = seeds.select("url").repartition(
            self.spark.sparkContext.defaultParallelism * 4
        )
        seeds = stages.normalize_urls(seeds)
        # canonical duplicates collapse to identical frontier rows
        # (priority 0, discover_ts t0, depth 0) — keep-rule irrelevant.
        # The keep-one rides the layout repartition: the partition keys
        # are functions of the url (host_bucket via host, umod of
        # url_hash = xxhash64(url)), so duplicates are co-located and
        # the window needs only a sort, not a second 10M-row exchange
        # (HashPartitioning on a subset of the window keys satisfies
        # its clustering; plan-asserted in test_plans).
        layout_keys = [F.col("host_bucket"), umod_long(F.col("url_hash"), 8)]
        w_dedup = Window.partitionBy(*layout_keys, "url").orderBy("url")
        frontier0 = (
            stages.with_url_derivations(seeds, conf)
            .withColumn("priority", F.lit(0))
            .withColumn("discover_ts", F.timestamp_micros(F.lit(conf.t0_micros)))
            .withColumn("depth", F.lit(0))
            .withColumn("status", F.lit("queued"))
            .withColumn("retry_count", F.lit(0))
            .select(*FRONTIER_COLS)
            .repartition(256, *layout_keys)
            .withColumn("_rn", F.row_number().over(w_dedup))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .cache()
        )
        seen0 = frontier0.select(
            "url_hash", "url",
            umod_long(F.col("url_hash"), conf.seen_partitions)
            .cast("int").alias("seen_part"),
            # repartition by the write-partition key (same rationale as
            # run_round's seen delta): without it the 256 layout tasks
            # each write a file into every seen_part dir — 16k small
            # files that every later round's anti-join has to list
        ).repartition("seen_part")
        # the four snapshot-0 outputs are independent given the cached
        # frontier0 — overlap them like run_round's write phase
        jobs = {}
        with ThreadPoolExecutor(max_workers=4) as ex:
            jobs["base"] = ex.submit(
                self.store.write_parquet, frontier0, "frontier", "base-r0",
                partition_by=["host_bucket"],
            )
            jobs["seen"] = ex.submit(
                self.store.write_parquet, seen0, "seen", "delta-r0",
                partition_by=["seen_part"],
            )
            jobs["bloom"] = ex.submit(
                self._write_bloom_delta, frontier0,
                self.spark.createDataFrame([], BLOOM_SCHEMA), 0,
            )
            if self._use_head():
                allowed0 = stages.robots_gate(
                    frontier0, self.robots_active, conf
                ).filter(F.col("allowed"))
                head0 = stages.rank_per_host(
                    allowed0, conf, self._head_m(), salted=True
                ).drop("_rn").select(*HEAD_COLS)
                jobs["head"] = ex.submit(
                    self.store.write_parquet, head0, "frontier", "head-r0"
                )
        base = jobs["base"].result()
        seen_path = jobs["seen"].result()
        bloom_path = jobs["bloom"].result()
        head_entry = (
            {"path": jobs["head"].result(), "since_refill": 0}
            if "head" in jobs else None
        )
        seed_buckets = self._bucket_counts(frontier0)
        lineage = self._lineage_from_counts(
            prev={}, sched={}, denied={}, fresh=seed_buckets,
            bloom_versions={b: 1 for b in seed_buckets},
        )
        metrics_path = self._write_metrics(lineage, 0)
        self.store.commit(0, {
            "round": 0,
            "frontier": {"base": base, "adds": [], "removes": [],
                          "small_removes": True, "last_adds": base,
                          "head": head_entry},
            "seen": {"deltas": [seen_path]},
            "bloom": {"deltas": [bloom_path]},
            "metrics": {"paths": [metrics_path]},
            "counters": {"fetched_total": 0, "denied_total": 0},
            "lineage": lineage,
        })
        n = frontier0.count()
        frontier0.unpersist()
        return RoundStats(0, 0, 0, n, n)

    # ------------------------------------------------------------ run_round
    def run_round(self, r: int) -> RoundStats:
        """Snapshot r-1 → snapshot r (SEMANTICS.md §6).

        The round's overlap pool lives exactly as long as this call:
        on ANY exit — including an exception between submissions — the
        finally drains in-flight writes (wait=True) and cancels queued
        ones, so no round-r write (fetch_log, removes, ...) outlives
        the call to race a retry of the same round (ADVICE r5)."""
        from concurrent.futures import ThreadPoolExecutor

        # one pool for the whole round (metadata collect, delta writes,
        # compactions — was three pools r5, whose with-block barriers
        # also serialized driver work behind executor writes)
        pool = ThreadPoolExecutor(max_workers=8)
        self._round_bcs: list = []
        try:
            return self._run_round_body(r, pool)
        finally:
            pool.shutdown(wait=True, cancel_futures=True)
            # release the arrow scan's key-set broadcast blocks now
            # that every round-r action has run (ADVICE r6) — lazy
            # unpersist: a re-evaluated plan re-ships from the driver
            for _bc in self._round_bcs:
                try:
                    _bc.unpersist(blocking=False)
                except Exception:
                    pass  # session teardown races are benign here
            self._round_bcs = []

    def _run_round_body(self, r: int, pool) -> RoundStats:
        conf = self.conf
        store = self.store
        prev = store.read_manifest(r - 1)
        round_ts = conf.t0_micros + r * conf.round_period_micros

        # 1. dequeue source. Head mode (non-recrawl, SEMANTICS.md §6b):
        # serve from the persisted per-host top-m head cache — no
        # full-frontier scan, no gate join (crawl_delay_ms rides the
        # head rows; the gate is static per conf) — refilling from the
        # composed frontier every head_multiple - 1 rounds. Otherwise:
        # robots gate (broadcast join, Catalyst longest-prefix) fused
        # into the frontier scan — no 10M-row cache materialization.
        h_prev = prev["frontier"].get("head")
        use_head = self._use_head() and h_prev is not None
        ranked = None
        survivors = None
        head_since = 0
        if use_head:
            refill = h_prev["since_refill"] >= conf.head_multiple - 1
            if refill:
                frontier = store.read_frontier(r - 1)
                source = stages.robots_gate(
                    frontier, self.robots_active, conf
                ).filter(F.col("allowed"))
            else:
                source = self.spark.read.parquet(
                    self.store.data_path(h_prev["path"])
                )
                head_since = h_prev["since_refill"] + 1
            # cached: the ranked frame feeds BOTH the schedule and the
            # next head (on refill rounds recomputing it would repeat
            # the full frontier scan + windows)
            ranked = stages.rank_per_host(
                source, conf, self._head_m(), salted=refill
            ).cache()
            sched0, survivors = stages.split_ranked(ranked, conf, self.H)
            sched0 = sched0.cache()
        else:
            frontier = store.read_frontier(r - 1)
            if conf.recrawl_interval_micros > 0:
                # O30/O10 due predicate: only rows whose discover_ts
                # (= next due time for recrawl rows) has arrived compete
                # this round; the rest stay queued untouched (no delta
                # written for them)
                frontier = frontier.filter(
                    F.col("discover_ts") <= F.timestamp_micros(F.lit(round_ts))
                )
            gated = stages.robots_gate(frontier, self.robots_active, conf)
            allowed = gated.filter(F.col("allowed"))
            # 2-4. dequeue: per-host top-k → budget K → politeness slots;
            # cached BEFORE the seq step (its offsets collect is an action)
            sched0 = stages.dequeue(allowed, conf, n_hosts=self.H).cache()

        # `denied` comes from a separate tiny pass: the gate is static
        # (robots_active is fixed per conf.robots_version), so any row
        # that survived a previous round's gate passes again — newly
        # deniable rows can only be in the PREVIOUS round's adds delta
        # (tracked as manifest frontier.last_adds, kept referenced even
        # after compaction folds it into a base).
        if conf.recrawl_interval_micros > 0:
            # with a due predicate, denial timing depends on
            # eligibility — gate the full eligible frontier
            denied = gated.filter(~F.col("allowed")).select(*FRONTIER_COLS)
        else:
            last_adds = prev["frontier"].get("last_adds")
            if last_adds:
                fresh_rows = self.spark.read.parquet(self.store.data_path(last_adds))
                # a row can be denied ONLY if its host has at least one
                # disallow rule (allowed = coalesce(match.allow, True),
                # so all-allow hosts can never produce False) — semi-join
                # on that tiny broadcast host set before the gate, so the
                # per-pattern array matching runs over the deniable
                # fraction of last_adds (10% of hosts in the fixtures),
                # not all of it. Biggest in round 1, where last_adds is
                # the whole bootstrap base.
                deny_hosts = self.robots_active.filter(
                    F.exists("rules", lambda rr: ~rr["allow"])
                ).select("host")
                denied = (
                    stages.robots_gate(
                        fresh_rows.join(F.broadcast(deny_hosts), on="host",
                                        how="left_semi"),
                        self.robots_active, conf,
                    )
                    .filter(~F.col("allowed"))
                    .select(*FRONTIER_COLS)
                )
            else:
                denied = sched0.select(*FRONTIER_COLS).limit(0)
        # 5. fetch sequence (cumulative seq across rounds). Small-budget
        # regime (same static bound as the metadata collect): identical
        # seq from one single-partition window instead of the 3-stage
        # group prefix-sum — see stages.with_fetch_sequence.
        seq_offset = prev["counters"]["fetched_total"]
        scheduled = stages.with_fetch_sequence(
            sched0, r, seq_offset,
            small_budget=conf.round_budget <= SMALL_ROUND_ROWS,
        ).cache()

        # schedule-metadata collect (lineage counts + layout scan
        # keys, one job — see _sched_metadata) on a pool thread: its
        # first action materializes the scheduled cache while the MAIN
        # thread builds the round's remaining plans. Plan construction
        # is driver-side py4j chatter (hundreds of expression
        # round-trips, ~2 s/round profiled at r5) that needs only the
        # DataFrame objects, never the collect results — serializing it
        # behind the collect was pure added wall. (`pool` is owned by
        # run_round's try/finally — see its docstring.)
        sched_meta = pool.submit(self._sched_metadata, scheduled)

        # 7-10. discovery → scope → in-round dedup → seen dedup
        candidates = stages.discover_links(
            scheduled, self.hosts, conf, self.H, round_ts
        )
        candidates = stages.dedup_in_round(candidates)
        candidates = stages.as_frontier_rows(candidates, conf)
        seen = store.read_seen(r - 1)
        # task-side bloom: B small segment rows, cached once per round —
        # the probe and the delta build each cogroup on host_bucket, so
        # a task holds only its buckets' segments (no driver collect)
        bloom = store.read_bloom_latest(r - 1).cache()
        # adaptive probe skip: the bloom is a NEGATIVE-membership fast
        # path — it only pays when many candidates are new. After a
        # round that enqueued 0 fresh URLs (saturated frontier: every
        # discovery already seen, the bench steady state), virtually
        # every probe answers "maybe seen" and the cogroup shuffle +
        # Arrow crossing of the full candidate set buys nothing — go
        # straight to the exact anti-join. Exactness is unaffected
        # either way (the anti-join is the gate, the bloom a
        # prefilter); if fresh URLs reappear, n_fresh > 0 flips the
        # probe back on next round. Driver-side decision from the
        # committed lineage — no extra job.
        prev_enqueued = sum(
            v.get("enqueued", 0) for v in prev["lineage"].values()
        )
        # volume gate (round 8): the probe's payoff scales with the
        # candidate volume it can prune, but its cost (cogroup shuffle
        # + one Arrow crossing of every candidate, ~3 scheduler jobs)
        # is fixed — below a few thousand candidates the exact
        # anti-join alone is strictly cheaper. prev round's enqueued
        # count is the same driver-side volume proxy the zero/nonzero
        # skip already used; exactness is unaffected either way (the
        # anti-join is the gate, the bloom a prefilter).
        use_bloom = prev_enqueued > SMALL_ROUND_ROWS
        fresh = seen_dedup(
            candidates, seen, conf, bloom if use_bloom else None
        )
        # cached WITHOUT the adds-layout repartition (round 8): the
        # layout shuffle only serves the adds-delta write, and its
        # partition count is now sized from n_fresh AFTER the counts
        # job (see `additions` below) — a tiny round no longer pays a
        # fixed 64-task shuffle+write for a handful of rows. The other
        # consumers (counts, seen delta, bloom cogroup, head union)
        # each re-key anyway.
        fresh = (
            fresh.withColumn("status", F.lit("queued"))
            .withColumn("retry_count", F.lit(0))
            .select(*FRONTIER_COLS)
            .cache()
        )

        # stats: ONE fused groupBy-collect covers denied + fresh —
        # tagging each with a side marker and aggregating per
        # (side, host_bucket) replaces two driver job dispatches with
        # one. The aggregation scans fresh fully, which doubles as the
        # action that materializes its cache before the parallel write
        # phase. Counts derived ⇒ empty deltas are skipped entirely (a
        # file-less partitioned parquet dir is unreadable, and empty
        # rounds are normal once the frontier drains). Submitted on the
        # pool so it overlaps the fetch-log write and the write-phase
        # plan building below.
        tagged = (
            denied.select("host_bucket").withColumn("_side", F.lit("d"))
            .unionByName(
                fresh.select("host_bucket").withColumn("_side", F.lit("f"))
            )
        ).groupBy("_side", "host_bucket").count()

        # 6. fetch join + decode invariants (Arrow crossing), needing
        # the schedule metadata (pruned-corpus scan keys) — joined
        # here, after the main thread finished the discovery plans
        sched_counts, host_ids = sched_meta.result()
        n_fetched = sum(sched_counts.values())
        # submit the fused counts job only now that the scheduled cache
        # is materialized: the discovery path scans `scheduled`, and an
        # earlier submission would race the metadata job into computing
        # the whole dequeue pipeline twice
        tagged_job = pool.submit(tagged.collect)
        corpus_side = self._corpus_side(sched_counts, host_ids)
        fetched = fetch_and_decode(scheduled, corpus_side)
        fetch_log = fetched.select(
            "seq", "url", "host", "host_bucket", "slot_ms", "priority",
            "discover_ts", "depth", "fetch_ok", "pixels_ok", "caption_ok",
            "phash_ok", "psnr_db",
        )
        log_job = pool.submit(
            self.store.write_parquet, fetch_log, "fetch_log", f"round={r}"
        )
        # early removes submit: the delta is non-empty whenever
        # n_fetched > 0 (known now, without the denied count), so the
        # write overlaps the tagged-counts job instead of waiting in
        # the serial write phase. n_fetched == 0 defers to the write
        # phase, where n_denied decides.
        removes = scheduled.select("url_hash", "url").unionByName(
            denied.select("url_hash", "url")
        )
        removes_job = (
            pool.submit(self.store.write_parquet, removes,
                        "frontier", f"removes-r{r}")
            if n_fetched else None
        )

        # 11. frontier/seen/bloom update PLANS, built BEFORE joining the
        # counts job so the py4j construction overlaps it — the counts
        # only pick which submissions happen (determinism is unaffected:
        # each write's content is a pure function of the cached inputs).
        old_versions = {
            int(b): v.get("bloom_version", 0) for b, v in prev["lineage"].items()
        }
        # O30: fetched rows re-enter the frontier at fetch_ts + interval;
        # they ride the same adds delta but never touch seen/bloom (the
        # URL is already seen — re-enqueue is deliberate)
        recrawl = None
        if conf.recrawl_interval_micros > 0 and n_fetched:
            recrawl = scheduled.select(
                "url", "url_hash", "host", "host_bucket", "priority",
                F.timestamp_micros(
                    F.lit(round_ts)
                    + F.col("slot_ms") * F.lit(1000)
                    + F.lit(conf.recrawl_interval_micros)
                ).alias("discover_ts"),
                "depth", "image_id",
            ).withColumn("status", F.lit("queued")).withColumn(
                "retry_count", F.lit(0)
            ).select(*FRONTIER_COLS)
        new_head = head_with_fresh = None
        if use_head:
            # next head: survivors of this round's dequeue plus the
            # gated fresh adds, capped at m per host (the fresh-union
            # variant is used only when something was added — survivors
            # alone are already ≤ m and ranked). Written every round;
            # refill rebuilds it from the composed frontier instead.
            new_head = survivors.select(*HEAD_COLS)
            fresh_allowed = (
                stages.robots_gate(fresh, self.robots_active, conf)
                .filter(F.col("allowed"))
                .select(*HEAD_COLS)
            )
            # salted: per-host input here is bounded (≤ m survivors
            # + one round's discoveries), but a hot host can still
            # receive the bulk of a round's adds in one window
            # partition — the two-phase form is exact for any m
            # (rank_per_host docstring), so salting costs nothing
            # in correctness and removes the straggler task
            head_with_fresh = stages.rank_per_host(
                new_head.unionByName(fresh_allowed), conf,
                self._head_m(), salted=True,
            ).drop("_rn").select(*HEAD_COLS)
        additions = fresh if recrawl is None else fresh.unionByName(recrawl)
        # repartition by the write-partition key: otherwise each
        # of the 64 host_bucket tasks writes a file into every
        # seen_part dir (64×64 small files per round)
        seen_delta = fresh.select(
            "url_hash", "url",
            umod_long(F.col("url_hash"), conf.seen_partitions)
            .cast("int").alias("seen_part"),
        ).repartition("seen_part")

        denied_counts: dict[int, int] = {}
        fresh_counts: dict[int, int] = {}
        for row in tagged_job.result():
            side = denied_counts if row["_side"] == "d" else fresh_counts
            side[int(row["host_bucket"])] = int(row["count"])
        n_denied = sum(denied_counts.values())
        n_fresh = sum(fresh_counts.values())

        jobs = {}
        if use_head:
            jobs["head"] = pool.submit(
                store.write_parquet,
                head_with_fresh if n_fresh else new_head,
                "frontier", f"head-r{r}",
            )
        if n_fresh or recrawl is not None:
            # adds-delta layout shuffle, sized from the counts now in
            # hand (~25k rows/partition, capped at the previous fixed
            # 64): same (host_bucket, umod8) co-location keys, so a
            # compacted hot bucket still spans multiple files, but a
            # metadata-sized round writes 1 task instead of 64
            n_adds = n_fresh + (n_fetched if recrawl is not None else 0)
            adds_parts = min(64, max(1, -(-n_adds // 25_000)))
            additions = additions.repartition(
                adds_parts, F.col("host_bucket"),
                umod_long(F.col("url_hash"), 8),
            )
            jobs["adds"] = pool.submit(
                store.write_parquet, additions, "frontier", f"adds-r{r}",
                partition_by=["host_bucket"],
            )
        if n_fresh:
            jobs["seen"] = pool.submit(
                store.write_parquet, seen_delta, "seen", f"delta-r{r}",
                partition_by=["seen_part"],
            )
            jobs["bloom"] = pool.submit(
                self._write_bloom_delta, fresh, bloom, r
            )
        if removes_job is None and n_fetched + n_denied:
            jobs["removes"] = pool.submit(
                store.write_parquet, removes, "frontier", f"removes-r{r}"
            )
        # lineage + the metrics write are pure driver work off counts
        # already in hand — do them WHILE the delta writes run (r5 had
        # them serialized behind the write-phase pool barrier)
        new_versions = dict(old_versions)
        for b in fresh_counts:
            new_versions[b] = new_versions.get(b, 0) + 1
        lineage = self._lineage_from_counts(
            prev=prev["lineage"],
            sched=sched_counts,
            denied=denied_counts,
            fresh=fresh_counts,
            bloom_versions=new_versions,
            recrawled=sched_counts if recrawl is not None else None,
        )
        metrics_path = self._write_metrics(lineage, r)
        adds_path = jobs["adds"].result() if "adds" in jobs else None
        seen_path = jobs["seen"].result() if "seen" in jobs else None
        bloom_path = jobs["bloom"].result() if "bloom" in jobs else None
        removes_path = (
            removes_job.result() if removes_job is not None
            else jobs["removes"].result() if "removes" in jobs else None
        )
        head_entry = (
            {"path": jobs["head"].result(), "since_refill": head_since}
            if use_head else None
        )
        log_job.result()  # fetch_log must be durable before the commit

        # delta-chain composition (+ compaction). All three chains are
        # bounded by compact_threshold — without it per-round fixed cost
        # grows linearly with crawl age (a round-1000 seen anti-join
        # would union a 1000-file chain on its build side). The three
        # compactions are independent of each other and overlap on
        # driver threads like the delta writes above.
        fr_prev = prev["frontier"]
        adds = fr_prev["adds"] + ([adds_path] if adds_path else [])
        removes_list = fr_prev["removes"] + ([removes_path] if removes_path else [])
        base = fr_prev["base"]
        seen_deltas = prev["seen"]["deltas"] + ([seen_path] if seen_path else [])
        bloom_deltas = prev["bloom"]["deltas"] + ([bloom_path] if bloom_path else [])
        cjobs = {}
        if len(adds) >= self.store.compact_threshold:
            composed = store.read_frontier_from(base, adds, removes_list)
            # same multi-file-per-bucket layout as bootstrap: a
            # compacted hot bucket must not become a single-file
            # scan straggler
            composed = composed.repartition(
                256, F.col("host_bucket"), umod_long(F.col("url_hash"), 8)
            )
            cjobs["frontier"] = pool.submit(
                store.write_parquet, composed, "frontier", f"base-r{r}",
                partition_by=["host_bucket"],
            )
        if len(seen_deltas) >= self.store.compact_threshold:
            cjobs["seen"] = pool.submit(store.compact_seen, seen_deltas, r)
        if len(bloom_deltas) >= self.store.compact_threshold:
            cjobs["bloom"] = pool.submit(store.compact_bloom, bloom_deltas, r)
        if "frontier" in cjobs:
            base = cjobs["frontier"].result()
            adds, removes_list = [], []
        if "seen" in cjobs:
            seen_deltas = [cjobs["seen"].result()]
        if "bloom" in cjobs:
            bloom_deltas = [cjobs["bloom"].result()]

        self.store.commit(r, {
            "round": r,
            "frontier": {"base": base, "adds": adds, "removes": removes_list,
                          "small_removes": True, "last_adds": adds_path,
                          "head": head_entry},
            "seen": {"deltas": seen_deltas},
            "bloom": {"deltas": bloom_deltas},
            "metrics": {"paths": prev["metrics"]["paths"] + [metrics_path]},
            "counters": {
                "fetched_total": seq_offset + n_fetched,
                "denied_total": prev["counters"]["denied_total"] + n_denied,
            },
            "lineage": lineage,
        })
        queued_after = sum(v["frontier_offset"] for v in lineage.values())
        bloom.unpersist()
        scheduled.unpersist()
        sched0.unpersist()
        if ranked is not None:
            ranked.unpersist()
        fresh.unpersist()
        return RoundStats(r, n_fetched, n_denied, n_fresh, queued_after)

    # ------------------------------------------------------------- helpers
    def _sched_metadata(self, scheduled: DataFrame):
        """One collect for everything the driver needs off the cached
        scheduled frame: per-bucket lineage counts, plus — with a
        corpus layout — the scheduled (host → image_ids) pairing the
        arrow scan prunes by.

        Small-round regime (round_budget ≤ SMALL_ROUND_ROWS): the
        schedule is statically bounded, so ONE collect of
        (host_bucket, host, image_id) yields counts AND scan keys
        (VERDICT r4 #6). Otherwise groupBy-count first (B ≤ 64 rows),
        then the pairing collect only when a layout is set and the
        schedule fits ARROW_PUSHDOWN_CAP. Every collect here is
        schedule METADATA (≤ cap rows ≈ 2 MB off the cached frame) —
        the same class as the lineage collect, not data movement.

        Returns (sched_counts, host_ids): host_ids is None for the flat
        corpus and for schedules above the cap, whose fetch join reads
        the layout with bucket pruning only (_corpus_side)."""
        from collections import Counter

        from ccrawler_spark.io import arrow_scan

        if self.conf.round_budget <= SMALL_ROUND_ROWS:
            rows = scheduled.select("host_bucket", "host", "image_id").collect()
            counts = dict(Counter(int(r["host_bucket"]) for r in rows))
        else:
            counts = self._bucket_counts(scheduled)
            rows = None
        if (self.corpus_layout is None
                or sum(counts.values()) > arrow_scan.ARROW_PUSHDOWN_CAP):
            return counts, None
        if rows is None:
            rows = scheduled.select("host", "image_id").collect()
        return counts, _pair_ids(rows)

    def _corpus_side(self, sched_counts: dict[int, int], host_ids):
        """Fetch-join corpus frame for this round: the flat corpus, the
        host-scoped arrow scan of the layout, or — for a schedule above
        ARROW_PUSHDOWN_CAP — the layout pruned to the scheduled buckets
        (see _sched_metadata). Purely physical — identical results.
        Both readers are looked up on their module at call time, so a
        wrapper installed there (perfbench/tracing.py) sees every call."""
        if self.corpus_layout is None:
            return self.corpus
        from ccrawler_spark.io import arrow_scan, corpus_layout

        if host_ids is not None:
            return arrow_scan.pruned_corpus_arrow(
                self.spark, self.corpus_layout,
                host_ids=host_ids, track=self._round_bcs,
            )
        return corpus_layout.pruned_corpus(
            self.spark, self.corpus_layout, buckets=sorted(sched_counts),
        )

    def _bucket_counts(self, df: DataFrame) -> dict[int, int]:
        # intentional collect: tiny side — B ≤ 64 aggregated rows, the
        # only .collect() in the engine (lineage bookkeeping, not data)
        rows = df.groupBy("host_bucket").count().collect()
        return {int(r["host_bucket"]): int(r["count"]) for r in rows}

    def _lineage_from_counts(self, prev, sched, denied, fresh, bloom_versions,
                             recrawled=None):
        recrawled = recrawled or {}
        buckets = set(prev) | set(sched) | set(denied) | set(fresh)
        out = {}
        for b in sorted(int(x) for x in buckets):
            p = prev.get(str(b), prev.get(b, {}))
            offset = (
                p.get("frontier_offset", 0)
                - sched.get(b, 0) - denied.get(b, 0) + fresh.get(b, 0)
                + recrawled.get(b, 0)
            )
            out[str(b)] = {
                "frontier_offset": offset,
                "bloom_version": bloom_versions.get(b, p.get("bloom_version", 0)),
                "fetched": sched.get(b, 0),
                "denied": denied.get(b, 0),
                "enqueued": fresh.get(b, 0),
                "recrawled": recrawled.get(b, 0),
            }
        return out

    def _write_metrics(self, lineage: dict, r: int) -> str:
        """B rows of lineage — written driver-side with pyarrow (a Spark
        job for 64 rows costs seconds of plan/dispatch per round)."""
        import pathlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        items = sorted(lineage.items(), key=lambda kv: int(kv[0]))
        table = pa.table({
            "round": pa.array([r] * len(items), pa.int32()),
            "host_bucket": pa.array([int(b) for b, _ in items], pa.int32()),
            "frontier_offset": pa.array(
                [v["frontier_offset"] for _, v in items], pa.int64()),
            "bloom_version": pa.array(
                [v["bloom_version"] for _, v in items], pa.int64()),
            "fetched": pa.array([v["fetched"] for _, v in items], pa.int64()),
            "denied": pa.array([v["denied"] for _, v in items], pa.int64()),
            "enqueued": pa.array([v["enqueued"] for _, v in items], pa.int64()),
            "recrawled": pa.array(
                [v.get("recrawled", 0) for _, v in items], pa.int64()),
        })
        out = pathlib.Path(self.store.data_path("metrics", f"r{r}"))
        out.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, out / "part-0.parquet")
        return str(pathlib.Path("metrics") / f"r{r}")

    def _write_bloom_delta(self, fresh: DataFrame, bloom: DataFrame,
                           r: int) -> str:
        """O22: per-bucket segment build/merge, task-side — the fresh
        keys cogroup with the latest segment rows on host_bucket, so
        merging never moves segments through the driver and only
        touched buckets produce a delta row (untouched buckets keep
        their version; their rows simply yield nothing)."""
        conf = self.conf
        seg_bits = conf.bloom_segment_bits
        num_hashes = conf.bloom_num_hashes

        def build(key, fresh_pdf, bloom_pdf):
            import pandas as pd

            if len(fresh_pdf) == 0:
                return pd.DataFrame({
                    "host_bucket": pd.Series([], dtype="int32"),
                    "version": pd.Series([], dtype="int64"),
                    "bits": pd.Series([], dtype=object),
                })
            bucket = int(key[0])
            if len(bloom_pdf):
                i = bloom_pdf["version"].idxmax()
                seg = np.frombuffer(
                    bloom_pdf.loc[i, "bits"], dtype=np.uint8
                ).copy()
                ver = int(bloom_pdf.loc[i, "version"]) + 1
            else:
                seg = bf.empty_segment(seg_bits)
                ver = 1
            seg = bf.add_keys(
                seg, fresh_pdf["url_hash"].to_numpy(np.int64), num_hashes
            )
            return pd.DataFrame({
                "host_bucket": [bucket],
                "version": [ver],
                "bits": [seg.tobytes()],
            })

        delta = (
            fresh.select("host_bucket", "url_hash")
            .groupBy("host_bucket")
            .cogroup(bloom.select("host_bucket", "version", "bits")
                     .groupBy("host_bucket"))
            .applyInPandas(build, BLOOM_SCHEMA)
        )
        return self.store.write_parquet(delta, "bloom", f"r{r}")
