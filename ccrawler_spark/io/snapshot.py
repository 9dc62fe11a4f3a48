"""Iceberg-emulation snapshot store (SURVEY.md §7.4, §0.3).

No Iceberg runtime jar exists in the sandbox, so this module reproduces
the Iceberg semantics the engine needs — immutable Parquet data files,
an atomic JSON manifest per snapshot, merge-on-read deletes, partition
pruning, time travel to a snapshot id, resumability with per-partition
lineage (BASELINE.json:6) — behind a small façade so a real Iceberg
catalog can be dropped in unchanged (commit → Iceberg transaction,
lineage → snapshot summary properties).

Layout under ``root``:

    manifests/manifest-{n:06d}.json     (atomic rename = commit point)
    data/frontier/base-r{n}/            full frontier rewrite (bootstrap
                                        + periodic compaction)
    data/frontier/adds-r{n}/            per-round enqueued rows
    data/frontier/removes-r{n}/         per-round equality-deletes
                                        (url_hash, url) — Iceberg-v2
                                        merge-on-read style
    data/seen/delta-r{n}/seen_part=S/   append-only seen set, partitioned
    data/fetch_log/round={n}/           append-only ordered fetch log
    data/bloom/r{n}/                    bloom segment rows (delta)
    data/metrics/r{n}/                  per-partition lineage rows

``read_frontier(n)`` composes base ∪ adds − removes without rewriting
the base — at design scale a round writes O(round) data, never O(10^10).
Compaction (``compact_threshold``) bounds the delta chain length.

A crashed round leaves orphan data dirs but no manifest → invisible to
``latest()``; re-running the round is idempotent (SEMANTICS.md §6 step
12) and ``gc_orphans()`` removes the debris.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ccrawler_spark.conf import CrawlConf

MANIFEST_FMT = "manifest-{n:06d}.json"


def _round_of(path: str) -> int:
    """Data-file sequence number from the path name (base-r{n} /
    adds-r{n} / removes-r{n}) — the Iceberg-v2 sequence-number
    analogue that scopes equality-deletes."""
    return int(str(path).rsplit("-r", 1)[1])


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str | os.PathLike, conf: CrawlConf,
                 compact_threshold: int = 8):
        self.spark = spark
        self.root = pathlib.Path(root)
        self.conf = conf
        self.compact_threshold = compact_threshold
        (self.root / "manifests").mkdir(parents=True, exist_ok=True)
        (self.root / "data").mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------- paths
    def _mpath(self, n: int) -> pathlib.Path:
        return self.root / "manifests" / MANIFEST_FMT.format(n=n)

    def data_path(self, *parts: str) -> str:
        return str(self.root / "data" / pathlib.Path(*parts))

    # --------------------------------------------------------- manifests
    def latest(self) -> int | None:
        ms = sorted((self.root / "manifests").glob("manifest-*.json"))
        return int(ms[-1].stem.split("-")[1]) if ms else None

    def read_manifest(self, n: int) -> dict[str, Any]:
        with open(self._mpath(n)) as f:
            m = json.load(f)
        if m.get("conf_fingerprint") != self.conf.fingerprint():
            raise ValueError(
                "conf fingerprint mismatch: manifest has "
                f"{m.get('conf_fingerprint')}, runtime conf is "
                f"{self.conf.fingerprint()} — resume refused (SURVEY.md §7.5)"
            )
        return m

    def commit(self, n: int, manifest: dict[str, Any]) -> None:
        """Atomic publish: write tmp in same dir, fsync, rename."""
        manifest = dict(manifest)
        manifest["snapshot_id"] = n
        manifest["parent_id"] = n - 1 if n > 0 else None
        manifest["conf_fingerprint"] = self.conf.fingerprint()
        manifest["conf"] = json.loads(self.conf.to_json())
        tmp = self._mpath(n).with_suffix(".json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._mpath(n))

    # ----------------------------------------------------------- readers
    def read_frontier(self, n: int) -> DataFrame:
        """Merge-on-read composition of the frontier at snapshot n."""
        fr = self.read_manifest(n)["frontier"]
        return self.read_frontier_from(
            fr["base"], fr["adds"], fr["removes"], fr.get("small_removes", True)
        )

    def read_frontier_from(
        self,
        base: str,
        adds: list[str],
        removes: list[str],
        small_removes: bool = True,
    ) -> DataFrame:
        """base ∪ adds − removes, sequence-aware merge-on-read.

        An equality-delete from round n removes a key only from data
        files written in rounds < n (Iceberg-v2 sequence-number
        semantics). That makes the add→remove→re-add lifecycle of O30
        recrawl correct: a URL fetched in round n (remove-r{n}) and
        re-enqueued the same round (adds-r{n}) survives, while its
        older copy (added in some round < n) is deleted. Without
        recrawl every key is added at most once and removed strictly
        later, so this reduces to the plain anti-join it replaces.
        """
        from pyspark.sql import functions as F

        def tagged(path: str) -> DataFrame:
            return self.spark.read.parquet(self.data_path(path)).withColumn(
                "_ar", F.lit(_round_of(path))
            )

        df = reduce(DataFrame.unionByName, [tagged(p) for p in [base, *adds]])
        if removes:
            rm = reduce(
                DataFrame.unionByName,
                [
                    self.spark.read.parquet(self.data_path(p)).withColumn(
                        "_rr", F.lit(_round_of(p))
                    )
                    for p in removes
                ],
            )
            rm_latest = rm.groupBy("url_hash", "url").agg(
                F.max("_rr").alias("_max_rr")
            )
            if small_removes:
                rm_latest = rm_latest.hint("broadcast")
            df = (
                df.join(rm_latest, on=["url_hash", "url"], how="left")
                .filter(F.col("_max_rr").isNull() | (F.col("_max_rr") <= F.col("_ar")))
                .drop("_max_rr")
            )
        return df.drop("_ar")

    def read_seen(self, n: int) -> DataFrame:
        """Union of append-only seen deltas (url_hash, url, seen_part).

        Stored partitioned by ``seen_part`` so a probe restricted to a
        few partitions prunes files via Catalyst partition discovery.
        The chain length is bounded by ``compact_threshold``
        (``compact_seen``) — without that, round 1,000 would union a
        1,000-file chain on the anti-join's build side every round.
        """
        m = self.read_manifest(n)
        dfs = [
            self.spark.read.parquet(self.data_path(p))
            for p in m["seen"]["deltas"]
        ]
        return reduce(DataFrame.unionByName, dfs)

    def compact_seen(self, deltas: list[str], r: int) -> str:
        """Fold the seen delta chain into one partitioned base.

        The seen set is append-only and pre-deduplicated (candidates
        pass the exact anti-join before entering), so compaction is a
        plain union rewrite — no merge logic. Same amortized-O(1)
        policy as the frontier: each key is rewritten at most once per
        ``compact_threshold`` rounds, and per-round read cost stops
        growing with crawl age."""
        df = reduce(
            DataFrame.unionByName,
            [self.spark.read.parquet(self.data_path(p)) for p in deltas],
        )
        return self.write_parquet(
            df.repartition("seen_part"), "seen", f"base-r{r}",
            partition_by=["seen_part"],
        )

    def compact_bloom(self, deltas: list[str], r: int) -> str:
        """Keep only the latest segment row per host_bucket.

        Superseded segment versions are dead weight — every consumer
        goes through the latest-per-bucket window (`read_bloom_latest`),
        so folding the chain to B rows bounds both the window input and
        the file count at ``compact_threshold``. File count is sized
        from conf (B × segment bytes / 128 MB target): 1 file at
        sandbox scale, ~96 at the design-scale 4096 × 3 MB."""
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(*[self.data_path(p) for p in deltas])
        seg_bytes = self.conf.bloom_segment_bits // 8
        n_files = max(1, (self.conf.host_buckets * seg_bytes) // (128 << 20))
        return self.write_parquet(
            self._latest_per_bucket(df).repartition(n_files, F.col("host_bucket")),
            "bloom", f"base-r{r}",
        )

    def read_bloom(self, n: int) -> DataFrame:
        """All bloom segment rows (delta chain, multiple versions)."""
        m = self.read_manifest(n)
        paths = [self.data_path(p) for p in m["bloom"]["deltas"]]
        return self.spark.read.parquet(*paths)

    @staticmethod
    def _latest_per_bucket(bloom: DataFrame) -> DataFrame:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("host_bucket").orderBy(F.col("version").desc())
        return (
            bloom.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def read_bloom_latest(self, n: int) -> DataFrame:
        """Latest segment row per host_bucket — the task-side bloom
        input: consumers cogroup it by host_bucket so each task holds
        only its buckets' segments (never an O(B × segment) driver
        collect; SURVEY.md §4.3)."""
        return self._latest_per_bucket(self.read_bloom(n))

    def read_fetch_log(self, upto: int | None = None) -> DataFrame:
        df = self.spark.read.parquet(self.data_path("fetch_log"))
        if upto is not None:
            df = df.filter(df["round"] <= upto)
        return df

    def read_metrics(self, n: int) -> DataFrame:
        m = self.read_manifest(n)
        return self.spark.read.parquet(*[self.data_path(p) for p in m["metrics"]["paths"]])

    # ------------------------------------------------------------ writers
    def write_parquet(self, df: DataFrame, *parts: str,
                      partition_by: list[str] | None = None) -> str:
        path = self.data_path(*parts)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        # label the write job (guide §1.5) — job descriptions are
        # thread-local, so each overlapped pool write is attributed
        # correctly in the UI / event log
        sc = df.sparkSession.sparkContext
        caller_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription("store write: " + "/".join(parts))
        try:
            w.parquet(path)
        finally:
            sc.setJobDescription(caller_desc)
        return str(pathlib.Path(*parts))

    # --------------------------------------------------------------- gc
    def gc_orphans(self) -> list[str]:
        """Remove data dirs not referenced by any committed manifest."""
        latest = self.latest()
        referenced: set[str] = set()
        for n in range((latest + 1) if latest is not None else 0):
            if not self._mpath(n).exists():
                continue
            m = json.load(open(self._mpath(n)))
            fr = m["frontier"]
            referenced.add(fr["base"])
            if fr.get("last_adds"):
                referenced.add(fr["last_adds"])
            if fr.get("head"):
                referenced.add(fr["head"]["path"])
            referenced.update(fr["adds"])
            referenced.update(fr["removes"])
            referenced.update(m["seen"]["deltas"])
            referenced.update(m["bloom"]["deltas"])
            referenced.update(m["metrics"]["paths"])
            referenced.add("fetch_log")
        removed = []
        for table_dir in (self.root / "data").iterdir():
            if table_dir.name == "fetch_log":
                continue
            for d in table_dir.iterdir():
                rel = str(pathlib.Path(table_dir.name) / d.name)
                if rel not in referenced:
                    shutil.rmtree(d)
                    removed.append(rel)
        return removed
