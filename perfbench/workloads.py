"""Workload definitions and their seeded inputs.

Every input comes from the deterministic fixtures of
``ccrawler_spark.fixtures.gen``. The seed picks the sampled seed-URL
list and which 10 % of the seed URLs are spelled denormalized
(``gen.denormalize``); the fixture itself never changes with the seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    size: str  # fixture size: tiny | small
    conf: str  # key of confs()
    n_seeds: int | None  # None: the whole URL universe is seeded
    layout: bool  # bucket-partitioned corpus_layout, else flat corpus.parquet
    rounds: int  # planned rounds
    why: str


def confs() -> dict:
    from dataclasses import replace

    from ccrawler_spark import conf as confmod
    from ccrawler_spark.conf import CrawlConf

    grow = CrawlConf(per_host_k=20, round_budget=20_000)
    return {
        "TINY": confmod.TINY,
        "BENCH": confmod.BENCH,
        "GROW": grow,
        "RECRAWL": replace(grow, recrawl_interval_micros=150_000_000),
    }


# The four full workloads (run together by `run.py --all`).
FULL = [
    Workload(
        "tiny", "tiny", "TINY", 10, True, 8,
        "metadata-sized rounds: round time is the engine's fixed per-round "
        "cost (jobs, py4j plan building, commit); head refills at r4/r8, "
        "first compaction at r8",
    ),
    Workload(
        "drain", "small", "BENCH", None, True, 4,
        "the BASELINE.json shape: fetch join, layout corpus scan and decode "
        "do the work; nothing new is enqueued; r4 refills the head",
    ),
    Workload(
        "grow", "small", "GROW", 25_000, False, 8,
        "new URLs dominate: discovery, in-round dedup, bloom probe/build, "
        "seen anti-join and delta writes; flat corpus, the control for "
        "corpus-access changes",
    ),
    Workload(
        "recrawl", "small", "RECRAWL", None, False, 6,
        "bypasses the head cache: stages.dequeue and the robots gate run "
        "over the full due frontier every round while fetched rows are "
        "rewritten as adds; flat corpus",
    ),
]

# The gated run set (BENCHMARK.json): 4 + 22 runs per workload, each
# paying a JVM start and a bootstrap (~40 s together), must fit its time
# budget on a 4-core box, so these are short: tiny-fixture rounds, two
# per run, because one small-fixture round fills a run and a single
# round's wall varies by ±15 % between runs. A third round costs ~5 s a
# run and spreads more between runs than the first two (README.md), so
# it makes round_s.p50 less steady, not more. Each run's work must not
# depend on the seed, or the run-to-run spread measures the seed instead
# of the program: both seed the whole tiny universe. They differ only in
# the corpus layout, one exercising it and one bypassing it.
GATED = [
    Workload(
        "tiny-saturated", "tiny", "TINY", None, True, 2,
        "whole tiny universe seeded, head cache and layout on: each round "
        "fetches the per-host cap whatever the seed, so round time is the "
        "engine's fixed per-round cost",
    ),
    Workload(
        "tiny-flat", "tiny", "TINY", None, False, 2,
        "tiny-saturated over the flat corpus.parquet, as scheduler.cli runs "
        "it: the control for the corpus layout's pruned fetch join",
    ),
]

WORKLOADS = {w.name: w for w in FULL + GATED}


def universe(size: str) -> tuple[list[str], list[str], list[int]]:
    """(canonical URLs, hosts, pages per host) of a fixture size."""
    from ccrawler_spark.fixtures import gen

    H, U, _, _ = gen.SIZES[size]
    pages = gen.page_allocation(H, U)
    hosts = [gen.host_name(i) for i in range(H)]
    return list(gen.universe_urls(H, pages)), hosts, [int(p) for p in pages]


def seed_urls(w: Workload, seed: int, urls: list[str]) -> list[str]:
    """The seed list as spelled: a seeded sample (or the whole universe,
    in universe order) with a seeded 10 % spelled denormalized."""
    from ccrawler_spark.fixtures import gen

    rng = random.Random(f"{w.name}|{seed}")
    chosen = urls if w.n_seeds is None else rng.sample(urls, w.n_seeds)
    denorm = set(rng.sample(range(len(chosen)), len(chosen) // 10))
    return [gen.denormalize(u) if i in denorm else u
            for i, u in enumerate(chosen)]


def write_seeds(path: str, spelled: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "url": pa.array(spelled),
        "priority": pa.array([0] * len(spelled), pa.int32()),
    }), path)
