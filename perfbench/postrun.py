"""Counts computed after a run from committed state, through public
functions only: bloom false-positive rate, share of discovered links
that were new, longest delta chain, and store bytes per table."""

from __future__ import annotations

import numpy as np

from tracing import TABLES, dir_size


def absent_urls(hosts: list[str], pages: list[int], total: int = 20_000):
    """URLs no crawl can reach: page numbers past each host's last page
    (outlinks only target pages < pages[host]), spread evenly over hosts
    so every bloom segment is probed."""
    per = max(1, total // len(hosts))
    return [f"http://{h}/p/{p + j}" for h, p in zip(hosts, pages)
            for j in range(per)]


def bloom_fpr(store, committed: int, conf, hosts, pages, seen: set[str]):
    from ccrawler_spark.bloom import filter as bf
    from ccrawler_spark.functions.hashing import umod, xxhash64_str

    urls = [u for u in absent_urls(hosts, pages) if u not in seen]
    segs = {int(r["host_bucket"]): np.frombuffer(r["bits"], dtype=np.uint8)
            for r in store.read_bloom_latest(committed).collect()}
    by_bucket: dict[int, list[int]] = {}
    for u in urls:
        host = u.split("/")[2]
        b = umod(xxhash64_str(host), conf.host_buckets)
        by_bucket.setdefault(b, []).append(xxhash64_str(u))
    positives = 0
    for b, hs in by_bucket.items():
        positives += int(bf.probe(segs.get(b), np.array(hs, dtype=np.int64),
                                  conf.bloom_num_hashes).sum())
    return positives / len(urls) if urls else 0.0


def new_frac(store, committed: int, conf, pages, enqueued: int) -> float:
    """Enqueued URLs ÷ distinct link targets discovered per round (the
    candidates the seen layer checks), from the committed fetch log."""
    from ccrawler_spark.oracle.ccrawler_sim import outlinks

    rows = store.read_fetch_log(committed).select(
        "round", "url", "depth").collect()
    per_round: dict[int, set] = {}
    for r in rows:
        if int(r["depth"]) + 1 > conf.max_depth:
            continue
        per_round.setdefault(int(r["round"]), set()).update(
            outlinks(r["url"], len(pages), pages))
    discovered = sum(len(v) for v in per_round.values())
    return enqueued / discovered if discovered else 0.0


def chain_len(store, committed: int) -> int:
    longest = 0
    for n in range(committed + 1):
        m = store.read_manifest(n)
        fr = m["frontier"]
        longest = max(longest, len(fr["adds"]), len(fr["removes"]),
                      len(m["seen"]["deltas"]), len(m["bloom"]["deltas"]))
    return longest


def post_run_counts(store, committed: int, conf, hosts, pages,
                    enqueued: int) -> dict:
    seen = {r["url"] for r in store.read_seen(committed).select("url").collect()}
    out = {
        "bloom.fpr": bloom_fpr(store, committed, conf, hosts, pages, seen),
        "seen.new_frac": new_frac(store, committed, conf, pages, enqueued),
        "snapshot.chain_len": chain_len(store, committed),
    }
    for t in TABLES + ("metrics",):
        out[f"store.bytes.{t}"] = dir_size(store.data_path(t))[0]
    return out
