"""Output check of one run against ``oracle.ccrawler_sim.run_oracle`` for
the same seeds, conf and committed rounds: fetch-log order, frontier
size per round, the final seen set, and the per-row decode invariants.
Returns the first failing round (or None) with a reason."""

from __future__ import annotations


def first_bad_round(store, seeds, hosts, pages, conf, committed: int,
                    queued_after: dict[int, int]) -> tuple[int | None, str]:
    from pyspark.sql import functions as F

    from ccrawler_spark.oracle.ccrawler_sim import run_oracle

    oracle = run_oracle(seeds, hosts, pages, conf, committed)
    bad: list[tuple[int, str]] = []

    for r, n in sorted(queued_after.items()):
        want = len(oracle.frontier_after[r])
        if n != want:
            bad.append((r, f"frontier size r{r}: engine {n}, oracle {want}"))
            break
    if committed == 0:
        return (bad[0] if bad else (None, ""))

    log = store.read_fetch_log(committed)
    eng = [
        (int(x["round"]), int(x["seq"]), x["url"], x["host"], int(x["slot_ms"]))
        for x in log.select("round", "seq", "url", "host", "slot_ms")
        .orderBy("seq").collect()
    ]
    orc = [(f.round, f.seq, f.url, f.host, f.slot_ms) for f in oracle.fetch_log]
    for e, o in zip(eng, orc):
        if e != o:
            r = min(e[0], o[0])
            bad.append((r, f"fetch log r{r}: engine {e}, oracle {o}"))
            break
    else:
        if len(eng) != len(orc):
            short = eng if len(eng) < len(orc) else orc
            r = (short[-1][0] + 1) if short else 1
            bad.append((r, f"fetch log length: engine {len(eng)}, "
                           f"oracle {len(orc)}"))

    ok = (F.col("fetch_ok") & F.col("pixels_ok") & F.col("caption_ok")
          & F.col("phash_ok") & (F.col("psnr_db") >= 40.0))
    for x in (log.filter(~ok).groupBy("round").count()
              .orderBy("round").limit(1).collect()):
        bad.append((int(x["round"]),
                    f"r{x['round']}: {x['count']} fetched rows fail "
                    "fetch/pixels/caption/phash/psnr>=40"))

    seen = {x["url"] for x in store.read_seen(committed).select("url").collect()}
    if seen != oracle.seen:
        bad.append((committed, f"seen set: engine {len(seen)}, oracle "
                               f"{len(oracle.seen)}, "
                               f"{len(seen ^ oracle.seen)} differ"))
    if not bad:
        return None, ""
    return min(bad)
