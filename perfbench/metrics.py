"""Round accounting and run-set statistics. Pure Python: no Spark, so the
arithmetic is pinned by tests/test_metrics.py with a stub engine.

A run plans a fixed number of rounds and drives them one at a time
(closed loop). A round that raises ends the run; a round whose output
disagrees with the oracle is failed after the fact. Failed and
unreached rounds count as infinitely slow, a failed round's wall time
still counts against throughput, and its URLs do not.
"""

from __future__ import annotations

import math
import re
import statistics
import time
import traceback
from dataclasses import dataclass, field

INF = math.inf

# end-to-end metric names, in print order, with their units
END_TO_END_UNITS = {
    "setup_s": "s",
    "bootstrap_s": "s",
    "urls_per_s": "urls/s",
    "round_s.p50": "s",
    "round_s.max": "s",
    "rounds_failed_frac": "frac",
    "peak_rss_mb": "MB",
}


@dataclass
class RoundRecord:
    round: int
    wall_s: float
    fetched: int
    ok: bool


@dataclass
class Failure:
    round: int
    exc_class: str
    message_head: str
    raised_in: str
    java_classes: list[str] = field(default_factory=list)
    reason: str = "raised"  # "raised" | "oracle mismatch"
    span: str | None = None  # innermost traced call that saw it (traced run)

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def raising_call(exc: BaseException, package: str = "ccrawler_spark") -> str:
    """The innermost frame of ``package`` in the exception's traceback,
    as ``module.qualname:line`` — the program call that raised. Frames
    of a pool thread re-raised through ``Future.result`` are included
    (the traceback keeps them). ``write_parquet`` frames also name the
    table they were writing."""
    found = "?"
    for frame, line in traceback.walk_tb(exc.__traceback__):
        mod = frame.f_globals.get("__name__", "")
        if not mod.startswith(package):
            continue
        found = f"{mod}.{frame.f_code.co_qualname}:{line}"
        parts = frame.f_locals.get("parts")
        if frame.f_code.co_name == "write_parquet" and parts:
            found += f" ({'/'.join(parts)})"
    return found


def java_classes(text: str) -> list[str]:
    """Distinct JVM exception/error class names in a Py4J message, in
    order of appearance (the root cause is usually the last)."""
    seen: list[str] = []
    for m in re.finditer(
        r"\b((?:java|javax|scala|org)\.[\w.$]+(?:Error|Exception))\b", text
    ):
        if m.group(1) not in seen:
            seen.append(m.group(1))
    return seen


def failure_of(r: int, exc: BaseException, raised_in: str | None = None,
               head: int = 300) -> Failure:
    msg = str(exc)
    return Failure(
        round=r,
        exc_class=type(exc).__name__,
        message_head=" ".join(msg.split())[:head],
        raised_in=raised_in or raising_call(exc),
        java_classes=java_classes(msg)[:6],
    )


def drive_rounds(run_round, planned: int, clock=time.perf_counter,
                 on_round=None):
    """Run rounds 1..planned, one at a time. Returns (records, failure).
    A round that raises ends the run: its wall time is recorded with
    ok=False and no later round is attempted."""
    records: list[RoundRecord] = []
    for r in range(1, planned + 1):
        t0 = clock()
        try:
            st = run_round(r)
        except Exception as exc:  # the benchmark's boundary: record, stop
            records.append(RoundRecord(r, clock() - t0, 0, False))
            return records, failure_of(r, exc)
        records.append(RoundRecord(r, clock() - t0, int(st.fetched), True))
        if on_round is not None:
            on_round(r)
    return records, None


def fail_from(records: list[RoundRecord], r: int) -> None:
    """An output check failed at round r: r and every later committed
    round stop counting as done (their wall time still counts)."""
    for rec in records:
        if rec.round >= r:
            rec.ok = False


def round_metrics(planned: int, records: list[RoundRecord]) -> dict:
    """urls_per_s, round_s.p50/max, rounds_failed_frac over the planned
    rounds. Failed or unreached rounds are ∞ in round_s.*."""
    walls = [rec.wall_s if rec.ok else INF for rec in records]
    walls += [INF] * (planned - len(records))
    total_wall = sum(rec.wall_s for rec in records)
    urls = sum(rec.fetched for rec in records if rec.ok)
    n_ok = sum(rec.ok for rec in records)
    return {
        "urls_per_s": urls / total_wall if total_wall > 0 else 0.0,
        "round_s.p50": statistics.median(walls),
        "round_s.max": max(walls),
        "rounds_failed_frac": (planned - n_ok) / planned,
    }


# ------------------------------------------------------------ run sets
_BIG = 1e300


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as statistics.quantiles(n=4) gives them, with ∞
    allowed: an order statistic that interpolates towards ∞ is ∞."""
    xs = [min(v, _BIG) for v in values]
    if len(xs) == 1:
        q = (xs[0],) * 3
    else:
        q = statistics.quantiles(xs, n=4)
    return tuple(INF if v > _BIG / 1e10 else v for v in q)


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (0 when every
    value is equal, ∞ when the median is ∞ or 0 with spread)."""
    q1, med, q3 = quartiles(values)
    if q1 == q3:
        return 0.0
    if math.isinf(q3) or med == 0:
        return INF
    return (q3 - q1) / med


def summarize(runs: list[dict]) -> dict:
    """Per metric over a run set: n, median, q1, q3, spread. Every run
    counts, failed ones too — a failure shows as ∞ / a nonzero frac."""
    names = sorted({k for r in runs for k in r})
    out = {}
    for k in names:
        vals = [r[k] for r in runs if k in r]
        q1, med, q3 = quartiles(vals)
        out[k] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                  "spread": spread(vals)}
    return out


def agrees(first: float, second: float, bound: float, better: str,
           exact: bool = False) -> bool:
    """Second median is not worse than the first by more than ``bound``
    (a share of the first). ∞ agrees only with ∞; ``exact`` metrics
    (failure fractions) agree only with an equal value."""
    if exact or math.isinf(first) or math.isinf(second):
        return first == second
    if first == 0:
        return second == 0
    worse = (second - first) if better == "lower" else (first - second)
    return worse / abs(first) <= bound
