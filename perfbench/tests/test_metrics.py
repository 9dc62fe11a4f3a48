"""Round accounting with a stub engine (no Spark):

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metrics import (  # noqa: E402
    INF, agrees, drive_rounds, fail_from, java_classes, quartiles,
    round_metrics, spread, summarize,
)


class FakeClock:
    """Each run_round call advances the clock by its round's wall."""

    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class StubEngine:
    def __init__(self, clock, walls, fetched, raise_at=None):
        self.clock, self.walls, self.fetched = clock, walls, fetched
        self.raise_at = raise_at
        self.calls = []

    def run_round(self, r):
        self.calls.append(r)
        self.clock.t += self.walls[r - 1]
        if r == self.raise_at:
            raise RuntimeError("java.lang.StackOverflowError in scan task")
        return SimpleNamespace(fetched=self.fetched[r - 1])


def _run(walls, fetched, raise_at=None, planned=None):
    clock = FakeClock()
    eng = StubEngine(clock, walls, fetched, raise_at)
    recs, failure = drive_rounds(eng.run_round, planned or len(walls), clock)
    return eng, recs, failure


def test_all_rounds_ok():
    _, recs, failure = _run([2.0, 4.0, 3.0, 5.0], [10, 20, 30, 40])
    m = round_metrics(4, recs)
    assert failure is None
    assert m["urls_per_s"] == 100 / 14
    assert m["round_s.p50"] == 3.5
    assert m["round_s.max"] == 5.0
    assert m["rounds_failed_frac"] == 0.0


def test_raise_in_last_round_counts_wall_not_urls():
    eng, recs, failure = _run([2.0, 4.0, 3.0, 5.0], [10, 20, 30, 40],
                              raise_at=4)
    m = round_metrics(4, recs)
    assert eng.calls == [1, 2, 3, 4]
    assert failure.round == 4 and failure.exc_class == "RuntimeError"
    assert failure.java_classes == ["java.lang.StackOverflowError"]
    # the failed round's 5 s count; its 40 URLs do not
    assert m["urls_per_s"] == 60 / 14
    assert m["round_s.p50"] == 3.5  # median of 2, 3, 4, ∞
    assert m["round_s.max"] == INF
    assert m["rounds_failed_frac"] == 0.25


def test_raise_ends_the_run_and_later_rounds_are_inf():
    eng, recs, failure = _run([2.0, 4.0, 3.0, 5.0], [10, 20, 30, 40],
                              raise_at=2)
    m = round_metrics(4, recs)
    assert eng.calls == [1, 2]  # rounds 3 and 4 never attempted
    assert len(recs) == 2
    assert m["urls_per_s"] == 10 / 6
    assert m["round_s.p50"] == INF  # median of 2, ∞, ∞, ∞
    assert m["rounds_failed_frac"] == 0.75


def test_oracle_mismatch_fails_that_round_and_later():
    _, recs, _ = _run([2.0, 4.0, 3.0, 5.0], [10, 20, 30, 40])
    fail_from(recs, 3)
    m = round_metrics(4, recs)
    assert m["urls_per_s"] == 30 / 14
    assert m["round_s.max"] == INF
    assert m["rounds_failed_frac"] == 0.5


def test_failed_run_stays_in_run_set():
    ok = round_metrics(4, _run([2.0] * 4, [10] * 4)[1])
    bad = round_metrics(4, _run([2.0] * 4, [10] * 4, raise_at=4)[1])
    s = summarize([ok, ok, bad])
    assert s["round_s.max"]["n"] == 3
    assert s["rounds_failed_frac"]["q3"] > 0
    assert s["round_s.max"]["q3"] == INF


def test_quartiles_match_statistics_and_handle_inf():
    import statistics

    xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    assert spread([2.0] * 10) == 0.0
    assert quartiles([1.0, 2.0, INF, INF])[2] == INF
    assert spread([1.0, 2.0, INF, INF]) == INF


def test_agreement_rules():
    assert agrees(10.0, 11.0, 0.1, "lower")
    assert not agrees(10.0, 11.5, 0.1, "lower")
    assert agrees(10.0, 8.0, 0.1, "lower")  # better is fine
    assert not agrees(10.0, 8.5, 0.1, "higher")
    assert agrees(INF, INF, 0.1, "lower")
    assert not agrees(INF, 10.0, 0.1, "lower")
    assert agrees(0.25, 0.25, 0.1, "lower", exact=True)
    assert not agrees(0.25, 0.0, 0.1, "lower", exact=True)


def test_java_classes_from_py4j_message():
    msg = ("An error occurred while calling o512.parquet.\n: "
           "org.apache.spark.SparkException: Job aborted due to stage "
           "failure: ... java.lang.StackOverflowError\n\tat scala.x")
    assert java_classes(msg) == ["org.apache.spark.SparkException",
                                 "java.lang.StackOverflowError"]
