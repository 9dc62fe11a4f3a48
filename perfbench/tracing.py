"""Traced run: spans around calls into the program's public functions,
job and task counts from Spark's StatusTracker, wall/bytes from the Spark
event log, and Python worker time from the UDF profiler.

Spans are recorded from outside the program: ``Tracer.wrap`` replaces
module and class attributes with timing wrappers and ``unpatch`` puts
the originals back. Spans stay in memory (name, layer, start, end,
parent, round) and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import pathlib
import threading
import time

# layer of a span = the program module whose public function it wraps
STAGES_FUNCS = [
    "normalize_urls", "with_url_derivations", "robots_active", "robots_gate",
    "dequeue", "rank_per_host", "split_ranked", "with_fetch_sequence",
    "discover_links", "dedup_in_round", "as_frontier_rows",
]
# UDF-profiler attribution: (metric, file basename, function names). The
# value is the cumulative worker time of those functions. The profiler
# keeps only file basenames, so the codecs entry points (in an
# __init__.py) are also matched on their first line (see _py_keys).
PY_FUNCS = [
    ("fetch.decode_py_s", "fetch.py", ("_decode_batches",)),
    ("codecs.decode_py_s", "__init__.py", ("decode", "psnr")),
    ("arrow_scan.py_s", "arrow_scan.py", ("scan",)),
    ("bloom.probe_py_s", "seen.py", ("probe_group",)),
    ("bloom.build_py_s", "engine.py", ("build",)),
    ("urlnorm.py_s", "normalize.py", ("canonicalize_batch",)),
]
TABLES = ("fetch_log", "frontier", "seen", "bloom")


def dir_size(path: str) -> tuple[int, int]:
    n = b = 0
    for p in pathlib.Path(path).rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            n += 1
            b += p.stat().st_size
    return b, n


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.round: int | None = None  # id shared by every span of a round
        self._round_span: int | None = None  # parent of pool-thread spans
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patched: list = []

    # ----------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _open(self, name: str, layer: str, extra: dict) -> dict:
        stack = self._stack()
        with self._lock:
            span = {"id": len(self.spans), "name": name, "layer": layer,
                    "round": self.round,
                    "parent": stack[-1]["id"] if stack else self._round_span,
                    "start": time.perf_counter(), "end": None, **extra}
            self.spans.append(span)
        stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack().pop()

    def wrap(self, owner, attr: str, layer: str, detail=None, after=None,
             round_of=None):
        """Replace ``owner.attr`` with a timing wrapper. ``detail(args,
        kwargs)`` and ``after(args, kwargs, result)`` add fields to the
        span; ``round_of(args)`` marks a round-level call whose span is
        the parent of spans opened on pool threads during it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            if round_of is not None:
                tracer.round = round_of(a)
            span = tracer._open(f"{layer}.{attr}", layer,
                                detail(a, kw) if detail else {})
            if round_of is not None:
                tracer._round_span = span["id"]
            try:
                out = orig(*a, **kw)
            except BaseException as e:
                span["error"] = type(e).__name__
                raise
            finally:
                tracer._close(span)
                if round_of is not None:
                    tracer._round_span = None
            if after is not None:
                span.update(after(a, kw, out))
            return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def innermost_error(self) -> str | None:
        """Name of the deepest span that saw an exception."""
        errs = [s for s in self.spans if s.get("error")]
        if not errs:
            return None
        ids = {s["parent"] for s in errs}
        leaves = [s for s in errs if s["id"] not in ids]
        s = leaves[-1]
        return s["name"] + (f" ({s['path']})" if s.get("path") else "")

    # ------------------------------------------------------ self time
    def self_times(self) -> dict[int, float]:
        """span id → duration minus the part its children's intervals
        cover (children on pool threads overlap, so intervals are
        merged, not summed)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                         for c in kids.get(s["id"], []) if c["end"] is not None)
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


def install(tracer: Tracer) -> None:
    """Wrap the public functions the per-layer metrics are measured at."""
    from ccrawler_spark.io import arrow_scan, corpus_layout
    from ccrawler_spark.io.snapshot import SnapshotStore
    from ccrawler_spark.scheduler import cli, engine, seen, stages
    from ccrawler_spark.scheduler.engine import CrawlEngine

    tracer.wrap(cli, "build_session", "cli")
    tracer.wrap(cli, "make_engine", "cli")
    tracer.wrap(CrawlEngine, "bootstrap", "engine", round_of=lambda a: 0)
    tracer.wrap(CrawlEngine, "run_round", "engine", round_of=lambda a: a[1])
    for f in STAGES_FUNCS:
        tracer.wrap(stages, f, "stages")
    # engine.py binds these by name at import; patch the names it calls
    tracer.wrap(engine, "seen_dedup", "seen",
                detail=lambda a, kw: {"bloom": (a[3] if len(a) > 3
                                                else kw.get("bloom"))
                                      is not None})
    tracer.wrap(seen, "bloom_probe", "seen")
    tracer.wrap(engine, "fetch_and_decode", "fetch")

    def n(x):
        return len(x) if x is not None else 0

    tracer.wrap(corpus_layout, "pruned_corpus", "corpus",
                detail=lambda a, kw: {"in_literals": max(
                    n(kw.get("hosts")), n(kw.get("ids")))})
    tracer.wrap(corpus_layout, "pruned_corpus_split", "corpus",
                detail=lambda a, kw: {"in_literals": max(
                    n(kw.get("narrow_hosts")), n(kw.get("wide_ids")))})
    tracer.wrap(arrow_scan, "pruned_corpus_arrow", "corpus",
                detail=lambda a, kw: {"ids": sum(
                    len(v) for v in (kw.get("host_ids") or {}).values())})

    def write_after(a, kw, out):
        b, nf = dir_size(a[0].data_path(*a[2:]))
        return {"bytes": b, "files": nf}

    tracer.wrap(SnapshotStore, "write_parquet", "snapshot",
                detail=lambda a, kw: {"path": "/".join(a[2:])},
                after=write_after)
    tracer.wrap(SnapshotStore, "commit", "snapshot")
    tracer.wrap(SnapshotStore, "compact_seen", "snapshot")
    tracer.wrap(SnapshotStore, "compact_bloom", "snapshot")


# ------------------------------------------------------------ Spark side
class JobWatch:
    """Job ids (and their stages' completed task counts) started between
    two calls, from the StatusTracker."""

    def __init__(self, sc):
        self.st = sc.statusTracker()
        self.seen = set(self.st.getJobIdsForGroup(None))

    def new_jobs(self) -> tuple[list[int], int]:
        now = set(self.st.getJobIdsForGroup(None))
        new = sorted(now - self.seen)
        self.seen = now
        stages = set()
        for j in new:
            info = self.st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            si = self.st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
        return new, tasks


def _event_lines(log_dir: pathlib.Path):
    """Lines of the event log under ``log_dir``: Spark 4 writes a v2
    directory of (zstd-compressed) ``events_<n>_*`` files."""
    import io

    import pyarrow as pa

    def index(p):
        return int(p.name.split("_")[1]) if p.name.startswith("events_") else 0

    files = sorted((p for p in log_dir.rglob("*") if p.is_file()
                    and not p.name.startswith((".", "appstatus"))), key=index)
    for p in files:
        if p.suffix == ".zstd":
            with pa.CompressedInputStream(pa.OSFile(str(p)), "zstd") as raw:
                yield from io.TextIOWrapper(io.BufferedReader(raw))
        else:
            with open(p) as f:
                yield from f


def event_log_by_job(log_dir: pathlib.Path) -> dict[int, dict]:
    """job id → description, wall, task run time, input and shuffle-write
    bytes, from the (finished) event log. Tasks are attributed to the
    first job that ran their stage."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            j = ev["Job ID"]
            jobs[j] = {
                "desc": (ev.get("Properties") or {}).get(
                    "spark.job.description") or "",
                "start": ev["Submission Time"], "end": None,
                "run_ms": 0, "input_bytes": 0, "shuffle_bytes": 0,
            }
            for s in ev.get("Stage IDs", []):
                stage_job.setdefault(s, j)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            j = stage_job.get(ev["Stage ID"])
            tm = ev.get("Task Metrics") or {}
            if j is None or not tm:
                continue
            rec = jobs[j]
            rec["run_ms"] += tm.get("Executor Run Time", 0)
            rec["input_bytes"] += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            rec["shuffle_bytes"] += (tm.get("Shuffle Write Metrics")
                                     or {}).get("Shuffle Bytes Written", 0)
    return jobs


def _py_keys() -> dict[tuple, str]:
    """(basename, line or None, function) → metric."""
    from ccrawler_spark import codecs

    lines = {f: getattr(codecs, f).__code__.co_firstlineno
             for f in ("decode", "psnr")}
    return {(base, lines.get(f) if base == "__init__.py" else None, f): m
            for m, base, funcs in PY_FUNCS for f in funcs}


def udf_times(spark) -> dict[str, float]:
    """Cumulative Python worker seconds per PY_FUNCS metric, over every
    UDF profile collected since the last ``spark.profile.clear()``."""
    keys = _py_keys()
    out = {m: 0.0 for m, _, _ in PY_FUNCS}
    for stats in spark._profiler_collector._perf_profile_results.values():
        for (fname, line, func), (_cc, _nc, _tt, ct, _callers) in \
                stats.stats.items():
            base = fname.rsplit("/", 1)[-1]
            m = keys.get((base, None, func)) or keys.get((base, line, func))
            if m is not None:
                out[m] += ct
    return out


# ---------------------------------------------------------- per-layer
def layer_metrics(tracer: Tracer, rounds: list[dict], jobs_by_round,
                  events: dict[int, dict], cores: int) -> dict:
    """Per-layer metrics, averaged per attempted round (``rounds`` holds
    {round, wall_s}); counts noted as totals are summed over the run."""
    n = max(1, len(rounds))
    self_t = tracer.self_times()
    spans = [s for s in tracer.spans if s["end"] is not None]
    by_id = {s["id"]: s for s in tracer.spans}
    in_rounds = [s for s in spans if s["round"] not in (None, 0)]

    def dur(s):
        return s["end"] - s["start"]

    def total(pred):
        return sum(dur(s) for s in in_rounds if pred(s)) / n

    plan_names = {f"stages.{f}" for f in STAGES_FUNCS} | {
        "seen.seen_dedup", "seen.bloom_probe"}

    def outer_plan(s):
        p = by_id.get(s["parent"])
        return s["name"] in plan_names and (p is None
                                            or p["name"] not in plan_names)

    def compaction(s):
        if s["name"] in ("snapshot.compact_seen", "snapshot.compact_bloom"):
            return True
        path = s.get("path", "")
        return (s["name"] == "snapshot.write_parquet"
                and path.startswith("frontier/base-r")
                and not path.endswith("-r0"))

    def table_write(s, table):
        p = by_id.get(s["parent"])
        return (s["name"] == "snapshot.write_parquet"
                and s.get("path", "").split("/")[0] == table
                and not compaction(s)
                and not (p and p["name"].startswith("snapshot.compact_")))

    m: dict[str, float] = {}
    round_spans = [s for s in in_rounds if s["name"] == "engine.run_round"]
    m["engine.self_s"] = sum(self_t[s["id"]] for s in round_spans) / n
    m["stages.plan_s"] = total(outer_plan)
    for t in TABLES:
        m[f"snapshot.write_s.{t}"] = total(lambda s, t=t: table_write(s, t))
    writes = [s for s in in_rounds if s["name"] == "snapshot.write_parquet"]
    m["snapshot.bytes_written"] = sum(s.get("bytes", 0) for s in writes) / n
    m["snapshot.files_written"] = sum(s.get("files", 0) for s in writes) / n
    m["snapshot.compact_s"] = total(compaction)
    m["snapshot.commit_s"] = total(lambda s: s["name"] == "snapshot.commit")

    # corpus access path per round, and the largest IN list passed
    paths = {"flat": 0, "jvm_in": 0, "split": 0, "arrow": 0}
    for rec in rounds:
        names = {s["name"] for s in in_rounds if s["round"] == rec["round"]}
        if "corpus.pruned_corpus_arrow" in names:
            paths["arrow"] += 1
        elif "corpus.pruned_corpus_split" in names:
            paths["split"] += 1
        elif "corpus.pruned_corpus" in names:
            paths["jvm_in"] += 1
        else:
            paths["flat"] += 1
    for k, v in paths.items():
        m[f"corpus.rounds_{k}"] = v  # total over the run
    m["corpus.in_literals"] = max(
        [s.get("in_literals", 0) for s in in_rounds] or [0])
    m["seen.bloom_rounds"] = len({s["round"] for s in in_rounds
                                  if s["name"] == "seen.seen_dedup"
                                  and s.get("bloom")})  # total

    # Spark side, attributed to rounds by StatusTracker job ids
    jobs = tasks = 0
    unlabeled = busy = inp = shuf = 0.0
    for rec in rounds:
        ids, n_tasks = jobs_by_round.get(rec["round"], ([], 0))
        jobs += len(ids)
        tasks += n_tasks
        run_ms = 0
        for j in ids:
            ev = events.get(j)
            if ev is None:
                continue
            run_ms += ev["run_ms"]
            shuf += ev["shuffle_bytes"]
            if not ev["desc"].startswith("store write:") and ev["end"]:
                unlabeled += (ev["end"] - ev["start"]) / 1000
            if ev["desc"].startswith("store write: fetch_log/"):
                inp += ev["input_bytes"]
        busy += run_ms / 1000 / (rec["wall_s"] * cores)
    m["engine.jobs"] = jobs / n
    m["engine.tasks"] = tasks / n
    m["engine.unlabeled_job_s"] = unlabeled / n
    m["engine.core_busy_frac"] = busy / n
    m["corpus.input_bytes"] = inp / n
    m["shuffle.bytes"] = shuf / n

    m["cli.session_s"] = sum(dur(s) for s in spans
                             if s["name"] == "cli.build_session")

    # self time per layer over the whole run (bootstrap included)
    for s in spans:
        k = f"self_s.{s['layer']}"
        m[k] = m.get(k, 0.0) + self_t[s["id"]]
    return m


def write_spans(tracer: Tracer, path: pathlib.Path) -> None:
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    rows = [{**s, "start": s["start"] - t0,
             "end": None if s["end"] is None else s["end"] - t0}
            for s in tracer.spans]
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
