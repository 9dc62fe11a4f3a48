"""Crawl-round benchmark: drives CrawlEngine the way users run it
(``scheduler.cli.build_session`` + ``make_engine``, settings unchanged)
in a closed loop — one driver, one round at a time — and checks every
run against the oracle.

    python3 perfbench/run.py --workload tiny-saturated --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all [--seed 1]      # the four full workloads
    python3 perfbench/run.py --write-benchmark-json

Run from the repository root. The last stdout line of a single run is
one JSON object {correct, attempted, failed, metrics}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. See
perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

import oracle_check  # noqa: E402
import postrun  # noqa: E402
import probes  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from metrics import (  # noqa: E402
    END_TO_END_UNITS, INF, drive_rounds, fail_from, failure_of, round_metrics,
)
from workloads import FULL, GATED, WORKLOADS  # noqa: E402

# what the gated run set reports, with the share by which each may worsen;
# README.md gives the run-to-run spreads these bounds were set from
END_TO_END = [
    ("setup_s", "lower", 0.25),
    ("bootstrap_s", "lower", 0.25),
    ("urls_per_s", "higher", 0.25),
    ("round_s.p50", "lower", 0.25),
    ("round_s.max", "lower", 0.25),
]
# the per-layer metrics defined on every gated workload; the traced run
# reports more (README.md has the full table)
PER_LAYER = [
    ("engine.jobs", "count", "lower"),
    ("engine.tasks", "count", "lower"),
    ("engine.self_s", "s", "lower"),
    ("engine.unlabeled_job_s", "s", "lower"),
    ("engine.core_busy_frac", "frac", "higher"),
    ("stages.plan_s", "s", "lower"),
    ("fetch.decode_py_s", "s", "lower"),
    ("codecs.decode_py_s", "s", "lower"),
    ("corpus.input_bytes", "B", "lower"),
    ("snapshot.write_s.fetch_log", "s", "lower"),
    ("snapshot.write_s.frontier", "s", "lower"),
    ("snapshot.bytes_written", "B", "lower"),
    ("snapshot.files_written", "count", "lower"),
    ("snapshot.commit_s", "s", "lower"),
    ("shuffle.bytes", "B", "lower"),
    ("urlnorm.py_s", "s", "lower"),
    ("cli.session_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
RUN_SECONDS = 10


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in GATED],
        "end_to_end": [{"name": n, "unit": END_TO_END_UNITS[n],
                        "better": b, "bound": bound}
                       for n, b, bound in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in PER_LAYER],
    }


# ------------------------------------------------------------ helpers
def _env() -> None:
    """Keep fixtures, Spark scratch and temp files inside the checkout."""
    for d in ("fixtures", "spark-local", "tmp", "reports", "runs"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["CCRAWLER_FIXTURE_DIR"] = str(WORK / "fixtures")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare(w) -> float:
    """Cached one-time inputs (fixtures; the corpus layout, built in a
    child process so this run's JVM and timings stay clean). Returns the
    wall time spent, which setup_s excludes."""
    t0 = time.perf_counter()
    from ccrawler_spark.fixtures.gen import ensure_fixtures

    fdir = ensure_fixtures(w.size)
    if w.layout and not (fdir / "_LAYOUT_DONE").exists():
        subprocess.run([sys.executable, str(HERE / "run.py"),
                        "--prepare-layout", w.size], check=True, timeout=900)
    return time.perf_counter() - t0


def prepare_layout(size: str) -> int:
    from ccrawler_spark.fixtures.gen import ensure_corpus_layout, ensure_fixtures
    from ccrawler_spark.scheduler.cli import build_session

    fdir = ensure_fixtures(size)
    spark = build_session(_cores())
    try:
        ensure_corpus_layout(spark, fdir)
    finally:
        stop_session(spark, [])
    return 0


def spawn_workers(spark, cores: int) -> None:
    """Start one Python worker per core (users pay this on the first UDF
    of every session)."""
    def ident(batches):
        yield from batches

    spark.range(0, cores, 1, cores).mapInArrow(ident, "id long").collect()


def stop_session(spark, pids) -> list[int]:
    """Stop Spark, the JVM and its Python workers, and wait for each to
    end. Returns pids that had to be killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = set(pids) | (set(probes.tree(proc.pid)) if proc else set())
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = SparkContext._jvm = None
    return probes.reap(pids)


# ------------------------------------------------------------ one run
def run_once(w, seed: int, seconds: float, trace: bool) -> dict:
    loadavg0, cpu0 = probes.loadavg(), probes.cpu_times()
    t_inputs = time.perf_counter()
    prep_s = prepare(w)
    rundir = WORK / "runs" / f"{w.name}-s{seed}-t{int(trace)}-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    rundir.mkdir(parents=True)
    evdir = rundir / "eventlog"
    tracer = None
    if trace:
        evdir.mkdir()
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{evdir} pyspark-shell")
        tracer = tracing.Tracer()
        tracing.install(tracer)

    from ccrawler_spark.fixtures.gen import ensure_fixtures
    from ccrawler_spark.scheduler import cli

    conf = workloads.confs()[w.conf]
    fdir = ensure_fixtures(w.size)
    layout = str(fdir / "corpus_layout") if w.layout else None
    cores = _cores()
    urls, hosts, pages = workloads.universe(w.size)
    seeds = workloads.seed_urls(w, seed, urls)
    seeds_path = str(rundir / "seeds.parquet")
    workloads.write_seeds(seeds_path, seeds)
    inputs_s = time.perf_counter() - t_inputs  # cached builds + seed list

    def new_engine(i):
        return cli.make_engine(spark, str(fdir), str(rundir / f"store-{i}"),
                               conf=conf, corpus_layout=layout)

    # ---- setup: process start → engine ready (input generation excluded)
    spark = cli.build_session(cores)
    from pyspark import SparkContext

    # untraced runs sample rarely: the sampler thread takes the GIL
    sampler = probes.RssSampler(SparkContext._gateway.proc.pid,
                                0.2 if trace else 1.0).__enter__()
    reps = []  # one entry per repetition of bootstrap + planned rounds
    jobs_by_round: dict = {}
    udf: dict = {}
    post: dict = {}
    try:
        if trace:
            # before the first UDF: a worker that ran a mapInArrow UDF
            # unprofiled does not profile later ones
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        engine, store = new_engine(0)
        spawn_workers(spark, cores)
        setup_s = time.perf_counter() - T_PROC - inputs_s
        watch = None
        if trace:
            spark.profile.clear()
            watch = tracing.JobWatch(spark.sparkContext)

        measured = 0.0
        while not reps or (measured < seconds and not trace
                           and reps[-1]["failure"] is None):
            if reps:
                engine, store = new_engine(len(reps))
            rep = _repetition(spark, engine, store, w, seeds_path, watch,
                              jobs_by_round, udf)
            if rep["failure"] is not None and tracer is not None:
                rep["failure"].span = tracer.innermost_error()
            measured += rep["bootstrap_s"] + sum(
                r.wall_s for r in rep["records"])
            reps.append(rep)
        if trace:
            udf["rounds"] = tracing.udf_times(spark)

        # ---- output check (not timed)
        t_check = time.perf_counter()
        checks = [_check(rep, seeds, hosts, pages, conf) for rep in reps]
        if trace and reps[0]["stats"] and max(reps[0]["stats"]) >= 1:
            stats = reps[0]["stats"]
            post = postrun.post_run_counts(
                reps[0]["store"], max(stats), conf, hosts, pages,
                sum(st.enqueued for r, st in stats.items() if r))
        check_s = time.perf_counter() - t_check
    finally:
        sampler.__exit__(None, None, None)
        t_stop = time.perf_counter()
        killed = stop_session(spark, sampler.pids)
        stop_s = time.perf_counter() - t_stop
    loadavg1, cpu1 = probes.loadavg(), probes.cpu_times()

    # ---- end-to-end metrics
    planned = w.rounds * len(reps)
    all_records = [r for rep in reps for r in rep["records"]]
    e2e = {"setup_s": setup_s,
           "bootstrap_s": statistics.median(r["bootstrap_s"] for r in reps)}
    e2e.update(round_metrics(planned, all_records))
    if len(reps) > 1:
        e2e["round_s.max"] = statistics.median(
            round_metrics(w.rounds, r["records"])["round_s.max"] for r in reps)
    e2e["peak_rss_mb"] = sampler.peak_kb / 1024

    report = {
        "workload": w.name, "seed": seed, "trace": trace,
        "planned_rounds": planned, "repetitions": len(reps),
        "measured_s": measured, "end_to_end": e2e,
        "failures": [r["failure"].as_dict() for r in reps if r["failure"]],
        "oracle": checks,
        "rounds": [dict(r.__dict__) for r in all_records],
        "provenance": {
            **probes.source_commit(ROOT), "seed": seed, "cores_used": cores,
            "nproc": os.cpu_count(), "loadavg_start": loadavg0,
            "loadavg_end": loadavg1,
            "cpu_steal_frac": probes.steal_frac(cpu0, cpu1),
            "inputs_s": inputs_s, "input_prep_s": prep_s,
            "check_s": check_s, "stop_s": stop_s,
            "processes_killed_at_exit": killed,
        },
    }
    if trace:
        rounds = [{"round": r.round, "wall_s": r.wall_s}
                  for r in reps[0]["records"]]
        layer = tracing.layer_metrics(tracer, rounds, jobs_by_round,
                                      tracing.event_log_by_job(evdir), cores)
        n = max(1, len(rounds))
        for k, v in udf["rounds"].items():
            layer[k] = v / n
        layer["urlnorm.py_s"] = udf["bootstrap"]["urlnorm.py_s"]
        layer.update(post)
        # the summed RSS does not repeat within a tenth between runs
        # (README.md), so it is a per-layer number, not a gated one
        layer["peak_rss_mb"] = e2e["peak_rss_mb"]
        layer["peak_rss_mb.jvm"] = sampler.peak_jvm_kb / 1024
        layer["peak_rss_mb.python_workers"] = sampler.peak_workers_kb / 1024
        layer.update(_overhead(w.name, seed, e2e))
        report["per_layer"] = layer
        trdir = WORK / "traces"
        trdir.mkdir(exist_ok=True)
        tracing.write_spans(tracer, trdir / f"{w.name}-s{seed}.spans.jsonl")
        tracer.unpatch()
    shutil.rmtree(rundir, ignore_errors=True)
    (WORK / "reports" / f"{w.name}-s{seed}-t{int(trace)}.json").write_text(
        json.dumps(report, indent=1, default=str))
    return report


def _repetition(spark, engine, store, w, seeds_path, watch, jobs_by_round,
                udf) -> dict:
    """Bootstrap plus the planned rounds on one fresh store."""
    stats: dict[int, object] = {}
    t0 = time.perf_counter()
    try:
        stats[0] = engine.bootstrap(spark.read.parquet(seeds_path))
        failure = None
    except Exception as exc:  # the benchmark's boundary: record, stop
        failure = failure_of(0, exc)
    bootstrap_s = time.perf_counter() - t0
    if watch is not None:
        jobs_by_round[0] = watch.new_jobs()
        udf["bootstrap"] = tracing.udf_times(spark)
        spark.profile.clear()

    def one_round(r):
        try:
            stats[r] = engine.run_round(r)
            return stats[r]
        finally:
            if watch is not None:
                jobs_by_round[r] = watch.new_jobs()

    records = []
    if failure is None:
        records, failure = drive_rounds(one_round, w.rounds)
    return {"store": store, "stats": stats, "records": records,
            "failure": failure, "bootstrap_s": bootstrap_s}


def _check(rep, seeds, hosts, pages, conf) -> str:
    """Oracle check of one repetition; fails its rounds from the first
    bad one. Returns "ok" or what differed."""
    if not rep["stats"]:
        return "bootstrap did not commit"
    bad, why = oracle_check.first_bad_round(
        rep["store"], seeds, hosts, pages, conf, max(rep["stats"]),
        {r: st.queued_after for r, st in rep["stats"].items()})
    if bad is None:
        return "ok"
    fail_from(rep["records"], max(1, bad))
    if rep["failure"] is None:
        rep["failure"] = failure_of(max(1, bad), AssertionError(why), "oracle")
        rep["failure"].reason = "oracle mismatch"
    return why


def _overhead(name: str, seed: int, traced: dict) -> dict:
    """Traced end-to-end numbers relative to the untraced run of the
    same workload and seed (or the latest untraced one)."""
    reports = WORK / "reports"
    cand = reports / f"{name}-s{seed}-t0.json"
    if not cand.exists():
        found = sorted(reports.glob(f"{name}-s*-t0.json"),
                       key=lambda p: p.stat().st_mtime)
        if not found:
            return {}
        cand = found[-1]
    base = json.loads(cand.read_text())["end_to_end"]
    out = {}
    for k in ("bootstrap_s", "round_s.p50", "urls_per_s"):
        if base.get(k) and base[k] != INF and traced.get(k) not in (None, INF):
            out[f"trace.overhead.{k}"] = traced[k] / base[k] - 1
    return out


def _fmt(v) -> str:
    if isinstance(v, float):
        return "inf" if v == INF else f"{v:.6g}"
    return str(v)


def print_report(rep: dict) -> None:
    print(f"== {rep['workload']} seed={rep['seed']} trace={int(rep['trace'])}"
          f" rounds={rep['planned_rounds']} reps={rep['repetitions']}")
    for k, unit in END_TO_END_UNITS.items():
        print(f"  {k:<22} {_fmt(rep['end_to_end'][k]):>14} {unit}")
    for f in rep["failures"]:
        print(f"  FAILED r{f['round']} ({f['reason']}) {f['exc_class']} "
              f"{f['java_classes']} in {f['raised_in']}"
              + (f", traced call {f['span']}" if f.get("span") else "")
              + f": {f['message_head'][:200]}")
    print(f"  oracle: {'; '.join(rep['oracle'])}")
    for k, v in sorted(rep.get("per_layer", {}).items()):
        print(f"  {k:<34} {_fmt(v)}")
    print(f"  provenance: {json.dumps(rep['provenance'])}")


def result_line(rep: dict) -> dict:
    """The machine-read last stdout line of a run."""
    correct = not rep["failures"] and all(c == "ok" for c in rep["oracle"])
    failed = round(rep["end_to_end"]["rounds_failed_frac"]
                   * rep["planned_rounds"])
    if rep["trace"]:
        units = {n: u for n, u, _ in PER_LAYER}
        src = rep["per_layer"]
    else:
        units = END_TO_END_UNITS
        src = rep["end_to_end"]
        units = {n: units[n] for n, _, _ in END_TO_END}
    metrics = {n: {"value": None if src.get(n) in (None, INF) else src[n],
                   "unit": u} for n, u in units.items()}
    return {"correct": correct, "attempted": rep["planned_rounds"],
            "failed": failed, "metrics": metrics}


# ------------------------------------------------------------ --all
def run_all(seed: int) -> int:
    """The four full workloads, each untraced then traced, in child
    processes (each pays its own JVM start like a user's run)."""
    table = []
    for w in FULL:
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w.name,
                   "--seed", str(seed), "--seconds", "0",
                   "--trace", str(trace)]
            print("$", " ".join(cmd[1:]), flush=True)
            p = subprocess.run(cmd, timeout=1800, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            out = p.stdout.strip().splitlines()
            print("\n".join(out[:-1]), flush=True)
            path = WORK / "reports" / f"{w.name}-s{seed}-t{trace}.json"
            if p.returncode != 0 or not path.exists():
                print(f"  run failed with exit code {p.returncode}")
                continue
            table.append(json.loads(path.read_text()))
    print("\n== end-to-end (trace off) ==")
    names = list(END_TO_END_UNITS)
    print(f"{'workload':<10}" + "".join(f"{n:>20}" for n in names))
    print(f"{'':<10}" + "".join(f"{END_TO_END_UNITS[n]:>20}" for n in names))
    for rep in table:
        if not rep["trace"]:
            print(f"{rep['workload']:<10}" + "".join(
                f"{_fmt(rep['end_to_end'][n]):>20}" for n in names))
    print("\n== per-layer (traced run) ==")
    traced = [r for r in table if r["trace"]]
    keys = sorted({k for r in traced for k in r["per_layer"]})
    print(f"{'metric':<34}" + "".join(f"{r['workload']:>14}" for r in traced))
    for k in keys:
        print(f"{k:<34}" + "".join(
            f"{_fmt(r['per_layer'].get(k, '-')):>14}" for r in traced))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=0.0,
                    help="measure at least this long: repeat the workload "
                         "(fresh store, same session) until reached")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--write-benchmark-json", action="store_true")
    ap.add_argument("--prepare-layout", metavar="SIZE")
    args = ap.parse_args(argv)

    if args.write_benchmark_json:
        (ROOT / "BENCHMARK.json").write_text(
            json.dumps(benchmark_json(), indent=2) + "\n")
        return 0
    if not (ROOT / "ccrawler_spark" / "scheduler" / "engine.py").is_file():
        print(f"no ccrawler_spark package under {ROOT}: run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    _env()
    if args.prepare_layout:
        return prepare_layout(args.prepare_layout)
    if args.all:
        return run_all(args.seed)
    if not args.workload:
        ap.error("--workload, --all or --write-benchmark-json is required")
    rep = run_once(WORKLOADS[args.workload], args.seed, args.seconds,
                   bool(args.trace))
    print_report(rep)
    print(json.dumps(result_line(rep)), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
