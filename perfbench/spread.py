"""Run-to-run spread of the end-to-end metrics, and agreement of two run
sets, by the rules the benchmark's bounds are checked with.

    python3 perfbench/spread.py --workload tiny.r3 --seeds 1-10 --out a.json
    python3 perfbench/spread.py --compare a.json b.json

Each run is a separate ``run.py`` process with its own seed. Spread is
the interquartile distance of a metric's values (statistics.quantiles,
n=4) as a share of their median; every run counts, failed ones too.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from metrics import agrees, summarize  # noqa: E402
from run import END_TO_END, RUN_SECONDS  # noqa: E402


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run_set(workload: str, seeds: list[int], trace: int) -> list[dict]:
    runs = []
    for s in seeds:
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload,
             "--seed", str(s), "--seconds", str(RUN_SECONDS),
             "--trace", str(trace)],
            cwd=HERE.parent, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, timeout=900,
        )
        line = json.loads(p.stdout.strip().splitlines()[-1])
        vals = {k: (v["value"] if v["value"] is not None else float("inf"))
                for k, v in line["metrics"].items()}
        vals["failed_rounds"] = line["failed"]
        runs.append(vals)
        print(f"seed {s}: {time.perf_counter() - t0:.1f} s wall, "
              f"correct={line['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in vals.items()),
              flush=True)
    return runs


def report(summary: dict) -> None:
    bounds = {n: b for n, _, b in END_TO_END}
    print(f"{'metric':<16}{'n':>4}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>9}{'bound':>7}")
    for k, s in summary.items():
        b = bounds.get(k)
        flag = ""
        if b is not None and k != "setup_s":
            flag = " OK" if s["spread"] < b / 3 else (
                " <bound" if s["spread"] <= b else " OVER")
        print(f"{k:<16}{s['n']:>4}{s['median']:>12.5g}{s['q1']:>12.5g}"
              f"{s['q3']:>12.5g}{s['spread']:>9.3f}"
              f"{b if b is not None else '':>7}{flag}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar="RUNSET")
    args = ap.parse_args()
    if args.compare:
        a, b = (json.loads(pathlib.Path(p).read_text()) for p in args.compare)
        sa, sb = summarize(a["runs"]), summarize(b["runs"])
        ok = True
        for name, better, bound in END_TO_END:
            good = agrees(sa[name]["median"], sb[name]["median"], bound,
                          better)
            ok &= good
            print(f"{name:<16}{sa[name]['median']:>12.5g}"
                  f"{sb[name]['median']:>12.5g}  bound {bound}  "
                  f"{'agree' if good else 'DISAGREE'}")
        good = agrees(sa["failed_rounds"]["median"],
                      sb["failed_rounds"]["median"], 0, "lower", exact=True)
        print(f"failed_rounds   {'agree' if good else 'DISAGREE'}")
        return 0 if ok and good else 1
    runs = run_set(args.workload, seeds_of(args.seeds), args.trace)
    summary = summarize(runs)
    report(summary)
    if args.out:
        pathlib.Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "seeds": args.seeds, "runs": runs,
             "summary": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
