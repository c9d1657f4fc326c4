#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload batch-x1 --seeds 1-10 [--log a.jsonl]
    python3 perfbench/spread.py --compare a.jsonl b.jsonl

For every metric: the median of its per-run values and the distance between
the first and third quartile (statistics.quantiles(n=4)) as a share of the
median, next to the bound BENCHMARK.json gives it. Also prints each run's
wall time. Run from the root of a checkout; runs are sequential.

--compare reads two logs of such runs and prints, per workload and metric,
each set's median and how much worse the second is than the first, as a
share of the first, next to the bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _spread(vs: list[float]) -> tuple[float, float]:
    med = statistics.median(vs)
    q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
    return med, (q[2] - q[0]) / med if med else 0.0


def compare(a: str, b: str, bench: dict) -> int:
    spec = {m["name"]: m for m in bench["end_to_end"]}
    sets = []
    for path in (a, b):
        vals: dict[tuple, list[float]] = {}
        for line in open(path):
            rec = json.loads(line)
            for k, m in rec["metrics"].items():
                vals.setdefault((rec["workload"], k), []).append(m["value"])
        sets.append(vals)
    print(f"{'workload':14s} {'metric':14s} {'median 1':>10s} {'median 2':>10s}"
          f" {'worse':>7s} {'iqr 1':>6s} {'iqr 2':>6s} {'bound':>6s}")
    bad = 0
    for key in sorted(sets[0]):
        (m1, s1), (m2, s2) = _spread(sets[0][key]), _spread(sets[1][key])
        sign = 1 if spec[key[1]]["better"] == "lower" else -1
        worse = sign * (m2 - m1) / m1 if m1 else 0.0
        bound = spec[key[1]]["bound"]
        over = worse > bound or (key[1] != "setup_s" and max(s1, s2) > bound)
        bad += over
        print(f"{key[0]:14s} {key[1]:14s} {m1:10.5g} {m2:10.5g} {worse:7.3f}"
              f" {s1:6.3f} {s2:6.3f} {bound:6}{'  <-- over' if over else ''}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--compare", nargs=2, metavar="LOG")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", help="append each run's result line here")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.compare:
        return compare(*args.compare, bench)
    if not args.workload:
        ap.error("--workload or --compare is required")
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed",
                                  str(seed), "--seconds",
                                  str(bench["run_seconds"]), "--trace",
                                  str(args.trace)]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        if proc.returncode != 0 or not proc.stdout.strip():
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        detail = next((json.loads(ln[len("detail "):]) for ln in lines
                       if ln.startswith("detail ")), {})
        phases = {k[:-len("_phase_s")]: round(v, 1) for k, v in detail.items()
                  if k.endswith("_phase_s")}
        print(f"seed {seed}: {wall:.1f} s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"phases={phases}", flush=True)
        if args.log:
            with open(args.log, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    "wall_s": wall, "detail": detail, **res})
                        + "\n")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"{'metric':34s} {'median':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for k, vs in values.items():
        med, spread = _spread(vs)
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
        print(f"{k:34s} {med:12.6g} {spread:8.3f} "
              f"{'' if b is None else b:>6}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
