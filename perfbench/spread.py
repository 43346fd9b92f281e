#!/usr/bin/env python3
"""Run-to-run spread of the benchmark: runs each workload once per seed
and reports, per end-to-end metric, the median and the distance between
the first and third quartiles as a share of the median, beside the bound
BENCHMARK.json fixes for it.

    python3 perfbench/spread.py --seeds 1-10 [--workloads trim_session,query_sample] [--out spread.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = {}
    for w in names:
        for s in seeds(args.seeds):
            cmd = spec["command"] + ["--workload", w, "--seed", str(s),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                line = json.loads(last)
            except ValueError:
                line = None
            runs.setdefault(w, []).append({"seed": s, "wall_s": wall, "code": p.returncode, "result": line})
            ok = line is not None and line["correct"]
            vals = {k: round(v["value"], 4) for k, v in line["metrics"].items()} if line else p.stderr[-500:]
            print(f"{w} seed {s}: {wall:.1f} s code {p.returncode} correct={ok} {vals}", flush=True)
    for w, rs in runs.items():
        good = [r["result"] for r in rs if r["result"]]
        for m in (good[0]["metrics"] if good else {}):
            vals = [g["metrics"][m]["value"] for g in good]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            b = bounds.get(m)
            flag = "" if b is None else ("  within a third of bound" if spread < b / 3 else
                                         "  within bound" if spread <= b else "  OVER BOUND")
            print(f"{w:18s} {m:12s} median {med:10.4f} spread {spread:6.3f} bound {b}{flag}")
        print(f"{w:18s} run wall: median {statistics.median(r['wall_s'] for r in rs):.1f} s, "
              f"max {max(r['wall_s'] for r in rs):.1f} s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
