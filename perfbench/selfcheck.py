"""Self-checks of the benchmark itself (`python3 perfbench/run.py --selfcheck`):

1. the trial generator gives identical bytes for the same seed and
   different bytes for another seed;
2. every workload in BENCHMARK.json runs without a failed operation and
   reports exactly the end-to-end and per-layer metric names listed there;
3. an injected failing operation is counted in `failed` and left out of
   the timings instead of being timed as a fast success;
4. the recipe fleet's output for seed 0 matches its pinned digest.
"""
import argparse
import hashlib
import json
import os
import shutil

import gen_trials

HERE = os.path.dirname(os.path.abspath(__file__))


def files_digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def main(run, base, pinned_digest):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e_names = {m["name"] for m in spec["end_to_end"]}
    layer_names = {m["name"] for m in spec["per_layer"]}
    problems = []

    def expect(ok, what):
        print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            problems.append(what)

    def args(**kw):
        d = dict(vars(base), seconds=1, trace=0, inject=0, seed=1, selfcheck=False)
        d.update(kw)
        return argparse.Namespace(**d)

    tmp = os.path.join(HERE, "work", "selfcheck")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        a = gen_trials.generate(os.path.join(tmp, "a"), 7, 2, 400, 6)
        b = gen_trials.generate(os.path.join(tmp, "b"), 7, 2, 400, 6)
        c = gen_trials.generate(os.path.join(tmp, "c"), 8, 2, 400, 6)
        expect(files_digest(a) == files_digest(b), "generator: same seed, identical bytes")
        expect(files_digest(a) != files_digest(c), "generator: other seed, other bytes")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    actions = {}
    for w in spec["workloads"]:
        line, results = run(args(workload=w["name"], trace=1))
        res = results[0]
        actions[w["name"]] = res["sizes"].get("actions")
        expect(line["failed"] == 0 and line["correct"], f"{w['name']}: no failed operation")
        expect(set(res["e2e"]) == e2e_names, f"{w['name']}: end-to-end names match BENCHMARK.json")
        expect(set(line["metrics"]) == layer_names, f"{w['name']}: per-layer names match BENCHMARK.json")

    # fail the second operation of the first measured pass (pass 1 is
    # the warm pass); with --seconds 1 that is the only measured pass
    line, results = run(args(workload="trim_session", inject=actions["trim_session"] + 2))
    ops = results[0]["summary"]["op_ms"]
    expect(line["failed"] >= 1 and not line["correct"], "injected failure: counted in failed")
    expect(not any(k.startswith("2:") for k in ops), "injected failure: not timed")

    line, results = run(args(workload="recipe_fleet", seed=0))
    expect(line["correct"] and results[0]["summary"].get("fleet_digest") == pinned_digest,
           "recipe_fleet seed 0: output matches the pinned digest")

    print(f"selfcheck: {len(problems)} problem(s)")
    return 1 if problems else 0
