#!/usr/bin/env python3
"""The repository benchmark: four closed-loop workloads on the engine's
deploy profile (`graft.api.Graft.sparkSession("local[<cpus>]")`).

    python3 perfbench/run.py --workload trim_session --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10   # all four, one process
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into `perfbench/target`; later
runs reuse that build while the sources are unchanged.

Workloads (BENCHMARK.json records why each was chosen):
  trim_session      one generated trial; a scripted interactive session of
                    edits, annotations, a filter and undo/redo bursts, each
                    followed by a refresh of the view, then save
  recipe_fleet      a fleet of generated trials; one mixed recipe replayed
                    in one plan, through the noop sink and a parquet write
  iterative_family  two of ROADMAP item 5's eight iterative queries, q70
                    (connected components) and q122 (PageRank), on the fixture
                    tables in perfbench/data; all eight take 70-100 s a pass
  query_sample      a per-module stratified sample of the single-pass batch
                    queries on the same tables

`--seed` generates the trials and the edit script, and orders the queries
of the two query lanes. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`). Lines
before it give the same numbers by name with units, plus the
workload-specific names (refresh_p50_ms, refresh_tail_ms, session_s,
recipe_rows_per_s, queries_s, error_rate, pinned_mb_end);
perfbench/TRAJECTORY.md defines each metric.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_trials  # noqa: E402

WORKLOADS = ["trim_session", "recipe_fleet", "iterative_family", "query_sample"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Input sizes, fixed so every seed does the same amount of work.
TRIM = dict(rows=2684, channels=24, edits=4)
FLEET = dict(trials=6, rows=1000, channels=12)
SAMPLE_STRIDE = 32
SETUPS = 3
JVM_TIMEOUT_S = 170
ALL_TIMEOUT_S = 900

# recipe_fleet output digest for seed 0 at the FLEET sizes above
# ("rows:sum of row hashes"); any change to the recipe's output shows here.
PINNED_FLEET_DIGEST = "5634:421476034306242438917"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files) + [os.path.join(HERE, "build.sbt")]


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources not found: run from the root of a full checkout")
    stamp = hashlib.sha256()
    for f in source_files():
        with open(f, "rb") as fh:
            stamp.update(f.encode() + b"\0" + fh.read())
    out = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    digest = stamp.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith(classes)]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(digest)
    print(f"# built in {time.time() - t0:.1f} s", flush=True)
    return lines[-1].strip()


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classpath, work, args, timeout):
    """Run the benchmark process; returns its result document."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={tmp}", f"-Dderby.system.home={tmp}"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main"] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die("benchmark process timed out", 3)
    result = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"benchmark process failed with code {proc.returncode}", 3)
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def load_check_rules():
    """Canonicalization and digest rules of the repository's oracle gate."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


INT_CLASS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"}


def oracle_check(out_dir, data_dir):
    """Compare each written query result with its DuckDB oracle: column
    names, column types, row count and the sorted-values digest.
    Returns (checked, [failures])."""
    rules = load_check_rules()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    checked, failures = 0, []
    for name, sql in sorted(oracles.items()):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue  # the query itself failed and is already counted
        checked += 1
        try:
            got = con.sql(f"SELECT * FROM '{path}/*.parquet'")
            got_cols, got_types, got_rows = [d[0] for d in got.description], got.types, got.fetchall()
            exp = con.sql(sql)
            exp_cols, exp_types, exp_rows = [d[0] for d in exp.description], exp.types, exp.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {e}")
            continue

        def tclass(t):
            return "INT" if str(t) in INT_CLASS else str(t)
        if sorted(got_cols) != sorted(exp_cols):
            failures.append(f"{name}: columns differ")
        elif {c: tclass(t) for c, t in zip(got_cols, got_types)} != \
                {c: tclass(t) for c, t in zip(exp_cols, exp_types)}:
            failures.append(f"{name}: column types differ")
        elif len(got_rows) != len(exp_rows):
            failures.append(f"{name}: rows {len(got_rows)} vs oracle {len(exp_rows)}")
        elif rules.table_digest(got_rows, got_cols) != rules.table_digest(exp_rows, exp_cols):
            failures.append(f"{name}: digest differs")
    return checked, failures


# ---------------------------------------------------------------- run

def jvm_args(workload, seed, seconds, trace, work, inject):
    args = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": 1 if trace else 0, "work": work,
            "data": os.path.join(HERE, "data"), "cpus": len(os.sched_getaffinity(0)),
            "inject": inject, "setups": SETUPS, "edits": TRIM["edits"],
            "stride": SAMPLE_STRIDE, "fleet-rows": FLEET["trials"] * FLEET["rows"]}
    if workload in ("trim_session", "all"):
        args["trial"] = ",".join(gen_trials.generate(
            os.path.join(work, "trial"), seed, 1, TRIM["rows"], TRIM["channels"]))
    if workload in ("recipe_fleet", "all"):
        args["fleet"] = ",".join(gen_trials.generate(
            os.path.join(work, "fleet-in"), seed, FLEET["trials"], FLEET["rows"],
            FLEET["channels"]))
    return [x for k, v in args.items() for x in (f"--{k}", str(v))]


def finish_workload(res, work, data_dir):
    """Adds the oracle check of the query lanes; returns (attempted, failed, errors)."""
    attempted, failed = res["attempted"], res["failed"]
    errors = list(res["summary"].get("errors", []))
    if res["workload"] in ("iterative_family", "query_sample"):
        checked, failures = oracle_check(os.path.join(work, "out"), data_dir)
        attempted += checked
        failed += len(failures)
        errors += failures
    if res["workload"] == "recipe_fleet" and res["seed"] == 0:
        attempted += 1
        if res["summary"].get("fleet_digest") != PINNED_FLEET_DIGEST:
            failed += 1
            errors.append(f"recipe_fleet digest {res['summary'].get('fleet_digest')} "
                          f"differs from the pinned {PINNED_FLEET_DIGEST}")
    return attempted, failed, errors


def describe(res, attempted, failed):
    """Human-readable lines: every metric by name with its unit."""
    w, e, s = res["workload"], res["e2e"], res["summary"]
    print(f"# {w} sizes {json.dumps(res['sizes'])}")
    print(f"# {w} passes={s['passes']} traced_passes={s['traced_passes']} "
          f"measured={s['measured_s']:.1f} s setup runs={['%.2f' % x for x in s['setup_runs_s']]} s")
    for k, v in e.items():
        print(f"{w} {k} = {v:.6g} {UNITS[k]}")
    named = {"setup_s": (e["setup_s"], "s"),
             "error_rate": (failed / max(attempted, 1), "ratio"),
             "pinned_mb_end": (s["pinned_mb_end"], "MB")}
    if w == "trim_session":
        named["refresh_p50_ms"] = (e["op_p50_ms"], "ms")
        named["refresh_tail_ms"] = (s["op_tail_ms"], f"ms (p{s['op_tail_pct']:.1f} of {s['op_samples']})")
        named["session_s"] = (e["session_s"], "s")
    elif w == "recipe_fleet":
        named["recipe_rows_per_s"] = (res["sizes"]["rows"] / e["queries_s"], "rows/s")
        print(f"# {w} output digest {s.get('fleet_digest')}")
    else:
        named["queries_s"] = (e["queries_s"], "s")
    for k, (v, u) in named.items():
        print(f"{w} [{k}] = {v:.6g} {u}")
    for k, v in sorted(res["layers"].items()):
        print(f"{w} {k} = {v:.6g} {UNITS[k]}")
    print(f"# {w} per-op median ms: " +
          " ".join(f"{k}={v:.0f}" for k, v in sorted(s["op_ms"].items(), key=lambda kv: -kv[1])))
    for err in res["summary"].get("errors", []):
        print(f"# {w} error: {err}")


def run(args):
    if args.workload != "all" and args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}")
    classpath = build()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        doc = run_jvm(classpath, work,
                      jvm_args(args.workload, args.seed, args.seconds, args.trace, work, args.inject),
                      ALL_TIMEOUT_S if args.workload == "all" else JVM_TIMEOUT_S)
        results = doc.values() if args.workload == "all" else [doc]
        total_att = total_fail = 0
        metrics = {}
        for res in results:
            att, fail, errors = finish_workload(res, work, os.path.join(HERE, "data"))
            res["summary"]["errors"] = errors
            describe(res, att, fail)
            total_att += att
            total_fail += fail
            prefix = f"{res['workload']}." if args.workload == "all" else ""
            if args.trace:
                for k, v in res["layers"].items():
                    metrics[prefix + k] = {"value": v, "unit": UNITS[k]}
            else:
                for k, v in res["e2e"].items():
                    metrics[prefix + k] = {"value": v, "unit": UNITS[k]}
        traces = os.path.join(HERE, "work", "traces")
        for t in glob.glob(os.path.join(work, "trace-*.json")):
            os.makedirs(traces, exist_ok=True)
            shutil.copy(t, os.path.join(traces, f"seed{args.seed}-" + os.path.basename(t)))
        line = {"correct": total_fail == 0, "attempted": total_att, "failed": total_fail,
                "metrics": metrics}
        print(json.dumps(line), flush=True)
        return line, list(results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", type=int, default=0,
                    help="make the N-th operation fail (self-check)")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if args.selfcheck:
        import selfcheck
        sys.exit(selfcheck.main(run, args, PINNED_FLEET_DIGEST))
    if not args.workload:
        die("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
