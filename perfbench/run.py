#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source when they changed, makes the
workload's inputs from the seed, runs one benchmark JVM (local[4], one
client in a closed loop), checks every op's output and prints the metrics
of BENCHMARK.json. The last stdout line is the JSON result. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
try:
    import check  # noqa: E402  (needs the repo's tools/check_oracle.py)
except ImportError as e:
    sys.exit(f"perfbench: {e}; run from the root of a checkout of the repository")

ROOT = os.getcwd()
RUN = os.path.join(HERE, ".run")
BUILD_TIMEOUT_S = 850
# Limit for input generation plus the benchmark JVM, counted after the build.
RUN_TIMEOUT_S = 160

# Input sizes, fixed so that a run of every workload fits the time budget.
ETL_PAGES, ETL_PER_PAGE, ETL_LAST_PAGE = 4, 200, 80
MIX_SF = 0.01
# Items of the mix: registry queries from most query families, among them the
# p06 capstone and the two native plan operators (as-of join, top-k per
# group), and one streaming kernel (`stream:<kernel>`). MIX_POOLS are the
# shared pools the panel reads, built in set-up.
MIX_PANEL = ["d15_sorted_neighbors", "p06_assemble_training_set", "p12_per_source_cap",
             "q03_shipping_priority", "r51_asof_native", "s09_mmr_diversified",
             "st2_interval_join", "t28_simpson_diversity", "u08_split_leakage",
             "stream:decayed"]
MIX_POOLS = ["contamination_pairs"]

# Fixed heap and young generation: with a growable heap, peak RSS followed
# when G1 decided to grow rather than what the program kept.
JAVA_OPTS = [
    "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseG1GC",
    "--add-exports", "java.base/sun.nio.ch=ALL-UNNAMED",
] + [x for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                 "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                 "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
     for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
# A pipeline op is a short CLI-sized run; with the C2 compiler its time keeps
# falling for the whole measured window as the JIT catches up, so this
# workload runs on C1 alone and measures steady code. The mix gets its JIT
# warm-up from its untimed warm-up pass and keeps the default tiered JIT:
# on C1 its ops were slower and its runs spread no less.
WORKLOAD_JAVA_OPTS = {"etl_pipeline": ["-XX:TieredStopAtLevel=1"]}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------- build

def _fingerprint():
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt unless their sources are unchanged
    since the last build in this checkout. Returns the runtime classpath sbt
    resolved for the harness."""
    stamp = os.path.join(RUN, "build.stamp")
    cp_file = os.path.join(RUN, "classpath.txt")
    fp = _fingerprint()
    if (os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(cp_file)
            and os.path.isdir(os.path.join(HERE, "target/scala-2.13/classes"))):
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(RUN, "build.log")
    with open(log, "w") as out:
        rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                   "compile", "export Runtime/fullClasspath"], HERE, env, out, BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    # `export` prints the classpath as one bare line
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (exit {rc}), log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    return cp


def _run(cmd, cwd, env, out, timeout):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# --------------------------------------------------------------- workloads

def prepare(workload, seed, work):
    """Generate the seeded inputs; returns (data dir, input items per op by
    item, ground truth for the checks)."""
    data = os.path.join(work, "data")
    if workload == "etl_pipeline":
        truth = gen.pages(data, seed, ETL_PAGES, ETL_PER_PAGE, ETL_LAST_PAGE)
        return data, {"pipeline": truth["studies"]}, truth
    return data, {q: 1 for q in MIX_PANEL}, gen.tables(data, seed, MIX_SF)


def run_jvm(classpath, spec, work, timeout):
    spec_path = os.path.join(work, "spec.json")
    result_path = os.path.join(work, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + WORKLOAD_JAVA_OPTS.get(spec["workload"], []) + [
        f"-Djava.io.tmpdir={tmp}", "-Dgraft.pool.rebuild=1", "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Harness", spec_path, result_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, GRAFT_POOL_CACHE=os.path.join(tmp, "pools"))
    log = os.path.join(RUN, f"{spec['workload']}.jvm.log")
    with open(log, "w") as out:
        rc = _run(cmd, ROOT, env, out, timeout)
    if rc != 0 or not os.path.exists(result_path):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"benchmark JVM failed (exit {rc}), log in {log}")
    with open(result_path) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks

def plant(workload, res):
    """Deliberately corrupt one output (for testing that checks can fail)."""
    if workload == "etl_pipeline":
        part = sorted(p for p in os.listdir(res["ops"][0]["facts"]["out"]) if p.startswith("part-"))[0]
        path = os.path.join(res["ops"][0]["facts"]["out"], part)
        with open(path) as f:
            lines = f.readlines()
        with open(path, "w") as f:
            f.writelines(lines[:-1])
    elif workload == "registry_mix":
        import pandas as pd
        q = sorted(res["warm"]["dumps"])[0]
        d = res["warm"]["dumps"][q]["path"]
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        df = pd.read_parquet(os.path.join(d, files[0]))
        col = df.columns[0]
        df.loc[0, col] = df[col].iloc[-1] if df[col].iloc[0] != df[col].iloc[-1] else None
        df.to_parquet(os.path.join(d, files[0]), index=False)
        # and the fingerprint one timed op of another query observed
        o = next(o for o in res["ops"] if o["item"] in res["warm"]["dumps"] and o["item"] != q)
        o["facts"]["fingerprint"]["hash"] += "1"
    else:
        die(f"no planted failure for {workload}")


def verify(workload, res, truth, data):
    """Reason for every op that failed (raised or checked wrong), plus
    run-level problems that fail every op."""
    bad = {o["i"]: o["error"] for o in res["ops"] if not o["ok"]}
    if workload == "etl_pipeline":
        for o in res["ops"]:
            if o["ok"]:
                r = check.check_etl(o["facts"], truth)
                if r:
                    bad[o["i"]] = r
    else:
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        wrong = {}
        for q, d in sorted(res["warm"]["dumps"].items()):
            if d["error"] or not d["oracle"]:
                wrong[q] = d["error"] or "no oracle SQL"
                continue
            r, hs, ho = check.query_check(con, d["oracle"], d["path"])
            print(f"check {q}: spark {hs} oracle {ho} {'FAIL ' + r if r else 'ok'}", file=sys.stderr)
            if r:
                wrong[q] = r
        dumps, base = res["warm"]["dumps"], res["warm"]["kernels"]
        for o in res["ops"]:
            if o["item"] in wrong:
                bad.setdefault(o["i"], f"{o['item']}: {wrong[o['item']]}")
            elif o["ok"]:
                r = (check.check_stream(o["facts"], base[o["item"]]) if o["item"] in base
                     else check.check_query_op(o["facts"], dumps[o["item"]]))
                if r:
                    bad[o["i"]] = f"{o['item']}: {r}"
    return bad


# ------------------------------------------------------------------- main

def quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", action="store_true",
                    help="corrupt one output before the check (the check must fail)")
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(bench_path) and os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src/main/scala"))):
        die("run from the root of a checkout holding the engine sources and BENCHMARK.json")
    with open(bench_path) as f:
        bench = json.load(f)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        die(f"unknown workload {a.workload}")
    os.makedirs(RUN, exist_ok=True)
    classpath = build()
    t_start = time.time()

    work = os.path.join(RUN, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data, items, truth = prepare(a.workload, a.seed, work)
        spec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": bool(a.trace), "work": work, "data": data, "panel": MIX_PANEL,
                "pools": MIX_POOLS}
        budget = RUN_TIMEOUT_S - (time.time() - t_start)
        t_jvm = time.time()
        res = run_jvm(classpath, spec, work, budget)
        res["inputs_s"] = t_jvm - t_start
        res["jvm_s"] = time.time() - t_jvm
        if a.plant:
            plant(a.workload, res)
        t_check = time.time()
        bad = verify(a.workload, res, truth, data)
        res["check_s"] = time.time() - t_check
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(RUN, f"{a.workload}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    times = [o["seconds"] for o in ops]
    attempted, failed = len(ops), len(bad)
    for i, reason in sorted(bad.items())[:5]:
        print(f"op {i} failed: {reason}", file=sys.stderr)
    if a.trace:
        spec_metrics = bench["per_layer"]
        values = {m["name"]: float(res["layers"].get(m["name"], 0.0)) for m in spec_metrics}
    else:
        spec_metrics = bench["end_to_end"]
        values = {
            "setup_s": res["setup_s"],
            "op_p50_s": statistics.median(times),
            "items_per_s": sum(items[o["item"]] for o in ops) / sum(times),
            "op_cpu_s": statistics.median(o["cpu_seconds"] for o in ops),
            "peak_rss_mb": res["peak_rss_mb"],
        }
    n = {"setup_s": 1}
    for m in spec_metrics:
        print(f"{m['name']:32s} {values[m['name']]:14.6g} {m['unit']:8s} n={n.get(m['name'], attempted)}")
    print(f"{'op_p90_s':32s} {quantile(times, 0.9):14.6g} {'s':8s} n={attempted}"
          f" (informational: {attempted - int(0.9 * attempted)} samples beyond it)")
    print(f"{'failed_frac':32s} {failed / attempted:14.6g} {'1':8s} attempted={attempted}")
    print("op seconds (wall/cpu), ms (jit/gc), generated classes compiled: " + " ".join(
        f"{o['item']}={o['seconds']:.3f}/{o['cpu_seconds']:.3f}/{o['jit_ms']}/{o['gc_ms']}/{o['codegen']}" for o in ops))
    print(f"{'inputs_s':32s} {res['inputs_s']:14.6g} {'s':8s} (input generation)")
    print(f"{'jvm_s':32s} {res['jvm_s']:14.6g} {'s':8s} (benchmark JVM wall time)")
    print(f"{'check_s':32s} {res['check_s']:14.6g} {'s':8s} (output checks)")
    print(f"{'warm_s':32s} {res['warm_s']:14.6g} {'s':8s} (untimed warm-up pass)")
    print(f"{'measured_s':32s} {res['measured_s']:14.6g} {'s':8s}")
    print(f"{'run_s':32s} {time.time() - t_start:14.6g} {'s':8s} (after the build: inputs, JVM, checks)")
    if a.workload == "registry_mix":
        for k, v in sorted(res["warm"]["kernels"].items()):
            sb = [v["state_bytes"]] + [o["facts"]["state_bytes"] for o in ops if o["item"] == k and o["ok"]]
            print(f"{'state_bytes.' + k.split(':')[1]:32s} {v['state_bytes']:14d} {'B':8s}"
                  f" (range over drives {min(sb)}..{max(sb)}; report rows {v['report_rows']})")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                          for m in spec_metrics}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
