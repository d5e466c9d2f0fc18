#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload curate_corpus --seed 1 --seconds 14 --trace 0

Run from the repository root. The engine (src/main/scala) and the
benchmark's JVM side (perfbench/src) are compiled with scalac against the
Spark jars into .bench_build/ on first use; later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed into
.bench_run/, the JVM runs the workload, and the outputs are checked
(tools/check.py's DuckDB oracle check for curate_corpus, batch twins for
stream_live) before the result line is printed. Time metrics are taken
only from outputs that passed their check. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import gen  # noqa: E402

CORES = 4
HEAP = "2g"
JVM_TIMEOUT_S = 150

# Corpus replica size: small enough that a run (cold warm-up, timed
# iterations, DuckDB oracle checks) stays within its budget (README.md).
CURATE = {"docs": 300, "vecs": 200}
CURATE_WARM = {"docs": 100, "vecs": 100}  # the first warm-up replica
REPLICAS = 6  # two warm-up passes + up to four timed iterations

# Live feed: one file every FILE_MS of schedule; rates are lines/s offered.
# MID_RATE sets the reported latency. The traced run then climbs the
# sustained-rate ladder: MID_RATE (its traced phase) and LADDER, each step
# LADDER_STEP_S long. Rates are fixed fractions of the capacity measured
# when the benchmark was defined (README.md).
FILE_MS = 100
TIME_SCALE = 10
MID_RATE = 3_000
LADDER = [16_000, 32_000, 48_000, 64_000]
LADDER_STEP_S = 4
LATENCY_LIMIT_MS = 5_000

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars the sbt build compiles against (its `unmanagedBase`),
    or $SPARK_HOME/jars when set."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("no Spark jar directory: set SPARK_HOME")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(f"{jar_dir}/*.jar"))
    if not jars:
        raise SystemExit(f"no Spark jars under {jar_dir}")
    return jars


def build(root):
    """Compile the engine and perfbench/src with scalac; skipped when the source hash
    matches the last build."""
    srcs = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True)) + \
        sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("engine sources (src/main/scala) not found: run from the repository root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = f"{root}/.bench_build"
    classes = f"{out}/classes"
    stamp = f"{out}/stamp"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    log(f"building {len(srcs)} sources into {classes}")
    t = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-usejavacp:false", "-classpath", ":".join(jars), "-d", classes] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        raise SystemExit("scalac failed")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.1f} s")
    return classes


def stream_phases(seed, seconds, trace, feed_dir):
    """Phase plan for stream_live: a short warm-up at the middle rate, then
    the measured phases. The untraced run spends --seconds at the middle
    rate. The traced run splits --seconds between an untraced and a traced
    copy of the middle phase, then runs the ladder steps, untraced."""
    n_files = lambda s: max(10, int(s * 1000 / FILE_MS))
    # (name, rate, files, traced, ladder step)
    plan = [("warm", MID_RATE, 20, False, False)]
    if trace:
        plan += [("mid", MID_RATE, n_files(seconds / 2), False, False),
                 ("mid_traced", MID_RATE, n_files(seconds / 2), True, True)]
        plan += [(f"ladder_{r}", r, n_files(LADDER_STEP_S), False, True) for r in LADDER]
    else:
        plan += [("mid", MID_RATE, n_files(seconds), False, False)]
    schedule = [(p[0], p[2], int(p[1] * FILE_MS / 1000)) for p in plan]
    manifest = gen.render_feed(feed_dir, seed, schedule, FILE_MS, TIME_SCALE)
    return [{
        "name": name,
        "rate": float(rate),
        "interval_ms": float(FILE_MS),
        "traced": traced,
        "ladder": ladder,
        "files": [{"name": m["name"], "lines": m["lines"]} for m in manifest if m["phase"] == name],
    } for name, rate, _, traced, ladder in plan]


def make_inputs(workload, seed, seconds, trace, cores, run_dir):
    cfg = {"workload": workload, "seconds": seconds, "trace": bool(trace), "cores": cores}
    inputs = f"{run_dir}/inputs"
    if workload == "curate_corpus":
        cfg["replicas"] = []
        for r in range(REPLICAS):
            d = f"{inputs}/r{r}"
            size = CURATE_WARM if r == 0 else CURATE
            gen.curate_replica(d, seed, r, size["docs"], size["vecs"])
            cfg["replicas"].append(d)
    elif workload == "stream_live":
        cfg["feed_dir"] = f"{inputs}/feed"
        cfg["latency_limit_ms"] = LATENCY_LIMIT_MS
        cfg["phases"] = stream_phases(seed, seconds, trace, cfg["feed_dir"])
    else:
        raise SystemExit(f"unknown workload {workload}")
    with open(f"{run_dir}/config.json", "w") as f:
        json.dump(cfg, f)


def run_jvm(classes, run_dir, cores):
    cp = classes + ":" + ":".join(spark_jars())
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ActiveProcessorCount=%d" % CORES] + opens + [
        f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main", run_dir]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0 or not os.path.exists(f"{run_dir}/result.json"):
        with open(f"{run_dir}/jvm.log") as f:
            log(f.read()[-6000:])
        raise SystemExit(f"workload JVM exited with {rc}")
    with open(f"{run_dir}/result.json") as f:
        return json.load(f)


def oracle_check(root, checks, oracle_sql):
    """Runs tools/check.py on each timed iteration's outputs against that
    iteration's own input, all iterations at once. Returns the set of
    (iteration, query) pairs that failed; a query tools/check.py does not
    report as passing counts as failed."""
    by_iter = {}
    for c in checks:
        by_iter.setdefault(c["iter"], []).append(c)
    procs = []
    for it, cs in sorted(by_iter.items()):
        out_dir = os.path.dirname(cs[0]["output"])
        with open(f"{out_dir}/oracle_sql.json", "w") as f:
            json.dump({c["query"]: oracle_sql[c["query"]] for c in cs if c["query"] in oracle_sql}, f)
        report = f"{out_dir}/check.json"
        env = dict(os.environ, CHECK_JSON_OUT=report)
        p = subprocess.Popen([sys.executable, f"{root}/tools/check.py", cs[0]["input"], out_dir],
                             env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        procs.append((it, cs, report, p))
    bad = set()
    for it, cs, report, p in procs:
        text = p.communicate()[0]
        gates = {}
        if os.path.exists(report):
            with open(report) as f:
                gates = json.load(f)["gates"]
        for c in cs:
            if gates.get(c["query"], {}).get("status") != "pass":
                bad.add((it, c["query"]))
                lines = [l for l in text.splitlines() if l.split(" ")[1:2] == [c["query"] + ":"]]
                log(f"FAIL {c['query']} iteration {it}: {lines[0] if lines else text[-300:]}")
    return bad


def quantile(xs, q):
    return float(np.quantile(xs, q)) if xs else float("nan")


def curate_metrics(res, bad, trace):
    """Time metrics of curate_corpus from the runs and iterations that
    passed: a query that threw or failed its check leaves no time behind,
    and neither does its iteration."""
    bad = bad | {(r["iter"], r["query"]) for r in res["runs"] if not r["ok"]}
    bad_iters = {i for i, _ in bad}
    runs = [r for r in res["runs"] if (r["iter"], r["query"]) not in bad]
    iters = [it for it in res["iterations"] if it["iter"] not in bad_iters]
    untraced = [it["wall_ms"] for it in iters if not it["traced"]]
    lat = [r["build_ms"] + r["plan_ms"] + r["exec_ms"] for r in runs if not r["traced"]]
    log("iteration ms: " + json.dumps([round(it["wall_ms"], 1) for it in res["iterations"]]))
    per_query = {}
    for r in runs:
        per_query.setdefault(r["query"], []).append(r["build_ms"] + r["plan_ms"] + r["exec_ms"])
    log("median ms per query: " + json.dumps(
        {q: round(statistics.median(v), 1) for q, v in sorted(per_query.items())}))
    if not untraced:
        raise SystemExit("no untraced iteration passed every check")
    m = {"iter_s": statistics.median(untraced) / 1e3,
         "latency_p50_ms": quantile(lat, 0.5),
         "latency_p99_ms": quantile(lat, 0.99),
         "latency.samples": float(len(lat))}
    if trace:
        traced = [it for it in iters if it["traced"]]
        if not traced:
            raise SystemExit("no traced iteration passed every check")
        for k in traced[0]["layers"]:
            m[k] = statistics.fmean(it["layers"][k] for it in traced)
        m["trace.overhead_pct"] = 100.0 * (
            statistics.median(it["wall_ms"] for it in traced) / statistics.median(untraced) - 1.0)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, default=CORES,
                    help="local[N] worker threads (1 for the single-thread reference run)")
    a = ap.parse_args()

    root = os.getcwd()
    with open(f"{root}/BENCHMARK.json") as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")
    classes = build(root)

    t_setup = time.time()
    run_dir = f"{root}/.bench_run/{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        make_inputs(a.workload, a.seed, a.seconds, a.trace, a.cores, run_dir)
        res = run_jvm(classes, run_dir, a.cores)
        attempted, failed = res["attempted"], res["failed"]
        for e in res.get("errors", []):
            log(f"ERROR {e}")
        m = res["metrics"]
        if a.workload == "curate_corpus":
            t = time.time()
            bad = oracle_check(root, res["checks"], res["oracle"])
            log(f"{len(res['checks'])} oracle checks in {time.time() - t:.1f} s")
            failed += len(bad)
            m.update(curate_metrics(res, bad, a.trace))
        m["setup_s"] = res["setup_end_ms"] / 1000.0 - t_setup
        if a.trace:
            traces = f"{root}/.bench_run/traces"
            os.makedirs(traces, exist_ok=True)
            shutil.copy(f"{run_dir}/trace.json", f"{traces}/{a.workload}-{a.seed}.json")
            log("self time per layer (ms): " + json.dumps(res.get("self_ms", {})))
            if res.get("ladder"):
                log("sustained-rate ladder (lines/s -> latency ms): " + json.dumps(res["ladder"]))
        spec = bench["per_layer"] if a.trace else bench["end_to_end"]
        missing = [s["name"] for s in spec
                   if not isinstance(m.get(s["name"]), (int, float)) or not np.isfinite(m[s["name"]])]
        if missing:
            raise SystemExit(f"metrics not produced: {missing}")
        log("all metrics: " + json.dumps(m, sort_keys=True))
        out = {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {s["name"]: {"value": float(m[s["name"]]), "unit": s["unit"]} for s in spec},
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
