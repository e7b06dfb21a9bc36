#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft and the
benchmark program with sbt (cached under `.bench_build/`, keyed on a hash of
the sources); every run then generates its input from the seed, starts one
JVM on `local[4]`, checks the outputs and prints, as the last line of
stdout, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics of a traced run. Each run also writes a result file under
`.bench_build/results/` whose name carries workload, seed, cores and trace
flag; it is never overwritten. See README.md in this directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CORES = metrics.CORES
HEAP = "3g"
JVM_TIMEOUT_S = 170

# q136 builds, saves, reloads and probes a fuzzy-join index: eager
# graft.operators actions, a pinned result and a graft_* temp directory,
# so the operators layer and the leak counters are measured here.
RELATIONAL = ["q00_compare_pipeline", "q07_groupby_agg", "q11_join_multi", "q48_sql_interface",
              "q136_fuzzy_index"]

WORKLOADS = {
    "relational": {"kind": "batch", "sf": 0.01, "queries": RELATIONAL},
    "ingest": {"kind": "ingest", "sf": 0.01, "n_docs": 1000, "n_events": 4000,
               "docs_rate": 50.0, "events_rate": 200.0, "warmup": 2.0},
}

# The bounded end-to-end metrics. Wall-clock times (cold_wall_s, wall_s,
# latency_s) are in every result file and wall_s in the summary line, but on
# a host shared with other tenants they moved 2-2.5x between runs; process
# CPU seconds moved far less. The cold pass (cold_cpu_s, one first execution
# per JVM) follows the host's load too closely to be bounded at 0.25; it is
# in every result file and in the summary line. See README.md.
END_TO_END = ["setup_s", "cpu_s", "heap_live_mb"]
UNITS = {"setup_s": "s", "cpu_s": "s", "heap_live_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def work_dir(root):
    """Build outputs, per-run scratch and result files (git-ignored)."""
    return os.path.join(root, ".bench_build")


def source_stamp(root):
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    for f in sorted(files):
        p = os.path.join(root, f)
        if os.path.isfile(p):
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile graft and the benchmark program; return its JVM launch description."""
    launch = os.path.join(work, "launch.json")
    stamp = source_stamp(root)
    if os.path.exists(launch):
        with open(launch) as f:
            got = json.load(f)
        if got.get("stamp") == stamp:
            return got
    log("building graft and the benchmark program with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dperfbench.launch={launch}.tmp", "writeLaunch"]
    r = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"sbt build failed ({r.returncode})")
    with open(launch + ".tmp") as f:
        got = json.load(f)
    got["stamp"] = stamp
    with open(launch, "w") as f:
        json.dump(got, f)
    os.remove(launch + ".tmp")
    return got


def run_jvm(launch, run_dir, argv):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = (["java"] + launch["java_options"] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.callstack.depth=60",
            "-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main"] + argv)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        t0 = time.time()
        p = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark JVM timed out")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def result_path(results, workload, seed, trace):
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    base = f"{workload}_seed{seed}_c{CORES}_trace{trace}_{stamp}"
    path, n = os.path.join(results, base + ".json"), 1
    while os.path.exists(path):
        path, n = os.path.join(results, f"{base}_{n}.json"), n + 1
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("run from the root of a graft checkout: src/main/scala/graft is missing")
        return 2
    work = work_dir(root)
    os.makedirs(work, exist_ok=True)
    launch = build(root, work)

    w = WORKLOADS[args.workload]
    name = f"{args.workload}_seed{args.seed}_trace{args.trace}_{os.getpid()}"
    run_dir = os.path.join(work, "runs", name)
    data = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        argv = ["--workload", args.workload, "--data", data, "--out", run_dir,
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if w["kind"] == "batch":
            rows = gen.batch_inputs(data, w["sf"], args.seed)
            raw = run_jvm(launch, run_dir, argv + ["--queries", ",".join(w["queries"])])
            verdicts = check.check(run_dir, data, w["queries"])
            e2e, extra = metrics.batch_end_to_end(raw, args.trace == 1)
            layers, spans = metrics.batch_layers(raw) if args.trace else (None, None)
            n_checked = len(verdicts)
            wrong = {q: v for q, v in verdicts.items() if v}
        else:
            rows = gen.ingest_inputs(data, w["sf"], args.seed, w["n_docs"], w["n_events"])
            raw = run_jvm(launch, run_dir, argv + [
                "--docs_rate", str(w["docs_rate"]), "--events_rate", str(w["events_rate"]),
                "--warmup", str(w["warmup"])])
            e2e, extra = metrics.ingest_end_to_end(raw, args.trace == 1)
            layers, spans = metrics.ingest_layers(raw) if args.trace else (None, None)
            n_checked = len(raw["checks"])
            wrong = {c["name"]: f'got {c["got"]} rows, batch twin {c["want"]}'
                     for c in raw["checks"] if not c["ok"]}
    finally:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "check"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "checkpoints"), ignore_errors=True)

    extra["wrong_ratio"] = metrics.ratio(len(wrong), n_checked)
    extra["wrong"] = wrong
    result = {"workload": args.workload, "seed": args.seed, "cores": CORES,
              "seconds": args.seconds, "trace": args.trace, "input_rows": rows,
              "config": w, "end_to_end": e2e, "detail": extra}
    if args.trace:
        result["per_layer"] = layers
        result["spans"] = spans
    path = result_path(os.path.join(work, "results"), args.workload, args.seed, args.trace)
    with open(path, "w") as f:
        json.dump(result, f, indent=1)

    if args.trace:
        out = {k: {"value": v, "unit": metrics.layer_unit(k)} for k, v in sorted(layers.items())
               if metrics.printed(k)}
    else:
        out = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    summary = {"workload": args.workload, "seed": args.seed, "cores": CORES,
               "n_failed": extra["failed"], "n_wrong": len(wrong), "n_checked": n_checked,
               "cold_cpu_s": round(e2e["cold_cpu_s"], 4), "wall_s": round(e2e["wall_s"], 4),
               "latency_s": round(e2e["latency_s"], 4),
               "result": os.path.relpath(path, root)}
    print(json.dumps(summary))
    print(json.dumps({"correct": not wrong and extra["failed"] == 0,
                      "attempted": extra["attempted"], "failed": extra["failed"],
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
