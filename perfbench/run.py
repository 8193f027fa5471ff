#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness (sbt,
offline) into perfbench/target; later runs reuse it unless a source is
newer. Each run generates its inputs from the seed, launches one JVM at
local[nproc] with one closed-loop client, measures for S seconds, checks
the outputs, and prints one JSON object as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import checks  # noqa: E402
import gen  # noqa: E402

# Input sizes. A whole run (build excluded) must stay well under two
# minutes, so these are small: see README.md for the timings behind them.
LAKE_SONGS, LAKE_EVENTS = 60, 30000
# The tables the registry queries read: the repository's seed-42 test data
# at scale factor 0.01, copied byte for byte (README.md lists the hashes).
TABLES = os.path.join(HERE, "registry_tables")
REGISTRY = ["q157_graph_pagerank", "q69_dedup_clusters", "q199_mmr_diversified",
            "q132_partition_upsert", "q211_time_travel"]
WORKLOADS = ["sparkify_etl", "registry_loops"]
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build():
    """Compiles the harness with the library's sources; returns the classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sources = [os.path.join(HERE, "build.sbt")] + [
        os.path.join(d, f) for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"))
        for d, _, fs in os.walk(top) for f in fs]
    newest = max(os.path.getmtime(p) for p in sources)
    if not os.path.exists(cp_file) or os.path.getmtime(cp_file) < newest:
        tmp = os.path.join(HERE, "target", "tmp")
        os.makedirs(tmp, exist_ok=True)
        # every JVM the sbt script starts keeps its temporary files in the checkout
        env = dict(os.environ, COURSIER_MODE="offline",
                   JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx3g") + " -Dsbt.server.autostart=false"
        log("building the harness (sbt compile)")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if r.returncode != 0 or not os.path.exists(cp_file):
            raise SystemExit("perfbench: build failed")
    with open(cp_file) as f:
        return f.read().strip()


def run_jvm(classpath, args, work):
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Harness"] + args
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: harness JVM timed out")
    if rc != 0:
        raise SystemExit(f"perfbench: harness JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from a checkout of the repository (src/main/scala missing)")

    classpath = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.perf_counter()
        known = {}
        if a.workload == "sparkify_etl":
            inp = os.path.join(work, "lake")
            known = gen.sparkify_lake(inp, a.seed, LAKE_SONGS, LAKE_EVENTS)
        else:
            inp = TABLES
        gen_s = time.perf_counter() - t

        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--input", inp, "--work", work, "--out", out, "--run-id", f"{a.workload}-{a.seed}"]
        if a.workload == "sparkify_etl":
            args += ["--user", known["session_user"]]
        if a.workload == "registry_loops":
            order = list(REGISTRY)
            random.Random(a.seed).shuffle(order)
            args += ["--queries", ",".join(order)]
        run_jvm(classpath, args, work)
        with open(out) as f:
            res = json.load(f)

        attempted, failed, notes = checks.check(a.workload, res, known, inp)
        for n in notes:
            log(n)
        report = summarize(a.workload, res, known, attempted, failed, gen_s)
        if a.trace:
            traces = os.path.join(HERE, "work", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.json"))
            metrics = per_layer(a.workload, res, known)
        else:
            metrics = end_to_end(res)
        print(json.dumps({"report": report}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def timed_ops(res):
    """The ops the end-to-end figures come from (untraced ones in a traced run)."""
    ops = [o for o in res["ops"] if not o.get("traced")]
    return ops or res["ops"]


def part_times(res):
    """Each op part's times: the queries of a registry pass, or runAll and
    the four README queries of an ETL op."""
    per = {}
    for o in timed_ops(res):
        parts = [(q["name"], q["ms"]) for q in o["queries"]] if "queries" in o else o["parts"].items()
        for name, ms in parts:
            per.setdefault(name, []).append(ms)
    return per


def end_to_end(res):
    ms = [o["ms"] for o in timed_ops(res)]
    return {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "op_p50_ms": {"value": statistics.median(ms), "unit": "ms"},
        "live_mb": {"value": res["live_mb"], "unit": "MB"},
    }


def etl_outputs(res, known):
    last = timed_ops(res)[-1]
    return sum(last["files"].values()), sum(last["bytes"].values()) / known["json_bytes"]


def summarize(workload, res, known, attempted, failed, gen_s):
    """The end-to-end figures by their workload-specific names, with units
    and sample counts, plus the host evidence of the run."""
    ms = [o["ms"] for o in timed_ops(res)]
    parts = part_times(res)
    r = {"workload": workload, "ops": len(ms), "setup_s": [res["setup_s"], "s"], "gen_s": [gen_s, "s"],
         "live_mb": [res["live_mb"], "MB"], "peak_rss_mb": [res["peak_rss_mb"], "MB"],
         "ops_failed_ratio": [failed / attempted, "ratio"],
         "nproc": res["nproc"], "host": res["host"]}
    if workload == "sparkify_etl":
        files, ratio = etl_outputs(res, known)
        r.update(etl_s=[statistics.median(parts.pop("runAll")) / 1000, "s"],
                 etl_files_out=[files, "count"], etl_bytes_out_ratio=[ratio, "ratio"])
        r.update({f"star_{t}_p50_ms": [statistics.median(v), "ms"] for t, v in parts.items()})
    else:
        r["loop_pass_s"] = [statistics.median(ms) / 1000, "s"]
        r.update({f"{q}_ms": [statistics.median(v), "ms"] for q, v in parts.items()})
    return r


def per_layer(workload, res, known):
    """Every per-layer metric BENCHMARK.json names; 0 for a layer the
    workload does not run."""
    layers = dict(res.get("layers", {}))
    if workload == "sparkify_etl":
        files, ratio = etl_outputs(res, known)
        got = res["measured"]
        layers.update({"etl.files_out": files, "etl.bytes_out_ratio": ratio,
                       "etl.songplays_match_ratio": got["matched_plays"] / got["songplays"]})
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    return {name: {"value": float(layers.get(name, 0.0)), "unit": unit} for name, unit in units.items()}


if __name__ == "__main__":
    main()
