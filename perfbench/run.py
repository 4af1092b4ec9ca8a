"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bpi --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath; later runs
rebuild only when a source file changed. Inputs are generated from the seed
under perfbench/.work/, the harness runs in one JVM on local[nproc], and the
last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics, from a run that registers Spark,
query-execution and streaming listeners on every other pass and writes its
spans to perfbench/.work/<workload>/spans.jsonl.

The declared-query workloads run on a private copy of the test corpus
under perfbench/corpus/ (the repository's sf0.001 test tables, seed 42).
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
BUILD_STAMP = os.path.join(WORK, "build.json")
RUN_TIMEOUT_S = 160

# Per workload: what to generate, and which corpus and query list to use.
WORKLOADS = {
    "bpi": {"polls": 200, "poll_lines": 36, "backlog_lines": 32_000, "backlog_files": 4},
    "lifecycle_cold": {"scale": "sf0.001", "queries": "lifecycle_queries.txt"},
    "queries_warm": {"scale": "sf0.001", "queries": "warm_queries.txt"},
}


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# The JVM the engine's own build forks for `run` and `test` (build.sbt
# javaOptions): default tiered compilation and collector, an 8 GB heap cap.
HEAP = "8g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
    files += glob.glob(os.path.join(HARNESS, "**", "*.s*"), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f) and "/target/" not in f:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness if any source changed; return the classpath."""
    want = source_hash()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            stamp = json.load(f)
        if stamp.get("sources") == want:
            return stamp["classpath"]
    log("building engine and harness with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.splitlines()
    cps = [l.strip() for l in lines if "scala-2.13" in l and os.pathsep in l
           and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        json.dump({"sources": want, "classpath": cps[-1]}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1]


def run_harness(cp, args, wdir, inputs, corpus, queries, out):
    tmp = os.path.join(wdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness",
        "--workload", args.workload, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", wdir, "--inputs", inputs,
        "--corpus", corpus or inputs, "--cores", str(cores),
        "--seed", str(args.seed), "--out", out]
    if queries:
        cmd += ["--queries", queries]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(wdir, "spark-local")
    # its own process group, so a timeout can stop the JVM and its children
    proc = subprocess.Popen(cmd, cwd=wdir, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    deadline = time.time() + args.timeout
    try:
        output, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"harness did not finish within {args.timeout:.0f} s", 3)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(output.splitlines()[-60:]) + "\n")
        die(f"harness exited with {proc.returncode}", 3)
    with open(os.path.join(wdir, "harness.log"), "w") as f:
        f.write(output)
    with open(out) as f:
        return json.load(f)


def end_to_end(args, res, gen_s):
    """The workload's end-to-end metrics from the harness's raw record.

    p50_ms is the median latency of the workload's repeated light
    operation: a poll (bpi), a warm pass over the lifecycle queries
    (lifecycle_cold), a warm query (queries_warm). pass_s is the median
    time of its heavy pass: a backlog drain (bpi), the cold pass
    (lifecycle_cold), a pass over the warm queries (queries_warm).
    """
    w = args.workload
    light, heavy = {"bpi": ("poll", "drain"), "lifecycle_cold": ("warm", "cold"),
                    "queries_warm": ("query", "pass")}[w]
    if w == "bpi":
        lat = [o["ms"] for o in res["ops"] if o["kind"] == light]
        heavy_s = [o["ms"] / 1000.0 for o in res["ops"] if o["kind"] == heavy]
    else:
        lat = ([p["s"] * 1000.0 for p in res["passes"] if p["kind"] == light]
               if w == "lifecycle_cold" else
               [o["ms"] for o in res["ops"] if o["kind"] == light])
        heavy_s = [p["s"] for p in res["passes"] if p["kind"] == heavy]
    metrics = {
        "setup_s": (gen_s + stats.median(res["setup_s"]) + res["warmup_s"], "s"),
        "p50_ms": (stats.percentile(lat, 50), "ms"),
        "pass_s": (stats.median(heavy_s), "s"),
    }
    top = stats.highest_supported(len(lat))
    detail = {"workload": w, "samples": len(lat), "heavy_samples": len(heavy_s),
              "highest_supported_percentile": top,
              "setup_runs_s": res["setup_s"], "warmup_s": res["warmup_s"],
              "input_generation_s": round(gen_s, 3)}
    if top and top > 50:
        detail[f"p{top:g}_ms"] = stats.percentile(lat, top)
    # the JVM's CPU time (all threads) over the same operations: it does
    # not grow when the host gives the run less of its cores
    if w == "bpi":
        detail["p50_cpu_ms"] = stats.median(
            [o["layers"]["cpu_ms"] for o in res["ops"] if o["kind"] == light])
        detail["pass_cpu_s"] = stats.median(
            [o["layers"]["cpu_ms"] / 1000.0 for o in res["ops"] if o["kind"] == heavy])
        detail["bpi_backfill_rows_per_s"] = res["backlog_rows"] / metrics["pass_s"][0]
    if w == "lifecycle_cold":
        detail["p50_cpu_ms"] = stats.median(
            [p["cpu_s"] * 1000.0 for p in res["passes"] if p["kind"] == light])
        detail["pass_cpu_s"] = stats.median([p["cpu_s"] for p in res["passes"] if p["kind"] == heavy])
        detail["lifecycle_first_touch_s"] = res["first_touch_s"]
        detail["lifecycle_cold_s"] = metrics["pass_s"][0]
        detail["lifecycle_warm_s"] = metrics["p50_ms"][0] / 1000.0
    return metrics, detail


def checks(args, res, manifest):
    problems = []
    c = res["checks"]
    if args.workload == "bpi":
        if "poll_rows" in c:
            files = c["poll_files"].split(",")
            rows, digest = stats.expected_for_polls(manifest, files)
            problems += stats.check_warehouse(
                {"rows": c["poll_rows"], "digest": c["poll_digest"],
                 "bad_audit": c["poll_bad_audit"]}, rows, digest)
        else:
            problems.append("the poll warehouse was not checked")
        b = manifest["backlog"]
        drains = sorted({k.split("_")[0] for k in c if k.startswith("drain")})
        if not drains:
            problems.append("no drain warehouse was checked")
        for d in drains:
            problems += [f"{d}: {p}" for p in stats.check_warehouse(
                {"rows": c[f"{d}_rows"], "digest": c[f"{d}_digest"],
                 "bad_audit": c[f"{d}_bad_audit"]}, b["rows"], b["digest"])]
    else:
        with open(os.path.join(HERE, "query_rows.json")) as f:
            recorded = json.load(f)[WORKLOADS[args.workload]["scale"]]
        problems += stats.check_query_rows(res["query_rows"], recorded)
    return problems


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--timeout", type=float, default=RUN_TIMEOUT_S,
                    help="seconds the harness may take after the build")
    ap.add_argument("--queries", help="override the workload's query list (file, or ALL)")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        die("the engine sources (build.sbt, src/main/scala/graft) are not here; "
            "run from a full checkout of the repository")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        die(f"BENCHMARK.json: {e}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")

    cp = build()
    spec = WORKLOADS[args.workload]
    wdir = os.path.join(WORK, args.workload)
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)

    t0 = time.time()
    inputs = os.path.join(wdir, "inputs")
    manifest = gen.generate(args.seed, inputs, **{
        k: v for k, v in spec.items() if k not in ("scale", "queries")})
    gen_s = time.time() - t0

    corpus = queries = None
    if "scale" in spec:
        corpus = os.path.join(HERE, "corpus", spec["scale"])
        if not os.path.isdir(corpus):
            die(f"test corpus {corpus} not found")
        queries = args.queries or os.path.join(HERE, spec["queries"])
        if queries != "ALL":
            queries = os.path.abspath(queries)
    res = run_harness(cp, args, wdir, inputs, corpus, queries,
                      os.path.join(wdir, "result.json"))

    failures = res["failures"]
    attempted = res["attempted"]
    problems = checks(args, res, manifest)
    for f in failures:
        log(f"FAILED {f['op']}: {f['class']}: {f['message']}")
    for p in problems:
        log(f"CHECK {p}")

    if args.trace:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        layers = res["layers"]
        missing = [n for n in names if n not in layers]
        if missing:
            problems.append(f"per-layer metrics not produced: {missing}")
        metrics = {n: {"value": layers.get(n), "unit": units[n]} for n in names}
        print(json.dumps({"spans_file": os.path.relpath(res["spans_file"], ROOT),
                          "trace_overhead_ms": layers.get("trace.overhead_ms"),
                          "trace_overhead_pct": layers.get("trace.overhead_pct")}))
    else:
        if manifest["backlog"]:
            res["backlog_rows"] = manifest["backlog"]["rows"]
        e2e, detail = end_to_end(args, res, gen_s)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps(detail))

    print(json.dumps({"correct": not failures and not problems, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
