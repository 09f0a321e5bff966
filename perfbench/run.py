#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload per invocation.

Usage (from the repository root):
  python3 perfbench/run.py --workload validate|curate --seed N \
      --seconds S --trace 0|1 [--docs N]

Builds the harness (perfbench/build.sbt compiles the repository's Scala
sources together with perfbench/src) when the sources changed, writes the
seeded input in a JVM of its own unless it is already there, starts one
JVM at local[4] for the workload, checks the outputs against DuckDB outside
the timed region, and prints one JSON object as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics of the traced run.
Everything the run writes goes under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("validate", "curate")
# Docs in the seeded input: an engine operation takes 1.5-2 s at local[4] on
# a 4-vCPU host, so a run of 50-55 s, input generation included, times five
# after four warm-ups. Fixed per-job costs dominate at this size.
DOCS = 50_000
with open(os.path.join(HERE, "layers.json")) as _fh:
    _LAYERS = json.load(_fh)
LAYERS = _LAYERS["layers"]  # sweep layer -> query short ids
# The sweep's traced and checked queries: one representative per layer.
SWEEP_TRACED = _LAYERS["traced"]
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles the harness unless the sources are unchanged since the last
    successful build."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(WORK, "build.stamp")
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building the harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       env=dict(os.environ, SPARK_HOME=spark_home()))
    if r.returncode != 0:
        raise SystemExit(f"sbt build failed with exit code {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def spark_home():
    """SPARK_HOME, or the first Spark install with a bin/spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("set SPARK_HOME to a Spark 4 install")


def input_dir(args):
    return os.path.join(WORK, "inputs", f"docs_s{args.seed}_n{args.docs}_p8")


def run_jvm(args, out_path, gen=False):
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, f"-Xmx{JVM_HEAP}", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
           "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars', '*')}",
           "graft.perfbench.Main", "--gen", "1" if gen else "0",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--docs", str(args.docs), "--input", input_dir(args), "--sf", SF_DIR, "--work", WORK,
           "--out", out_path or "-",
           "--layers", ";".join(f"{k}:{','.join(v)}" for k, v in LAYERS.items()),
           "--queries", ",".join(SWEEP_TRACED)]
    # Spark's scratch (shuffle files, disk-cached blocks) stays inside the
    # checkout; this overrides the /dev/shm spark.local.dir that
    # Bench.engineSession sets, the one setting in which the sessions differ.
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(WORK, "jvm-gen.log" if gen else
                            f"jvm-{args.workload}-{args.trace}.log")
    with open(log_path, "w") as lf:
        r = subprocess.run(cmd, cwd=WORK, env=env, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed with exit code {r.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # a smaller input for the smoke test (test_smoke.py); every metric is
    # still printed
    ap.add_argument("--docs", type=int, default=DOCS)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft sources not found next to perfbench/; "
                         "run from the root of a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    build()
    if not os.path.exists(os.path.join(input_dir(args), "_SUCCESS")):
        log(f"generating the input for seed {args.seed}")
        run_jvm(args, None, gen=True)
    out_path = os.path.join(WORK, f"result-{args.workload}-{args.trace}.json")
    if os.path.exists(out_path):
        os.remove(out_path)
    run_jvm(args, out_path)
    with open(out_path) as fh:
        raw = json.load(fh)

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    if args.trace:
        problems += check_traced(raw)
        counts = traced_counts(raw)
        attempted, failed = 1, 1 if problems else 0
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        metrics = stats.per_layer(raw["spans"], counts, args.docs, names)
        write_spans(raw["spans"], args)
    else:
        problems += check_untraced(args.workload, raw)
        attempted = len(raw["ops"]) + 1
        failed = sum(1 for o in raw["ops"] if not o["ok"]) + (1 if problems else 0)
        metrics = stats.end_to_end(raw, attempted, failed)
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {n: metrics[n] for n in names}
    for p in problems:
        log(f"check failed: {p}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def check_untraced(workload, raw):
    c = raw["counts"]
    return checks.compare_counts(workload, c["rules"], c["total_rows"], c["passed"],
                                 c["failed"], raw["docs_path"])


def check_traced(raw):
    rules, total, passed, failed = checks.engine_output(raw["oneshot_dir"])
    problems = checks.compare_counts("validate", rules, total, passed, failed,
                                     raw["docs_path"])
    c = raw["counts"]
    problems += checks.compare_counts("curate", c["rules"], c["total_rows"], c["passed"],
                                      c["failed"], raw["docs_path"])
    if not checks.same_output(raw["oneshot_dir"], raw["resume_dir"]):
        problems.append("killed-then-resumed output differs from the one-shot output")
    q_problems, rows = checks.query_results(raw["query_results"], raw["oracle_sql"], SF_DIR)
    for name in sorted(set(rows) - set(raw["oracle_sql"])):
        log(f"{name}: rows-only check, {rows[name]} rows")
    if len(rows) != len(SWEEP_TRACED):
        problems.append(f"{len(rows)} query results written, expected {len(SWEEP_TRACED)}")
    return problems + q_problems


def traced_counts(raw):
    rules, _, _, failed = checks.engine_output(raw["oneshot_dir"])
    return {"out_bytes": checks.dir_bytes(raw["oneshot_dir"]),
            "violation_rows": sum(rules.values()), "failed_docs": failed,
            "peak_rss_mb": raw["peak_rss_mb"],
            "resume_skip_frac": raw["resume_skip_frac"]}


def write_spans(spans, args):
    """Spans with their self time, one JSON object per line."""
    selfs = stats.self_times(spans)
    path = os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.jsonl")
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(dict(s, self_s=selfs[(s["trace"], s["id"])])) + "\n")
    log(f"spans written to {path}")


if __name__ == "__main__":
    sys.exit(main())
