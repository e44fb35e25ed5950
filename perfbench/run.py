#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <agent_loop|query_sweep>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark
(perfbench/build.py), generates the workload's inputs from the seed,
runs one measured JVM (`graftbench.Main`), checks the outputs, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. The full run artifact (every metric
line with name, unit and workload; check results; per-query and
per-call attribution; spans) is written to
.bench_build/results/<workload>-seed<n>-trace<t>.json; perfbench/diff.py
compares two directories of them.

Extra options for manual runs:
  --tiny              minimal inputs (the tiny-run test uses this)
  --queries a,b,...   sweep these queries instead of the default set (`all`: every query)
  --data-dir DIR      sweep an existing table directory instead of generated tables
  --results-dir DIR   where the run artifact goes (default .bench_build/results)
  --jvm-opts "..."    extra JVM options
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("agent_loop", "query_sweep")

# The sweep's fixed query set (sorted at run time). It covers the layers a
# pass over all 171 queries exercises, at a size one run can afford:
#  - q_bpe_train: the build layer (16 eager jobs before a plan exists);
#  - q_hard_negatives: pair guard + SessionMemo;
#  - q_quality_classifier: the two-pass Naive Bayes scorer whose
#    single-pass form once regressed at scale;
#  - q_source_overlap: the shuffle-heaviest query (pinned merge join);
#  - q_topk: a plain scan dominated by Parquet schema resolution.
# An odd count puts the median query latency on one query. The full
# sweep (~90 s a warm pass at sf0.01 on 4 cores) does not fit a run;
# `--queries all` runs it.
SWEEP_QUERIES = ["q_bpe_train", "q_hard_negatives", "q_quality_classifier",
                 "q_source_overlap", "q_topk"]

SWEEP_SF = 0.01

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def metric_names(kind):
    """Names of the `end_to_end` or `per_layer` metrics in BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[kind]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--queries")
    ap.add_argument("--data-dir")
    ap.add_argument("--jvm-opts", default="")
    ap.add_argument("--results-dir", default=os.path.join(".bench_build", "results"))
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        print("graftbench: run from the repository root (src/main/scala not found)", file=sys.stderr)
        return 2
    classes = build.ensure(root)
    t_run = time.time()

    work = os.path.join(root, ".bench_build", "run", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    os.makedirs(os.path.join(work, "tmp"))
    queries = []
    if a.workload == "query_sweep":
        if a.data_dir:
            os.makedirs(inp)
            os.symlink(os.path.abspath(a.data_dir), os.path.join(inp, "data"))
        else:
            gen.gen_tables(a.seed, os.path.join(inp, "data"), 0.001 if a.tiny else SWEEP_SF)
        if a.queries == "all":
            queries = []
        elif a.queries:
            queries = a.queries.split(",")
        else:
            queries = SWEEP_QUERIES[-3:] if a.tiny else SWEEP_QUERIES
    else:
        gen.gen_agent(a.seed, inp, tiny=a.tiny)

    jars = os.path.join(build.spark_jars_dir(root), "*")
    heap = "2g" if a.tiny else "3g"
    # The parallel collector: no concurrent GC threads competing with the
    # driver thread, which carries most of every facade call.
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", f"-Xmx{heap}", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
           + a.jvm_opts.split()
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, jars]), "graftbench.Main",
              "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores()), "--input", inp, "--work", work,
              "--out", os.path.join(work, "artifact.json")]
           + (["--queries", ",".join(queries)] if queries else []))
    budget = (3600 if a.queries == "all" else 165) - (time.time() - t_run)
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=max(budget, 30))
    except subprocess.TimeoutExpired:
        print("graftbench: the measured program did not finish in time", file=sys.stderr)
        return 3
    lines = [json.loads(l[len("GRAFTBENCH "):]) for l in proc.stdout.splitlines()
             if l.startswith("GRAFTBENCH ")]
    if proc.returncode != 0:
        print(f"graftbench: the measured program exited with {proc.returncode}", file=sys.stderr)
        return 3

    metrics = {l["metric"]: l for l in lines if "metric" in l}
    checks = [l for l in lines if "check" in l]
    counts = [l for l in lines if "attempted" in l]
    attempted = counts[-1]["attempted"] if counts else 0
    failed = counts[-1]["failed"] if counts else 1

    if a.workload == "query_sweep":
        import oracle
        res = oracle.check(os.path.join(inp, "data"), os.path.join(work, "outputs"))
        executions = {}
        for l in lines:
            if "rows" in l:
                executions.setdefault(l["query"], []).append(l["rows"])
        for name, (ok, detail, want) in sorted(res.items()):
            # The written output's fingerprint, and the row count of every
            # timed execution; a mismatch fails every execution of the query.
            rows = executions.get(name, [])
            if ok and any(n != want for n in rows):
                ok, detail = False, f"timed executions returned {sorted(set(rows))} rows, oracle {want}"
            checks.append({"check": f"oracle:{name}", "ok": ok, "detail": detail,
                           "workload": a.workload})
            if not ok:
                failed += max(1, len(rows))

    for c in checks:
        if not c["ok"]:
            print(f"graftbench: check failed {c['check']}: {c['detail']}", file=sys.stderr)

    wanted = metric_names("per_layer" if a.trace else "end_to_end")
    missing = [m for m in wanted if m not in metrics]
    out = {m: {"value": metrics[m]["value"], "unit": metrics[m]["unit"]} for m in wanted if m in metrics}
    correct = (failed == 0 and all(c["ok"] for c in checks) and not missing and attempted > 0)
    if missing:
        print(f"graftbench: metrics missing: {missing}", file=sys.stderr)

    # Keep the artifact where the diff tool finds it.
    res_dir = os.path.join(root, a.results_dir)
    os.makedirs(res_dir, exist_ok=True)
    art = os.path.join(work, "artifact.json")
    try:
        with open(art) as fh:
            artifact = json.load(fh)
    except (OSError, ValueError):
        artifact = {}
    artifact.update({"seed": a.seed, "trace": a.trace, "checks": checks, "correct": correct,
                     "attempted": attempted, "failed": failed,
                     "build_s": t_run - t_start, "wall_s": time.time() - t_start})
    with open(os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(artifact, fh)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
