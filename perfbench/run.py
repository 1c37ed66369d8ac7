#!/usr/bin/env python3
"""Workload benchmark for the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload tools|llm --seed N --seconds S --trace 0|1

Builds the program and the runner if their sources changed (untimed),
derives seeded inputs (perfbench/gen_inputs.py), runs the workload's
queries in one JVM (perfbench/runner), checks every query's result
against its DuckDB oracle with tools/check_oracle.py, and prints one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
A traced run also writes its profile to .perfbench/profiles/.
See perfbench/README.md for what each number means.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".perfbench")
RUNNER = os.path.join(BENCH, "runner")
SOURCE_FIXTURE = os.path.expanduser("~/testdata/sf0.1")
HEAP = "3g"
# One core is left to the JIT compiler and GC threads, so that their work
# does not take turns with the task threads inside the timed queries.
CPUS = max(1, min(4, len(os.sched_getaffinity(0))) - 1)
# A run makes max(1, round(--seconds / NOMINAL_PASS_S)) timed passes: the
# count depends on --seconds alone, not on how fast the machine happens to
# be, so every run of a workload does the same work. A pass of either
# workload takes 7-13 s on the reference machine.
NOMINAL_PASS_S = 8.0
RUN_LIMIT_S = 150
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                "-Dsbt.offline=true -Dsbt.server.autostart=false -XX:-UsePerfData -Xmx2g",
}
# Matches org.apache.spark.launcher.JavaModuleOptions, as the program's build.sbt does.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Queries of each workload, in run order; README.md says why these.
WORKLOADS = {
    "tools": """compare_diff mask_k_anonymity pattern_replace_all pdf_extract_text
        txt_roundtrip xml_roundtrip xlsx_roundtrip avro_roundtrip keyed_upsert""".split(),
    "llm": """llm_pipeline_full dedup_simhash text_bpe_top_pairs ann_topk_truncated
        curation_pack_sequences wap_publish_cas matview_join_delta""".split(),
}
# Query-name prefix -> the module the query family exercises.
GROUPS = {
    "compare_": "ops.Compare", "mask_": "ops.Mask", "pattern_": "ops.Patterns",
    "pdf_": "ops.Pdf", "txt_": "sources", "xml_": "xml", "xlsx_": "xlsx", "avro_": "avro",
    "llm_pipeline_": "llm.pipeline", "dedup_": "llm.Dedup", "text_bpe_": "llm.Bpe",
    "ann_": "llm.Ann", "curation_": "llm.Curation", "keyed_": "ops.KeyedUpsert",
    "wap_": "ops.Wap", "matview_": "ops.IncrementalJoin",
}
MB = 1048576.0


def group_of(query):
    return next(g for p, g in GROUPS.items() if query.startswith(p))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            f for f in glob.glob(os.path.join(top, "**", "*"), recursive=True)
            if os.path.isfile(f) and "/target/" not in f)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jars directory the program's build.sbt compiles against
    (its unmanagedBase); the runner is built and run against the same."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        fail("build.sbt names no unmanagedBase directory of Spark jars")
    return m.group(1)


def sbt_compile(cwd):
    env = dict(os.environ, SPARK_JARS=spark_jars(), **SBT_ENV)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=cwd, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"sbt compile failed in {os.path.relpath(cwd, ROOT)}")


def build():
    """Compile the program with its own build, then the runner, when
    their sources changed since the last build in this checkout."""
    program = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    for p in program + [os.path.join(ROOT, "tools", "check_oracle.py")]:
        if not os.path.exists(p):
            fail(f"program source missing: {os.path.relpath(p, ROOT)}")
    stamp = os.path.join(STATE, "build.stamp")
    digest = sources_digest(program + [os.path.join(RUNNER, f) for f in ("build.sbt", "project", "src")])
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    sbt_compile(ROOT)
    sbt_compile(RUNNER)
    with open(stamp, "w") as fh:
        fh.write(digest)


def generate_inputs(seed, out):
    if not os.path.isdir(SOURCE_FIXTURE):
        fail(f"source fixture {SOURCE_FIXTURE} not found")
    subprocess.run([sys.executable, os.path.join(BENCH, "gen_inputs.py"), "--seed", str(seed),
                    "--src", SOURCE_FIXTURE, "--out", out], check=True, stdin=subprocess.DEVNULL)


def run_jvm(workdir, inputs, queries, passes, trace, deadline):
    classpath = os.pathsep.join([
        os.path.join(RUNNER, "target", "scala-2.13", "classes"),
        os.path.join(ROOT, "target", "scala-2.13", "classes"),
        os.path.join(ROOT, "src", "main", "resources"),
        os.path.join(spark_jars(), "*")])
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(workdir, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={workdir}"]
           + ADD_OPENS +
           ["-cp", classpath, "perfbench.Runner",
            "--inputs", inputs, "--queries", ",".join(queries), "--passes", str(passes),
            "--trace", str(trace), "--cpus", str(CPUS),
            "--check-dir", os.path.join(workdir, "check"),
            "--local-dir", os.path.join(workdir, "spark-local"),
            "--warehouse", os.path.join(workdir, "warehouse"), "--out", out])
    log_path = os.path.join(workdir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=workdir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"runner JVM ended with {code}")
    with open(out) as fh:
        return json.load(fh)


def check_outputs(inputs, check_dir, queries):
    """tools/check_oracle.py, unchanged: one 'ok' or 'FAIL' line per query.
    Returns the queries whose output did not match or was not written."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        inputs, check_dir], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    verdicts = {q: v for v, q in re.findall(r"^(ok|FAIL) +(\S+):", r.stdout, re.M)}
    if set(verdicts) != set(queries):
        sys.stderr.write(r.stdout[-4000:])
        fail("the oracle check did not give one verdict per query")
    bad = {q for q, v in verdicts.items() if v != "ok"}
    if bad:
        sys.stderr.write(r.stdout[-4000:])
    return bad


def by_pass(runs):
    passes = {}
    for r in runs:
        passes.setdefault(r["pass"], []).append(r)
    return [passes[p] for p in sorted(passes)]


def end_to_end(result):
    passes = by_pass(r for r in result["runs"] if not r["traced"])
    return {
        "setup_s": (result["setup_s"], "s"),
        "cpu_s": (statistics.median(sum(r["cpu_s"] for r in p) for p in passes), "s"),
        "alloc_mb": (statistics.median(sum(r["alloc_mb"] for r in p) for p in passes), "MB"),
        "heap_peak_mb": (result["heap_peak_mb"], "MB"),
    }


def wall_times(result, queries):
    """Wall times of the untraced passes. On a shared VM they spread
    between runs by more than any bound allows (README.md), so they are
    reported with the per-layer metrics of a traced run."""
    passes = by_pass(r for r in result["runs"] if not r["traced"])
    per_query = [statistics.median(r["wall_s"] for p in passes for r in p if r["query"] == q)
                 for q in queries]
    return {
        "pass_s": (statistics.median(sum(r["wall_s"] for r in p) for p in passes), "s"),
        "query_geomean_s": (statistics.geometric_mean(per_query), "s"),
    }


def lower_median(values):
    """The median, or the lower of the two middle values: always a value
    some pass actually had, so counts stay whole numbers."""
    return sorted(values)[(len(values) - 1) // 2]


def per_layer(result, queries, rows_out):
    traced = by_pass(r for r in result["runs"] if r["traced"])

    def each_pass(value, of=lambda r: True, agg=sum):
        return lower_median([agg([value(r) for r in p if of(r)] or [0]) for p in traced])

    metrics = {}
    for g in dict.fromkeys(GROUPS.values()):
        mine = lambda r, g=g: group_of(r["query"]) == g
        metrics[f"{g}.wall_s"] = (each_pass(lambda r: r["wall_s"], mine), "s")
        metrics[f"{g}.serial_s"] = (each_pass(lambda r: r["serial_s"], mine), "s")
        metrics[f"{g}.jobs"] = (each_pass(lambda r: r["jobs"], mine), "count")
        metrics[f"{g}.executor_cpu_s"] = (each_pass(lambda r: r["executor_cpu_s"], mine), "s")
        metrics[f"{g}.shuffle_write_mb"] = (each_pass(lambda r: r["shuffle_write_bytes"], mine) / MB, "MB")
        metrics[f"{g}.spill_mb"] = (each_pass(lambda r: r["spill_bytes"], mine) / MB, "MB")
    metrics["spark.stages"] = (each_pass(lambda r: r["stages"]), "count")
    metrics["spark.tasks"] = (each_pass(lambda r: r["tasks"]), "count")
    metrics["spark.gc_s"] = (each_pass(lambda r: r["gc_s"]), "s")
    metrics["spark.input_mb"] = (each_pass(lambda r: r["input_bytes"]) / MB, "MB")
    metrics["spark.output_mb"] = (each_pass(lambda r: r["output_bytes"]) / MB, "MB")
    metrics["spark.peak_exec_mem_mb"] = (each_pass(lambda r: r["peak_exec_mem_bytes"], agg=max) / MB, "MB")
    metrics.update(wall_times(result, queries))
    traced_pass = statistics.median(sum(r["wall_s"] for r in p) for p in traced)
    metrics["trace.overhead_s"] = (traced_pass - metrics["pass_s"][0], "s")

    rows = []
    for q in queries:
        mine = [r for p in traced for r in p if r["query"] == q]
        row = {"query": q, "group": group_of(q), "rows_out": rows_out[q], "passes": len(mine)}
        for k in ("wall_s", "serial_s", "plan_s", "cpu_s", "process_cpu_s", "executor_cpu_s", "alloc_mb",
                  "gc_s", "jit_s", "jobs", "stages", "tasks", "actions", "shuffle_write_bytes",
                  "shuffle_write_records", "spill_bytes", "input_bytes", "output_bytes",
                  "peak_exec_mem_bytes"):
            row[k] = lower_median([r[k] for r in mine])
        rows.append(row)
    return metrics, rows


def count_rows(check_dir, queries):
    import pyarrow.parquet as pq
    return {q: sum(pq.ParquetFile(f).metadata.num_rows
                   for f in glob.glob(os.path.join(check_dir, q, "*.parquet")))
            for q in queries}


def main():
    ap = argparse.ArgumentParser(description="graft workload benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    os.makedirs(STATE, exist_ok=True)
    build()
    deadline = time.monotonic() + RUN_LIMIT_S
    queries = WORKLOADS[a.workload]
    # A traced run makes at least two passes of each kind, so that the
    # untraced-traced order can alternate (README.md, trace.overhead_s).
    passes = max(2 if a.trace else 1, round(a.seconds / NOMINAL_PASS_S))
    workdir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        inputs = os.path.join(workdir, "inputs")
        generate_inputs(a.seed, inputs)
        result = run_jvm(workdir, inputs, queries, passes, a.trace, deadline)
        check_dir = os.path.join(workdir, "check")
        wrong = check_outputs(inputs, check_dir, queries)
        timed = [r for r in result["runs"] if not r["traced"]]
        failed = sum(1 for r in timed if r["query"] in wrong or not r["ok"])
        if a.trace:
            metrics, rows = per_layer(result, queries, count_rows(check_dir, queries))
            profiles = os.path.join(STATE, "profiles")
            os.makedirs(profiles, exist_ok=True)
            with open(os.path.join(profiles, f"{a.workload}-seed{a.seed}-{os.getpid()}.json"), "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "cpus": CPUS, "heap": HEAP,
                           "passes": passes, "session_s": result["session_s"],
                           "setup_s": result["setup_s"],
                           "metrics": {k: v for k, (v, _) in metrics.items()},
                           "queries": rows}, fh, indent=1)
        else:
            metrics = end_to_end(result)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({
        # Wrong answers and errors are counted in `failed`; every operation
        # not counted there was checked against its oracle and matched.
        "correct": True,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
