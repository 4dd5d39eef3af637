#!/usr/bin/env python3
"""Pipeline benchmark: ingest, CDC/sink and query layers of the FDB trace
pipeline, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Workloads: backfill, live_tail, query_mix (see perfbench/README.md). The
first run in a checkout builds the program and the benchmark with sbt;
later runs reuse the build until a source file changes. The last line of
standard output is one JSON object with the keys correct, attempted,
failed and metrics. With --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones. The full artifact of the run (per-file,
per-batch, per-query detail and the trace) is written under
.bench_build/perfbench/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("backfill", "live_tail", "query_mix")
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "latency_p50_s": "s"}
# query_mix tables: scale factor of the suite's fixture schema, the suite's
# correctness scale. At sf0.1 the cache-filling pass alone takes two minutes
# on a 4-core box; at this scale a run fits the benchmark's time budget.
QUERY_MIX_SF = 0.01
JVM_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def width():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def source_fingerprint():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("fingerprint") == fp:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = "-Dsbt.offline=true -Xmx2g"
        if os.path.exists(repos):
            opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
        env["SBT_OPTS"] = opts
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def java_cmd(classpath):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the program's own run settings (build.sbt): UTC, ParallelGC, a larger
    # code cache; the heap is fixed so that runs are comparable
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
            "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.PipelineBench"]
    return cmd


def query_list():
    """query_mix's queries; a pass runs each once."""
    with open(os.path.join(HERE, "queries.json")) as f:
        spec = json.load(f)
    return [q for group in spec["groups"] for q in group["queries"]]


def make_tables(out, seed):
    """Generate the query_mix tables three times and keep the median time."""
    sys.path.insert(0, HERE)
    import gen_tables
    times = []
    for _ in range(3):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        gen_tables.generate(out, seed, QUERY_MIX_SF)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"no program sources under {ROOT}: run from a checkout of the repository")
    classpath = build()

    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    artifact = os.path.join(BUILD, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", os.path.join(work, "jvm"), "--out", artifact,
            "--cpus", str(width())]
    queries = []
    if a.workload == "query_mix":
        tables = os.path.join(work, "tables")
        gen_s = make_tables(tables, a.seed)
        queries = query_list()
        args += ["--tables", tables, "--queries", ",".join(queries),
                 "--tables-setup-s", repr(gen_s)]

    log_path = os.path.join(BUILD, "jvm.log")
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; the run keeps its
    # scratch space inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(classpath) + args, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the run did not finish within {JVM_TIMEOUT_S} s (log: {log_path})")
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the run failed with exit code {proc.returncode}")
    for line in out.splitlines():
        print(line)
    with open(artifact) as f:
        res = json.load(f)

    problems = list(res["problems"])
    if a.workload == "query_mix":
        import oracle
        problems += oracle.check(os.path.join(work, "tables"), os.path.join(work, "jvm", "untraced", "results"),
                                 res["oracle_sql"], queries)
    res["problems"] = problems
    with open(artifact, "w") as f:
        json.dump(res, f)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(res["per_layer"].items())}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


def layer_unit(name):
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("bytes_per_row"):
        return "bytes/row"
    if name.endswith("yield"):
        return "1"
    return "count"


if __name__ == "__main__":
    main()
