#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

It builds the program and the benchmark from source with sbt (once per
source state, into .bench_build/), generates the seeded inputs, runs
the workload in one JVM, checks the outputs and prints one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. The exit code is 0 only when every output
matched. Workloads: mr_wordcount, llm_pipeline.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build")
# a run without a build ends within this many seconds
DEADLINE_S = 170
JVM_HEAP = "4g"

WORKLOADS = ("mr_wordcount", "llm_pipeline")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties")]
    for base in ("src/main", "perfbench/src", "perfbench/project"):
        files += sorted(glob.glob(os.path.join(ROOT, base, "**", "*.*"), recursive=True))
    files.append(os.path.join(HERE, "build.sbt"))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program and benchmark; return the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    os.makedirs(WORK, exist_ok=True)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export bench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def inputs(seed):
    """Seeded inputs, generated once per seed and kept."""
    sys.path.insert(0, HERE)
    import gen
    d = os.path.join(WORK, "data", f"s{seed}")
    if not os.path.exists(os.path.join(d, "corpus.json")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d, gen.SF


def run_jvm(cp, a, data, out, started):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data, "--out", out,
              "--launched-ms"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(os.path.join(out, "jvm.log"), "w") as log:
        # set-up time counts from the JVM's launch
        cmd.append(str(int(time.time() * 1000)))
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload did not finish within {DEADLINE_S} s; see {out}/jvm.log")
    if p.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {p.returncode}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_check(data, out, queries):
    """Compare each query's Spark output with its DuckDB oracle over the
    same tables, using tools/check.py's compare. Oracle results are
    kept per input set and oracle SQL text. Returns the names that
    differ."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check import TABLES, compare
    with open(os.path.join(out, "check", "oracle_sql.json")) as f:
        oracle = json.load(f)
    cache = os.path.join(data, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    bad = []
    for q in queries:
        files = glob.glob(os.path.join(out, "check", q, "*.parquet"))
        if not files:
            bad.append(q)
            print(f"perfbench: {q}: no Spark output", file=sys.stderr)
            continue
        sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        sql_hash = hashlib.sha256(oracle[q].encode()).hexdigest()[:12]
        cached = os.path.join(cache, f"{q}-{sql_hash}.pkl")
        if os.path.exists(cached):
            ddf = pd.read_pickle(cached)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in TABLES:
                    con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{data}/tables/{t}.parquet'")
            ddf = con.execute(oracle[q]).fetchdf()
            ddf.to_pickle(cached)
        ok, msg = compare(sdf, ddf)
        if not ok:
            bad.append(q)
            print(f"perfbench: {q}: MISMATCH {msg}", file=sys.stderr)
    if con is not None:
        con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    started = time.time()
    data, sf = inputs(a.seed)
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "check"))
    res = run_jvm(cp, a, data, out, started)

    bad = oracle_check(data, out, res["queries"]) if res["queries"] else []
    failed = res["failed"] + len(bad)
    attempted = res["attempted"] + len(res["queries"])
    problems = res["problems"] + [f"{q} differs from its oracle" for q in bad]
    with open(os.path.join(data, "corpus.json")) as f:
        corpus = json.load(f)

    values = res["layers"] if a.trace else res["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"result lacks metrics {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    # context that is not gated: noise readings, tail percentile, inputs
    detail = dict(res["detail"], query_s=res["query_s"], warmup_query_s=res["warmup_query_s"],
                  artifact_build_s=res["artifact_build_s"], plain_pass_s=res["plain_pass_s"], workload=a.workload, seed=a.seed, trace=a.trace,
                  failed_frac=failed / attempted, problems=problems,
                  corpus_files=corpus["files"], corpus_bytes=corpus["bytes"], sf=sf)
    print(json.dumps({"detail": detail}))
    correct = failed == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter teardown: native thread pools (DuckDB, Arrow) can
    # abort the process while they are destroyed at exit
    os._exit(0 if correct else 1)


if __name__ == "__main__":
    main()
