#!/usr/bin/env python3
"""Benchmark entry point: build the engine from source, run one workload,
check its outputs, print one JSON result line.

    python3 perfbench/run.py --workload suite|serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine and
the harness (`perfbench/build.sbt`, sbt offline) and caches the class
path under `.bench_build/`; later runs reuse it while the sources are
unchanged. Every input is generated from `--seed` under `.bench_work/`.

The last stdout line is `{"correct", "attempted", "failed", "metrics"}`:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. The line before it carries the detail: every metric with
its sample count, the workload-specific names, the load stamp and the
check notes. See perfbench/README.md for what each metric measures.
"""
import argparse
import fcntl
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
# wall-clock limit of one run after the build; the JVM is killed past it
RUN_LIMIT_S = 170
# suite tables at this multiple of the sf0.01 row counts
SUITE_SCALE = 0.25
WORKLOADS = ("suite", "serve", "ingest")

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


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The first Spark distribution on PATH: a `spark-submit` beside a `jars` dir."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            home = os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))
            home = os.path.dirname(home)
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    fail("SPARK_HOME is not set and no Spark distribution is on PATH; the build needs its jars")


def build():
    """Compile once per source state; return the runtime class path."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = fingerprint()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    cps = [l.strip() for l in p.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def generate_suite_data(seed):
    """Seeded suite tables, generated three times; the median time is set-up."""
    sys.path.insert(0, HERE)
    import datagen
    times = []
    for rep in range(3):
        out = os.path.join(WORK, "gen", f"rep{rep}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        datagen.generate(out, seed, SUITE_SCALE)
        times.append(time.perf_counter() - t0)
    return os.path.join(WORK, "gen", "rep0"), statistics.median(times)


def run_jvm(cp, workload, seed, seconds, trace, run_dir, data_dir, budget_s):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graft.perfbench.Main", workload, str(seed), str(seconds),
            str(trace), run_dir]
    if data_dir:
        cmd.append(data_dir)
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{workload} run exceeded {budget_s:.0f} s")
    if rc != 0:
        fail(f"{workload} run exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def canon(df):
    import math
    cols = sorted(df.columns)
    rows = []
    for _, r in df[cols].iterrows():
        row = []
        for v in r:
            if isinstance(v, float):
                row.append("NaN" if math.isnan(v) else repr(v))
            else:
                row.append(str(v))
        rows.append("\x01".join(row))
    rows.sort()
    return cols, rows


def check_suite(run_dir, data_dir):
    """DuckDB oracle check of every answered query; returns (wrong executions, notes)."""
    import duckdb
    with open(os.path.join(run_dir, "suite_checks.json")) as fh:
        checks = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(data_dir, f)}')")
    wrong, notes = 0, []
    for name, c in sorted(checks.items()):
        if not c["answered"]:
            continue  # the failure is already counted by the harness
        got_sql = f"SELECT * FROM read_parquet('{os.path.join(run_dir, 'answers', name)}/*.parquet')"
        try:
            if c["oracle"] is None:
                ok = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0] > 0
                why = "no rows"
            else:
                gc, gr = canon(con.execute(got_sql).fetchdf())
                wc, wr = canon(con.execute(c["oracle"]).fetchdf())
                ok = gc == wc and gr == wr
                why = f"{len(gr)} rows vs oracle {len(wr)}" if gc == wc else f"columns {gc} vs {wc}"
        except Exception as e:  # an unreadable answer is a wrong answer
            ok, why = False, str(e)[:200]
        if not ok:
            wrong += c["executions"]
            notes.append(f"{name}: wrong answer ({why})")
    return wrong, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not on PATH")
    # one run at a time per checkout: runs share .bench_build and .bench_work
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    cp = build()
    t_start = time.monotonic()  # the per-run limit excludes a first build

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    os.makedirs(run_dir)
    data_dir, gen_s = (None, 0.0)
    if a.workload == "suite":
        data_dir, gen_s = generate_suite_data(a.seed)
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, run_dir, data_dir,
                  max(30.0, RUN_LIMIT_S - (time.monotonic() - t_start)))

    failed = res["failed"]
    notes = list(res["notes"])
    if a.workload == "suite":
        wrong, wrong_notes = check_suite(run_dir, data_dir)
        failed += wrong
        notes += wrong_notes
        res["end_to_end"]["setup_s"]["value"] += gen_s
        res["setup_parts"]["datagen_s"] = gen_s
    attempted = max(1, res["attempted"])
    failed = min(failed, attempted)
    res["detail"]["fail_frac"] = {"value": failed / attempted, "unit": "frac", "n": attempted}

    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "end_to_end": res["end_to_end"], "detail": res["detail"],
        "setup_parts": res["setup_parts"], "load": res["load"], "notes": notes,
    }
    if a.trace:
        detail["per_layer"] = res["per_layer"]
        detail["spans"] = res["spans"]
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
