#!/usr/bin/env python3
"""The repo's benchmark: one command that builds the library from source,
generates a workload's inputs from a seed, runs the workload on a local Spark
session, checks every result, and prints every metric by name and unit.

    python3 perfbench/run.py --workload dedup_search --seed 1 --seconds 10 --trace 0

Workloads: dedup_search and medallion_ingest (see BENCHMARK.json), and
relational, which runs the same way but is not in BENCHMARK.json: a run
takes about a minute, a third of it the cold set-up, and the repeated runs
of three workloads do not fit the benchmark's time budget.
With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics of a traced run. The exit code is
non-zero when a result is wrong or the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("relational", "dedup_search", "medallion_ingest")
# scale factor of the generated catalog tables (sf 0.01 = 60k lineitem rows)
SCALE = 0.01
HEAP = "3g"
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, cwd, log_path, timeout, env=None):
    """Run a command in its own process group, logging its output; on timeout
    kill the whole group (a launcher script's JVM included) and wait for it."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def cores():
    return len(os.sched_getaffinity(0))


def source_stamp():
    """Hash of every input of the build; a change triggers a rebuild."""
    h = hashlib.sha256()
    files = []
    for pattern in ("build.sbt", "project/build.properties", "src/main/**/*.scala",
                    "src/main/**/*.java", "perfbench/build.sbt",
                    "perfbench/project/build.properties", "perfbench/src/main/**/*.scala"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark with sbt; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no library sources next to the benchmark (build.sbt, src/main/scala)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], HERE,
                   os.path.join(BUILD, "build.log"), 850, env)
    if rc != 0 or not os.path.isfile(cp_file):
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def run_jvm(classpath, workload, data, work, seconds, seed, trace):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.BenchMain", workload, data, work, str(seconds),
            str(seed), "1" if trace else "0", str(cores()), out]
    rc = run_child(cmd, work, os.path.join(work, "jvm.log"), 150)
    if rc is None:
        fail("workload timed out")
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload exited with code {rc}")
    with open(out) as f:
        return json.load(f)


def oracle_check(res, data):
    """Compare each checked catalog result with DuckDB running the query's
    oracle SQL over the same files. Returns {query: error or None}."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from selfcheck import TABLES, canon, eq
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    errors = {}
    for name, sql in sorted(res["oracle_sql"].items()):
        err = None
        try:
            if not sql:
                raise ValueError("no oracle SQL")
            mine_s, mine = canon(pq.read_table(os.path.join(res["check_dir"], name)))
            theirs_s, theirs = canon(con.sql(sql).arrow())
            if mine_s != theirs_s:
                err = f"schema {mine_s} != oracle {theirs_s}"
            elif len(mine) != len(theirs):
                err = f"{len(mine)} rows != oracle {len(theirs)}"
            else:
                bad = sum(1 for a, b in zip(mine, theirs)
                          if not all(eq(x, y) for x, y in zip(a, b)))
                if bad:
                    err = f"{bad} rows differ from the oracle"
        except Exception as e:  # a failed check is a failure, not a crash
            err = f"{type(e).__name__}: {e}"
        errors[name] = err
    return errors


def e2e_metrics(res, timed):
    """End-to-end metrics of an untraced run."""
    return {
        "setup_s": (res["setup_s"], "s"),
        "op_s": (stats.op_geomean(timed), "s"),
        "pass_s": (stats.pass_best(timed), "s"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
    }


def report(res, timed, failures, attempted):
    """Human-readable lines: every timing with its median, tail percentile and
    sample count, the workload-specific metrics, and the host noise probe."""
    lines = []

    def timing(name, xs):
        s = stats.summary(xs)
        tail = f", p{s['tail_pct']} {s['tail']:.4f}" if s["tail"] is not None else ""
        lines.append(f"{name}: p50 {s['p50']:.4f} s{tail} (n={s['n']})")

    for name, xs in sorted(stats.by_op(timed).items()):
        timing(f"op_s[{name}]", xs)
    timing("op_s", [o["s"] for o in timed])
    timing("passes", [p["s"] for p in res["passes"] if p["pass"] >= 1 and not p["traced"]])
    if any("gold_s" in o for o in timed):
        timing("gold_s", [o["gold_s"] for o in timed])
        rows = sum(o["rows"] for o in timed)
        lines.append(f"rows_per_s: {rows / sum(o['s'] for o in timed):.1f} 1/s "
                     f"({len(timed)} batches of {timed[0]['rows']} bronze rows)")
        cyc = [v for k, v in res.items() if k.startswith("cycle")]
        amp = [c["output_bytes"] / c["bronze_bytes"] for c in cyc]
        lines.append(f"space_amp: {statistics.median(amp):.3f} (bytes on disk per bronze byte, "
                     f"{cyc[0]['versions']} versions on disk)")
    lines.append(f"fail_ratio: {failures}/{attempted}")
    lines.append(f"calibrate: before {res.get('calib_pre', 0):.4f} s, "
                 f"after {res.get('calib_post', 0):.4f} s (host noise; no metric is rescaled)")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classpath = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    if a.workload != "medallion_ingest" or a.trace:  # the kernel probe reads them
        gen.generate(data, a.seed, SCALE)
    res = run_jvm(classpath, a.workload, data, work, a.seconds, a.seed, a.trace == 1)

    failures = list(res["failures"])
    checked = {}
    if "oracle_sql" in res:
        for name, err in oracle_check(res, data).items():
            if err:
                failures.append(f"{name}: oracle check: {err}")
            else:
                checked[name] = next(o["rows"] for o in res["ops"]
                                     if o["pass"] == 0 and o["name"] == name)
    # a timed execution counts only when it succeeded and returned the
    # checked row count; anything else is a failure and never a time
    timed = []
    for o in res["ops"]:
        if o["pass"] == 0 or not o["ok"]:
            continue
        if checked and o["rows"] != checked.get(o["name"]):
            failures.append(f"{o['name']} (pass {o['pass']}): {o['rows']} rows, "
                            f"checked {checked.get(o['name'])}")
        elif o["pass"] >= 1:
            timed.append(o)
    attempted = len(res["ops"])
    untraced = [o for o in timed if not o["traced"]]

    for line in report(res, untraced or timed, len(failures), attempted):
        print(line)
    for f in failures:
        print(f"FAILED {f}")
    if a.trace == 1:
        metrics = layers.per_layer(res, timed, layers.module_index(ROOT, HERE), cores())
        units = layers.UNITS
    else:
        res = dict(res, passes=[p for p in res["passes"] if not p["traced"]])
        metrics, units = {}, {}
        for k, (v, u) in e2e_metrics(res, untraced).items():
            metrics[k], units[k] = v, u
    out = {"correct": not failures, "attempted": attempted, "failed": len(failures),
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(out))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
