"""Per-layer metrics of a traced run.

The Scala side records spans around its calls into the library (`op`, `build`,
`exec` for a catalog query; `batch` and `gold` for an ingest micro-batch), and
a SparkListener records every job, stage and task while a traced pass runs.
Here each job is nested under the innermost span open when it started, and
attributed to a module by the source file its call site names. Totals are per
traced pass. The execution layer's totals (jobs, stages, tasks, task time,
scan, shuffle, GC) count only the jobs under the execution spans; the jobs the
builders start eagerly (barriers) count in `build.*`, and each module's
`job_s` counts every job of the operation.
"""
import os
import re
import statistics

import modules
import stats

KERNELS = ("minhash_sig", "sorted_jaccard", "simhash64", "cosine_similarity",
           "bpe_encode_word", "jaro_winkler")
# modules whose jobs a traced pass can hold: the eager barriers (`plans`),
# table scans' listing jobs, the micro-batch's jobs, the benchmark's own sink
# and Spark's background jobs. The others start no job inside a timed
# operation (a kernel runs inside the sink's job, a Gold read is planned by
# `gold` but run by the benchmark's sink).
JOB_MODULES = ("plans", "tables", "streaming", "silver", "sources",
               modules.BENCHMARK, modules.SPARK)
OP_SPANS = ("op", "batch", "gold")
# spans of the execution layer; the builders' eager jobs run under `build`
EXEC_SPANS = ("exec", "batch", "gold")

UNITS = {
    "build_s": "s", "build.jobs": "count", "build.driver_s": "s",
    "plan_s": "s",
    "exec_s": "s", "exec.driver_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "task_busy_s": "s", "core_util": "ratio", "task_skew": "ratio",
    "gc_s": "s",
    "scan.bytes_read": "bytes", "scan.records_read": "count",
    "scan.rows_per_row_out": "ratio",
    "shuffle.bytes_written": "bytes", "shuffle.bytes_read": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "cache.bytes_peak": "bytes",
    "batch.driver_s": "s",
    "sources.bytes_written": "bytes", "write_amp": "ratio", "versions_on_disk": "count",
    "gold.scan.bytes_read": "bytes", "gold_s": "s", "rows_per_s": "1/s", "space_amp": "ratio",
    "trace.pass_ratio": "ratio", "trace.pass_base_s": "s",
    "trace.op_ratio": "ratio", "trace.op_base_s": "s",
}
UNITS.update({f"kernel.{k}.rows_per_s": "1/s" for k in KERNELS})
UNITS.update({f"{m}.job_s": "s" for m in JOB_MODULES})


def module_index(root, here):
    bench = [os.path.basename(f) for f in modules.library_files(os.path.join(here, "src"))]
    return modules.file_index(os.path.join(root, "src", "main", "scala", "graft"), bench)


def job_module(call_site, output, index):
    """The module a job's work belongs to. Spark reports the stream's start
    site as the call site of every job a micro-batch runs, so a job whose SQL
    execution writes the Silver table's next version (the merge and its
    copy-on-write commit) counts for `sources`, and one writing a quarantine
    partition (the data-quality split) for `silver`."""
    if re.search(r"/silver/v\d+$", output):
        return "sources"
    if "/quarantine/batch=" in output:
        return "silver"
    return modules.module_of(call_site, index)


def union_us(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def nest_jobs(spans, jobs):
    """span id -> jobs that started inside it (innermost span wins)."""
    by_span = {}
    ordered = sorted(spans, key=lambda s: s["start"])
    for j in jobs:
        t = j["start"]
        inner = None
        for s in ordered:
            if s["start"] > t:
                break
            if t <= s["end"] and (inner is None or s["start"] >= inner["start"]):
                inner = s
        if inner is not None:
            by_span.setdefault(inner["id"], []).append(j)
    return by_span


def per_layer(res, timed, index, cores):
    spans = [dict(id=i, parent=p, op=o, name=n, start=s, end=e)
             for i, p, o, n, s, e in res.get("spans", [])]
    jobs = [dict(id=i, start=s * 1000, end=e * 1000, module=job_module(cs, out, index),
                 stages=st)
            for i, s, e, cs, out, st in res.get("jobs", [])]
    stages = {s["id"]: s for s in res.get("stages", [])}
    by_span = nest_jobs(spans, jobs)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def jobs_under(s):
        out = list(by_span.get(s["id"], []))
        for c in children.get(s["id"], []):
            out += jobs_under(c)
        return out

    def covered(s):  # span time not covered by any job nested in it
        js = [(max(j["start"], s["start"]), min(j["end"], s["end"])) for j in jobs_under(s)]
        return (s["end"] - s["start"] - union_us([iv for iv in js if iv[1] > iv[0]])) / 1e6

    traced_passes = max(1, sum(1 for p in res["passes"] if p["traced"]))
    per = lambda x: x / traced_passes
    named = lambda *names: [s for s in spans if s["name"] in names]
    op_jobs = [j for s in named(*OP_SPANS) for j in jobs_under(s)]
    exec_jobs = [j for s in named(*EXEC_SPANS) for j in jobs_under(s)]
    stages_of = lambda js: [stages[i] for j in js for i in j["stages"] if i in stages]
    exec_stages = stages_of(exec_jobs)
    ssum = lambda key, st=exec_stages: sum(s[key] for s in st)
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss) / 1e6

    m = {}
    m["build_s"] = per(dur(named("build")))
    m["build.jobs"] = per(sum(len(jobs_under(s)) for s in named("build")))
    m["build.driver_s"] = per(sum(covered(s) for s in named("build")))
    op_windows = [(s["start"], s["end"]) for s in named(*OP_SPANS)]
    m["plan_s"] = per(sum(e - s for _, s, e in res.get("phases", [])
                          if any(a <= s * 1000 <= b for a, b in op_windows)) / 1e3)
    m["exec_s"] = per(dur(named(*EXEC_SPANS)))
    m["exec.driver_s"] = per(sum(covered(s) for s in named("exec")))
    m["jobs"] = per(len(exec_jobs))
    m["stages"] = per(len(exec_stages))
    m["tasks"] = per(ssum("tasks"))
    m["task_busy_s"] = per(sum(sum(s["durations_ms"]) for s in exec_stages) / 1e3)
    m["core_util"] = m["task_busy_s"] / (m["exec_s"] * cores) if m["exec_s"] else 0.0
    skews = [(max(s["durations_ms"]), max(s["durations_ms"]) /
              max(1, statistics.median(s["durations_ms"])))
             for s in exec_stages if len(s["durations_ms"]) >= 2]
    m["task_skew"] = max(skews)[1] if skews else 1.0
    m["gc_s"] = per(ssum("gc_ms") / 1e3)
    m["scan.bytes_read"] = per(ssum("bytes_read"))
    m["scan.records_read"] = per(ssum("records_read"))
    rows_out = sum(o["rows"] for o in timed if o["traced"])
    m["scan.rows_per_row_out"] = ssum("records_read") / rows_out if rows_out else 0.0
    m["shuffle.bytes_written"] = per(ssum("shuffle_written"))
    m["shuffle.bytes_read"] = per(ssum("shuffle_read"))
    m["shuffle.fetch_wait_s"] = per(ssum("fetch_wait_ms") / 1e3)
    m["spill.bytes"] = per(ssum("spilled"))
    for k in KERNELS:
        m[f"kernel.{k}.rows_per_s"] = res.get("kernels", {}).get(k, 0.0)
    m["cache.bytes_peak"] = res.get("block_bytes_peak", 0)
    m["batch.driver_s"] = per(sum(covered(s) for s in named("batch")))

    for mod in JOB_MODULES:
        mj = [j for j in op_jobs if j["module"] == mod]
        m[f"{mod}.job_s"] = per(sum(j["end"] - j["start"] for j in mj) / 1e6)
    src_stages = stages_of(j for j in op_jobs if j["module"] == "sources")
    m["sources.bytes_written"] = per(ssum("bytes_written", src_stages))
    gold_stages = stages_of(j for s in named("gold") for j in jobs_under(s))
    m["gold.scan.bytes_read"] = per(ssum("bytes_read", gold_stages))

    ingest = [o for o in timed if "gold_s" in o and not o["traced"]]
    cycles = [v for k, v in res.items() if k.startswith("cycle")]
    m["gold_s"] = statistics.median(o["gold_s"] for o in ingest) if ingest else 0.0
    m["rows_per_s"] = (sum(o["rows"] for o in ingest) / sum(o["s"] for o in ingest)
                       if ingest else 0.0)
    m["write_amp"] = (sum(o["written_bytes"] for o in ingest) /
                      sum(o["bronze_bytes"] for o in ingest) if ingest else 0.0)
    m["space_amp"] = (statistics.median(c["output_bytes"] / c["bronze_bytes"] for c in cycles)
                      if cycles else 0.0)
    m["versions_on_disk"] = max((c["versions"] for c in cycles), default=0)

    def ratio(xs, stat):
        base = [x for x in xs if not x["traced"]]
        traced = [x for x in xs if x["traced"]]
        if not base or not traced:
            return 0.0, 0.0
        return stat(traced) / stat(base), stat(base)

    timed_passes = [p for p in res["passes"] if p["pass"] >= 1]
    m["trace.pass_ratio"], m["trace.pass_base_s"] = ratio(
        timed_passes, lambda ps: statistics.median(p["s"] for p in ps))
    m["trace.op_ratio"], m["trace.op_base_s"] = ratio(timed, stats.op_geomean)
    return m
