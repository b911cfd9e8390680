"""Maps a Spark job's call site (`<method> at <File>.scala:<line>`) to the
library module whose source file it names.

Every file under `src/main/scala/graft/` belongs to exactly one module. A rule
is a directory prefix (ends with `/`) or a file name at the package root.
"""
import os
import re

MODULES = {
    "queries": ["queries/", "QueryCatalog.scala", "QueryDsl.scala"],
    "ext": ["ext/"],
    "functions": ["functions/"],
    "plans": ["plans/", "PlanDump.scala", "PlanSnap.scala"],
    "tables": ["Tables.scala"],
    "housekeeping": ["Housekeeping.scala"],
    "streaming": ["streaming/"],
    "silver": ["silver/"],
    "gold": ["gold/"],
    "sources": ["sources/"],
    "gen": ["gen/"],
    "tools": ["Bench.scala", "Verify.scala", "SparkEntry.scala", "ThroughputProbe.scala",
              "ScalingProbe.scala", "GraphProbe.scala", "QualityProbe.scala"],
}

# jobs whose call site is in no library file
BENCHMARK = "benchmark"
SPARK = "spark"

_CALL_SITE = re.compile(r" at ([\w$.-]+\.(?:scala|java)):\d+")


def rules_for(rel):
    """The modules whose rules match a path relative to the graft package."""
    hits = []
    for module, rules in MODULES.items():
        for r in rules:
            if (r.endswith("/") and rel.startswith(r)) or rel == r:
                hits.append(module)
    return hits


def library_files(src_root):
    """Paths of every source file of the graft package, relative to it."""
    out = []
    for d, _, files in os.walk(src_root):
        for f in files:
            if f.endswith((".scala", ".java")):
                out.append(os.path.relpath(os.path.join(d, f), src_root).replace(os.sep, "/"))
    return sorted(out)


def file_index(src_root, bench_files=()):
    """File name -> module, for resolving call sites (which name a file, not
    its directory)."""
    index = {}
    for rel in library_files(src_root):
        hits = rules_for(rel)
        if len(hits) != 1:
            raise ValueError(f"{rel} matches modules {hits}, expected exactly one")
        name = os.path.basename(rel)
        if index.get(name, hits[0]) != hits[0]:
            raise ValueError(f"file name {name} is in two modules")
        index[name] = hits[0]
    for f in bench_files:
        index.setdefault(f, BENCHMARK)
    return index


def module_of(call_site, index):
    """The module a job's call site names; `spark` when it names no known file."""
    m = _CALL_SITE.search(call_site or "")
    return index.get(m.group(1), SPARK) if m else SPARK
