"""Workload membership of the registered queries.

The rule: a `stream_*` query belongs to stream_sync; a query whose plans'
leaves read `documents` or `embeddings` belongs to curation_x10; every
other query belongs to marts. "Plans" are the plan the query returns and
every plan it executes while it is built (perfbench.Main membership), so
queries with eager training loops count with the corpus they loop over.
"""
import json
import os
import tempfile

import run

WORKLOADS = ("marts", "curation_x10", "stream_sync")
CURATION_TABLES = {"documents", "embeddings"}


def workload_of(name, tables):
    if name.startswith("stream_"):
        return "stream_sync"
    if CURATION_TABLES & set(tables):
        return "curation_x10"
    return "marts"


def derive():
    """{workload: [query, ...]} for every registered query, from one
    construction of each on the seed-1 input (1 to 6 min on 4 cores).
    The result is kept under `.bench_build/` for the current source state."""
    classpath = run.build()
    cache = os.path.join(run.WORK, "membership.json")
    stamp = run.source_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            kept = json.load(f)
        if kept.get("stamp") == stamp:
            return kept["membership"]
    data, _ = run.seeded_fixture(1)
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        out = os.path.join(tmp, "membership.json")
        run.run_proc(run.java_cmd(classpath, "perfbench.Main", "membership", data,
                                  os.path.join(tmp, "work"), run.nproc(), out),
                     timeout=1800)
        with open(out) as f:
            found = json.load(f)["membership"]
    errors = {q: r["error"] for q, r in found.items() if "error" in r}
    if errors:
        raise run.BenchError(f"queries that could not be classified: {errors}")
    member = {w: [] for w in WORKLOADS}
    for q in sorted(found):
        member[workload_of(q, found[q]["tables"])].append(q)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "membership": member}, f)
    return member
