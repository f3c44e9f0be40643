"""Per-layer split of a traced run's warm passes.

Layers are named after the engine's modules. Every figure is a mean per
traced warm pass unless its name says otherwise (`codegen.cold_*` read the
cold pass; batch percentiles and ratios pool all traced warm passes).

Attribution of a query invocation's wall time, on one timeline:
  streaming  inside the `SparkEntry.queries(name)(spark, dir)` call, the
             union of its micro-batch trigger intervals (streaming.wall_s)
  execution  the union of the jobs the invocation runs: inside the call
             outside the micro-batches (eager driver loops, staging; that
             part is exec.construct_wall_s), and during the noop write
             (exec.wall_s counts both)
  plans      analysis of the plan the call returns, and analysis,
             optimization and planning of the write, which run in the
             client thread outside the jobs
  codegen    code compiled during the write, up to the time left outside
             the jobs (codegen.between_jobs_s; codegen.compile_s counts
             compiles on every thread)
  construct  the rest of the call: building the DataFrame, starting and
             stopping streams, driver-side loop work (operators.construct_s)
and whatever is left of the write is `harness.unattributed_s`.
"""
import statistics

import stats

# name -> (unit, better)
METRICS = {
    "sources.read_mb": ("MB", "lower"),
    "sources.rows_read": ("count", "lower"),
    "operators.construct_s": ("s", "lower"),
    "operators.construct_jobs": ("count", "lower"),
    "operators.cachescope.fills": ("count", "lower"),
    "operators.cachescope.fill_mb": ("MB", "lower"),
    "operators.cachescope.hits": ("count", "higher"),
    "operators.cachescope.hit_ratio": ("ratio", "higher"),
    "plans.analysis_s": ("s", "lower"),
    "plans.optimization_s": ("s", "lower"),
    "plans.planning_s": ("s", "lower"),
    "plans.topk_nodes": ("count", "higher"),
    "codegen.compile_s": ("s", "lower"),
    "codegen.between_jobs_s": ("s", "lower"),
    "codegen.classes": ("count", "lower"),
    "codegen.cold_compile_s": ("s", "lower"),
    "codegen.cold_classes": ("count", "lower"),
    "exec.wall_s": ("s", "lower"),
    "exec.construct_wall_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.task_wait_s": ("s", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.tasks_failed": ("count", "lower"),
    "exec.core_busy_ratio": ("ratio", "higher"),
    "streaming.wall_s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.batch_p50_ms": ("ms", "lower"),
    "streaming.batch_p90_ms": ("ms", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.wal_commit_s": ("s", "lower"),
    "streaming.commit_offsets_s": ("s", "lower"),
    "streaming.query_planning_s": ("s", "lower"),
    "streaming.latest_offset_s": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_commit_s": ("s", "lower"),
    "jvm.peak_rss_mb": ("MB", "lower"),
    "harness.unattributed_s": ("s", "lower"),
    "harness.attributed_share": ("ratio", "higher"),
    "harness.traced_warm_pass_s": ("s", "lower"),
    "harness.untraced_warm_pass_s": ("s", "lower"),
    "harness.trace_overhead_s": ("s", "lower"),
}
MB = 2 ** 20


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(s, e, lo, hi):
    return max(0.0, min(e, hi) - max(s, lo))


def split(i, tr):
    """Wall time of one invocation by layer, in ms (see the module doc)."""
    t0, t1, t2 = i["start"], i["constructed"], i["end"]
    jobs = [j for j in tr["jobs"] if j["inv"] == i["inv"] and j["end"] >= 0]
    batches = [(b["start"], b["start"] + b["duration_ms"].get("triggerExecution", 0))
               for b in tr["batches"] if b["inv"] == i["inv"]]
    inside = [(max(s, t0), min(e, t1)) for s, e in batches if e > t0 and s < t1]
    streaming = union_ms(inside)
    busy = union_ms(inside + [(max(j["start"], t0), min(j["end"], t1)) for j in jobs
                              if j["phase"] == "construct" and j["end"] > t0
                              and j["start"] < t1])
    execution = union_ms([(max(j["start"], t1), min(j["end"], t2)) for j in jobs
                          if j["phase"] == "action" and j["end"] > t1])
    # the write's time outside its jobs: before, between and after
    gap = max(0.0, (t2 - t1) - execution)
    ph = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for q in tr["sqls"]:
        if q["inv"] == i["inv"] and q["start"] >= t1 - 1:
            for k in ph:
                if k in q["phases"]:
                    ph[k] += clip(*q["phases"][k], t1, t2)
    plans = min(sum(ph.values()), gap)
    # whole-stage code is compiled in the client thread before its stage's
    # job is submitted; compile time beyond the gap ran in tasks
    codegen = min(i["codegen_action_ns"] / 1e6, gap - plans)
    # analysis of the returned plan happens inside construction; it is
    # Catalyst's, so it counts under plans, not operators
    analysis = min(i["analysis_ms"], max(0.0, t1 - t0 - busy))
    return {"construct": t1 - t0 - busy - analysis, "streaming": streaming,
            "construct_exec": busy - streaming, "exec": execution,
            "plans_a": ph["analysis"] + analysis, "plans_o": ph["optimization"],
            "plans_p": ph["planning"], "codegen": codegen,
            "unattributed": gap - plans - codegen, "wall": t2 - t0}


def per_layer(raw, cores):
    """Returns ({metric: value}, {metric: unit}) for a traced run."""
    tr = raw["trace"]
    invs = {i["inv"]: i for i in raw["invocations"]}
    passes = raw["passes"]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    cold = next(p for p in passes if p["kind"] == "cold")
    by_pass = {}
    for i in raw["invocations"]:
        by_pass.setdefault(i["pass"], []).append(i)

    def jobs_of(inv_ids, phase=None):
        return [j for j in tr["jobs"] if j["inv"] in inv_ids and j["end"] >= 0
                and (phase is None or j["phase"] == phase)]

    fill_inv = {f["rdd"]: f["inv"] for f in raw["rdd_fills"]}
    fill_bytes = {f["rdd"]: f["bytes"] for f in raw["rdd_fills"]}

    def pass_layers(p):
        members = by_pass[p["pass"]]
        ids = {i["inv"] for i in members}
        m = {}
        for i in members:
            for k, v in split(i, tr).items():
                m[k] = m.get(k, 0.0) + v
        stages = [s for s in tr["stages"] if s["inv"] in ids]
        sqls = [q for q in tr["sqls"] if q["inv"] in ids]
        fills = [r for r, inv in fill_inv.items() if inv in ids]
        hits = sum(1 for q in sqls for r in q["cache_scan_rdds"]
                   if fill_inv.get(r, 1 << 62) < q["inv"])
        batches = [b for b in tr["batches"] if b["inv"] in ids]
        last_state = {}
        for b in sorted(batches, key=lambda b: (b["run_id"], b["batch"])):
            last_state[b["run_id"]] = b["state_rows"]

        def dur(key):
            return sum(b["duration_ms"].get(key, 0) for b in batches) / 1e3
        task_run = sum(s["run_ms"] for s in stages) / 1e3
        return {
            "sources.read_mb": sum(s["read_bytes"] for s in stages) / MB,
            "sources.rows_read": sum(s["read_rows"] for s in stages),
            "operators.construct_s": m["construct"] / 1e3,
            "operators.construct_jobs": len(jobs_of(ids, "construct")),
            "operators.cachescope.fills": len(fills),
            "operators.cachescope.fill_mb": sum(fill_bytes[r] for r in fills) / MB,
            "operators.cachescope.hits": hits,
            "plans.analysis_s": m["plans_a"] / 1e3,
            "plans.optimization_s": m["plans_o"] / 1e3,
            "plans.planning_s": m["plans_p"] / 1e3,
            "plans.topk_nodes": sum(q["topk_nodes"] for q in sqls),
            "codegen.compile_s": sum(i["codegen_ns"] for i in members) / 1e9,
            "codegen.classes": sum(i["codegen_classes"] for i in members),
            "codegen.between_jobs_s": m["codegen"] / 1e3,
            "exec.wall_s": (m["exec"] + m["construct_exec"]) / 1e3,
            "exec.construct_wall_s": m["construct_exec"] / 1e3,
            "exec.jobs": len(jobs_of(ids)),
            "exec.stages": len(stages),
            "exec.tasks": sum(s["tasks"] for s in stages),
            "exec.task_run_s": task_run,
            "exec.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "exec.task_wait_s": sum((s["first_launch"] - s["submitted"]) / 1e3
                                    for s in stages
                                    if s["first_launch"] >= 0 and s["submitted"] >= 0),
            "exec.shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages) / MB,
            "exec.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / MB,
            "exec.spill_mb": sum(s["spill_bytes"] for s in stages) / MB,
            "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "exec.tasks_failed": sum(s["tasks_failed"] for s in stages),
            "exec.core_busy_ratio": task_run / (cores * p["wall_s"]),
            "streaming.wall_s": m["streaming"] / 1e3,
            "streaming.batches": len(batches),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.commit_offsets_s": dur("commitOffsets"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.state_rows": sum(last_state.values()),
            "streaming.state_commit_s": sum(b["state_commit_ms"] for b in batches) / 1e3,
            "harness.unattributed_s": m["unattributed"] / 1e3,
            "_wall_s": m["wall"] / 1e3,
            "_fills": len(fills),
        }

    rows = [pass_layers(p) for p in traced]
    out = {k: statistics.mean(r[k] for r in rows) for k in rows[0] if not k.startswith("_")}
    fills, hits = sum(r["_fills"] for r in rows), sum(r["operators.cachescope.hits"] for r in rows)
    out["operators.cachescope.hit_ratio"] = hits / (hits + fills) if hits + fills else 0.0
    wall = sum(r["_wall_s"] for r in rows)
    out["harness.attributed_share"] = 1 - sum(r["harness.unattributed_s"] for r in rows) / wall
    cold_ids = {i["inv"] for i in by_pass[cold["pass"]]}
    out["codegen.cold_compile_s"] = sum(invs[i]["codegen_ns"] for i in cold_ids) / 1e9
    out["codegen.cold_classes"] = sum(invs[i]["codegen_classes"] for i in cold_ids)
    traced_ids = {i["inv"] for p in traced for i in by_pass[p["pass"]]}
    batch_ms = [b["duration_ms"].get("triggerExecution", 0) for b in tr["batches"]
                if b["inv"] in traced_ids]
    out["streaming.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
    out["streaming.batch_p90_ms"] = stats.nearest_rank(batch_ms, 0.9) if batch_ms else 0.0
    out["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    tw = statistics.median(p["wall_s"] for p in traced)
    uw = statistics.median(p["wall_s"] for p in untraced)
    out["harness.traced_warm_pass_s"] = tw
    out["harness.untraced_warm_pass_s"] = uw
    out["harness.trace_overhead_s"] = tw - uw
    ordered = {k: float(out[k]) for k in METRICS}
    return ordered, {k: METRICS[k][0] for k in METRICS}
