#!/usr/bin/env python3
"""Measures the full membership of a workload and chooses the subset its
benchmark runs time. Run from the root of a checkout:

    python3 perfbench/subset.py marts stream_sync     # measure and choose
    python3 perfbench/subset.py --choose marts        # choose again, no JVM

Measuring: the membership is derived (membership.py); one fresh JVM on
local[nproc] then runs every member of the workload on the seed-1 input
the way a traced benchmark run does (perfbench.Main run: a cold pass, a
check pass, at least four warm passes, untraced and traced in turn, and a
second check pass), and every result is checked against its DuckDB
oracle. Per query the profile records the cold-pass wall, the median
untraced warm wall, the median process CPU of those invocations, the
wall of its fastest traced warm invocation split by layer (layers.split),
and any failed check. It goes to `perfbench/profiles/<workload>.json`.

Choosing: members that take longer than MAX_WARM_S per warm invocation
cannot be timed inside a run; they are named, not chosen. The others are
sorted by warm wall and cut into k strata of equal count, and one member
is taken from each stratum, so the subset keeps the workload's spread of
query cost. Each pick starts at its stratum's median and is then swapped,
stratum by stratum, for the member that brings the subset's figures
(cold/warm and cpu/warm ratios, mean warm wall per query, layer shares of
warm wall; see figures()) closest to those of all timeable members, until
no swap helps. The subset and both sets of figures go to the workload's
entry under `runs` in workloads.json.
"""
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import layers  # noqa: E402
import membership  # noqa: E402
import run  # noqa: E402

PROFILES = os.path.join(HERE, "profiles")
# strata (= queries a benchmark run times) per workload: as many as keep a
# run near a minute on 4 cores, so that the 4 + 22 runs per workload fit
# the benchmark's hour. Odd, so that the median of the warm samples falls
# in the middle query's samples, not in the gap between two queries
STRATA = {"marts": 9, "stream_sync": 3}
# a member slower than this per warm invocation cannot be timed the six or
# more times a run needs inside a run's time limit; it is left out of the
# population and named in the selection record
MAX_WARM_S = 10.0
LAYERS = ("construct", "streaming", "exec", "plans", "codegen", "unattributed")
# how far a subset figure may sit from the full workload's: a share of it
# for the ratios and the mean, an absolute difference for layer shares
RATIO_TOL = 0.25
SHARE_TOL = 0.05


def measure(workload, members):
    classpath = run.build()
    data, _ = run.seeded_fixture(1)
    tmp = os.path.join(run.WORK, "profile", workload)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    work, out = os.path.join(tmp, "work"), os.path.join(tmp, "raw.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.nproc()))
    run.log(f"profiling {len(members)} {workload} queries")
    run.run_proc(run.java_cmd(classpath, "perfbench.Main", "run", data, work, run.nproc(),
                              out, 0, 1, ",".join(members)), timeout=3600, env=env)
    with open(out) as f:
        raw = json.load(f)
    report = run.check_outputs(data, work, members, raw["oracle_sql"])
    shutil.rmtree(work, ignore_errors=True)
    return summarize(workload, raw, report)


def summarize(workload, raw, report):
    """Per-query figures of a profiling run. A query's layer split is that
    of its fastest traced invocation, the one a host stall touched least."""
    rows = {q: {"cold_s": 0.0, "warm": [], "cpu": [], "traced": [], "errors": [],
                "check": r["oracle"] + r["repeat"]} for q, r in report.items()}
    for i in raw["invocations"]:
        r = rows[i["query"]]
        if i["error"]:
            r["errors"].append(i["error"])
        if i["kind"] == "cold":
            r["cold_s"] = (i["end"] - i["start"]) / 1e3
        elif i["kind"] == "warm" and not i["traced"]:
            r["warm"].append((i["end"] - i["start"]) / 1e3)
            r["cpu"].append(i["cpu_s"])
        elif i["kind"] == "warm":
            r["traced"].append(layers.split(i, raw["trace"]))
    queries = {}
    for q, r in rows.items():
        s = min(r["traced"], key=lambda s: s["wall"])
        split = {"construct": s["construct"], "streaming": s["streaming"],
                 "exec": s["exec"] + s["construct_exec"],
                 "plans": s["plans_a"] + s["plans_o"] + s["plans_p"],
                 "codegen": s["codegen"], "unattributed": s["unattributed"]}
        queries[q] = {"cold_s": r["cold_s"], "warm_s": statistics.median(r["warm"]),
                      "cpu_s": statistics.median(r["cpu"]), "traced_ms": s["wall"],
                      "layers_ms": split, "errors": r["errors"], "check": r["check"]}
    return {"workload": workload, "seed": 1, "local_n": raw["cores"], "client_threads": 1,
            "jvm_version": raw["jvm_version"], "spark_version": raw["spark_version"],
            "passes": [{k: p[k] for k in ("kind", "traced", "wall_s", "cpu_s",
                                          "loadavg_start", "loadavg_end")}
                       for p in raw["passes"]],
            "queries": queries}


def figures(rows):
    """The figures a subset has to share with its workload."""
    warm = sum(r["warm_s"] for r in rows)
    traced = sum(r["traced_ms"] for r in rows)
    out = {"cold_over_warm": sum(r["cold_s"] for r in rows) / warm,
           "cpu_over_warm": sum(r["cpu_s"] for r in rows) / warm,
           "mean_warm_s": warm / len(rows)}
    for k in LAYERS:
        out[f"share.{k}"] = sum(r["layers_ms"][k] for r in rows) / traced
    return out


def distance(sub, full):
    """The worst figure's distance, in units of its tolerance."""
    return max(abs(sub[k] - full[k]) / (SHARE_TOL if k.startswith("share.")
                                        else RATIO_TOL * full[k])
               for k in full)


def choose(profile, k):
    qs = {q: r for q, r in profile["queries"].items() if r["warm_s"] <= MAX_WARM_S}
    ranked = sorted(qs, key=lambda q: (qs[q]["warm_s"], q))
    strata = [ranked[len(ranked) * s // k:len(ranked) * (s + 1) // k] for s in range(k)]
    pick = [st[(len(st) - 1) // 2] for st in strata]
    full = figures(list(qs.values()))

    def dist(p):
        return distance(figures([qs[q] for q in p]), full)
    best = dist(pick)
    improved = True
    while improved:
        improved = False
        for s, st in enumerate(strata):
            for q in st:
                trial = pick[:s] + [q] + pick[s + 1:]
                d = dist(trial)
                if d < best - 1e-12:
                    pick, best, improved = trial, d, True
    sub = figures([qs[q] for q in pick])
    untimeable = {q: r["warm_s"] for q, r in profile["queries"].items() if q not in qs}
    return sorted(pick), {"untimeable_warm_s": untimeable, "full": full, "subset": sub,
                          "distance": best, "matches": best <= 1.0}


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if not args or any(w not in STRATA for w in args):
        sys.exit(f"usage: subset.py [--choose] {' '.join(STRATA)}")
    os.makedirs(PROFILES, exist_ok=True)
    member = None if "--choose" in sys.argv else membership.derive()
    with open(run.WORKLOADS) as f:
        spec = json.load(f)
    for w in args:
        path = os.path.join(PROFILES, f"{w}.json")
        if member is not None:
            measured = measure(w, member[w])
            with open(path, "w") as f:
                json.dump(measured, f, indent=1)
                f.write("\n")
        with open(path) as f:
            profile = json.load(f)
        bad = {q: r["errors"] + r["check"] for q, r in profile["queries"].items()
               if r["errors"] or r["check"]}
        for q, why in bad.items():
            print(f"DEFECT {w} {q}: {'; '.join(why)[:300]}")
        pick, fit = choose(profile, STRATA[w])
        spec["runs"][w].update({
            "queries": pick,
            "selection": {"profile": os.path.relpath(path, HERE), "strata": STRATA[w],
                          "members": len(profile["queries"]), **fit}})
        print(f"{w}: {len(pick)} of {len(profile['queries'])}, distance {fit['distance']:.2f}"
              f" ({'within' if fit['matches'] else 'OUTSIDE'} tolerance): {', '.join(pick)}")
        for key in fit["full"]:
            print(f"  {key:22s} full {fit['full'][key]:9.4f}  subset {fit['subset'][key]:9.4f}")
    with open(run.WORKLOADS, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
