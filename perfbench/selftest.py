#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. The tail-percentile helper behind `query_p90_s`.
2. The interval arithmetic and the per-layer split of one invocation.
3. The subset chooser of subset.py: one member per stratum.
4. BENCHMARK.json names exactly the metrics run.py and layers.py report,
   and the end-to-end figures are the medians of a run's samples.
5. Workload membership (membership.py; 1 to 6 min when the source has
   changed): every registered query lands in exactly one workload, 294 in
   total, and every query a workload's run times is a member of it.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import layers  # noqa: E402
import membership  # noqa: E402
import subset  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def test_tail_percentile():
    v, e = stats.tail_percentile(range(100))
    assert (v, e) == (89, {"percentile": 0.9, "beyond": 10}), (v, e)
    # too few samples for p90 with 10 beyond: the percentile drops instead
    v, e = stats.tail_percentile(range(50))
    assert (v, e["beyond"]) == (39, 10) and abs(e["percentile"] - 0.8) < 1e-12, (v, e)
    v, e = stats.tail_percentile(list(range(11))[::-1])
    assert (v, e["beyond"]) == (0, 10), (v, e)
    # a larger sample keeps p90: 1000 samples leave 100 beyond
    v, e = stats.tail_percentile(range(1000))
    assert (v, e) == (899, {"percentile": 0.9, "beyond": 100}), (v, e)
    assert stats.nearest_rank(range(1, 21), 0.9) == 18
    assert stats.nearest_rank([5], 0.9) == 5
    try:
        stats.tail_percentile(range(10))
    except ValueError:
        pass
    else:
        raise AssertionError("10 samples must not yield a tail percentile")


def test_union():
    assert layers.union_ms([]) == 0
    assert layers.union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert layers.union_ms([(0, 10), (2, 3)]) == 10
    assert layers.clip(0, 10, 5, 20) == 5 and layers.clip(0, 10, 20, 30) == 0


def test_split():
    # construct [0, 100]: a micro-batch over [10, 40], a job over [30, 60],
    # 5 ms of analysis; write [100, 150]: one job over [110, 140]
    inv = {"inv": 7, "start": 0.0, "constructed": 100.0, "end": 150.0,
           "analysis_ms": 5.0, "codegen_action_ns": 4e6}
    tr = {"jobs": [{"inv": 7, "phase": "construct", "start": 30, "end": 60},
                   {"inv": 7, "phase": "action", "start": 110, "end": 140}],
          "batches": [{"inv": 7, "start": 10, "duration_ms": {"triggerExecution": 30}}],
          "sqls": [{"inv": 7, "start": 100, "phases": {"optimization": [100, 106]}}]}
    s = layers.split(inv, tr)
    assert s == {"construct": 45.0, "streaming": 30.0, "construct_exec": 20.0,
                 "exec": 30.0, "plans_a": 5.0, "plans_o": 6.0, "plans_p": 0.0,
                 "codegen": 4.0, "unattributed": 10.0, "wall": 150.0}, s


def test_choose():
    rows = {f"q{n:02d}": {"cold_s": 0.2 * n + 1, "warm_s": 0.1 * n + 0.1,
                          "cpu_s": 0.1 * n, "traced_ms": 10.0,
                          "layers_ms": dict(dict.fromkeys(subset.LAYERS, 0.0),
                                            exec=8.0, plans=2.0)}
            for n in range(20)}
    rows["slow"] = dict(rows["q00"], warm_s=subset.MAX_WARM_S + 1)
    pick, fit = subset.choose({"queries": rows}, 4)
    assert len(pick) == 4 and "slow" not in pick, pick
    assert list(fit["untimeable_warm_s"]) == ["slow"], fit
    strata = [sorted(rows)[5 * s:5 * s + 5] for s in range(4)]
    assert all(len(set(st) & set(pick)) == 1 for st in strata), pick
    assert fit["distance"] == subset.distance(fit["subset"], fit["full"]), fit


def test_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == \
        layers.METRICS
    with open(run.WORKLOADS) as f:
        assert {w["name"] for w in bench["workloads"]} <= set(json.load(f)["runs"])


def test_end_to_end():
    # two JVMs' set-up and cold samples; four warm passes, the first slow
    raw = {"passes": [{"kind": "cold", "wall_s": 9.0, "cpu_s": 20.0}] +
           [{"kind": "warm", "wall_s": w, "cpu_s": 2 * w} for w in (5.0, 4.0, 3.0, 4.0)],
           "invocations": [{"kind": "warm", "start": 0.0, "end": 100.0 * k}
                           for k in range(1, 13)],
           "peak_storage_bytes": 0}
    v, e = run.end_to_end(raw, [6.0, 5.0], [8.0, 9.0])
    assert (v["setup_s"], v["cold_pass_s"], v["warm_pass_s"], v["cpu_s"]) == \
        (5.5, 8.5, 4.0, 8.0), v
    assert (e["warm_passes"], e["query_samples"]) == (4, 12), e


def test_membership():
    member = membership.derive()
    placed = [q for qs in member.values() for q in qs]
    assert len(placed) == len(set(placed)), "a query in two workloads"
    assert len(placed) == 294, f"{len(placed)} registered queries"
    with open(run.WORKLOADS) as f:
        runs = json.load(f)["runs"]
    for w, r in runs.items():
        outside = set(r["queries"]) - set(member[w])
        assert not outside, f"{w} runs queries outside its membership: {outside}"
    print("membership: " + ", ".join(f"{w} {len(qs)}" for w, qs in member.items()))


def main():
    test_tail_percentile()
    test_union()
    test_split()
    test_choose()
    test_benchmark_json()
    test_end_to_end()
    print("helpers, subset chooser and BENCHMARK.json: ok")
    test_membership()
    print("membership: ok")


if __name__ == "__main__":
    main()
