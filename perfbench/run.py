#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one process tree.

    python3 perfbench/run.py --workload marts --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) under `.bench_build/`; later runs reuse
the build while the sources are unchanged. Each run then

1. generates its input from the seed: the seeded sf0.1 fixture of
   `scripts/gen_fixture.py`, and for `curation_x10` a `graft.ScaleGen` x10
   replica of its document and embedding tables (cached per seed and
   scale; generation time is reported apart from set-up);
2. when the replica is missing, builds it in a probe JVM that first
   measures set-up (JVM launch until the first query can run);
3. launches a fresh probe JVM on local[N], N = nproc, that measures
   set-up and then one cold pass over the queries `workloads.json` lists
   for the workload (a stratified subset of its members, chosen by
   `subset.py` from a measured pass over all of them);
4. launches the engine in a fresh measuring JVM on local[N] and drives the
   same queries from one client thread in a closed loop: a cold pass, an
   untimed pass that writes every result, warm passes for `--seconds` (at
   least four), and a second untimed pass (perfbench.Main); set-up is
   timed here too, and `setup_s` and `cold_pass_s` are the medians of
   the samples of all the run's JVMs;
5. checks every result against its DuckDB oracle (`SparkEntry.oracleSql`)
   with the canonicalization of `scripts/check.py`, and checks that the
   two untimed passes return the same rows;
6. prints the metrics by name with their units and, as the last line, one
   JSON object. With `--trace 0` the metrics are the end-to-end ones; with
   `--trace 1` the Tracer listeners are attached and the metrics are the
   per-layer split of the warm passes.

Exit status is 0 when every result checks out, 1 when a check fails, and
2 when the run cannot start (no engine checkout, unknown workload). A full
record of the run (host evidence, per-query figures, the check report, and
with tracing the spans) is written under `.bench_build/perfbench/`.
"""
import argparse
import ast
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = os.path.join(HERE, "workloads.json")
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add (the same list as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, cwd=ROOT, env=None, capture=False):
    """Runs one child to completion (killed and reaped on timeout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
                            stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise BenchError(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    except BaseException:
        proc.kill()
        proc.communicate()
        raise
    if proc.returncode != 0:
        tail = "\n".join((err or "").splitlines()[-15:])
        raise BenchError(f"exit {proc.returncode}: {' '.join(cmd[:3])} ...\n{tail}")
    return out


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    files += glob.glob(os.path.join(HERE, "project", "build.properties"))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness (sbt, offline) once per source state and
    returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("scripts", "gen_fixture.py"),
                 os.path.join("scripts", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"not a checkout of the engine: {need} is missing "
                             f"under {ROOT}")
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    out = run_proc([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"],
                   timeout=840, cwd=HERE, env=env, capture=True)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise BenchError("sbt printed no classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built engine and harness in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def java_cmd(classpath, main, *args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = shutil.which("java")
    if not java:
        raise BenchError("java is not on PATH")
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, main] + [str(a) for a in args]


# ---- inputs ----------------------------------------------------------------

def base_fixture():
    """The sf0.1 tables the seeded fixture is re-drawn from: the sf0.1 row
    of TESTDATA.md, unless PERFBENCH_BASE names another directory."""
    if os.environ.get("PERFBENCH_BASE"):
        return os.environ["PERFBENCH_BASE"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", f.read())
    if not m:
        raise BenchError("TESTDATA.md names no sf0.1 directory")
    return m.group(1).rstrip("/")


def evict_inputs(keep=6):
    """Keeps the most recently used input directories."""
    dirs = sorted((d for d in glob.glob(os.path.join(WORK, "inputs", "*"))
                   if not d.endswith(".tmp")), key=os.path.getmtime, reverse=True)
    for old in dirs[keep:]:
        shutil.rmtree(old, ignore_errors=True)


def input_dir(key):
    """(cached directory for key, whether it still has to be made); a hit
    is marked used, a miss gets a clean `.tmp` sibling to build into."""
    dest = os.path.join(WORK, "inputs", key)
    if os.path.isdir(dest):
        os.utime(dest)
        return dest, False
    shutil.rmtree(dest + ".tmp", ignore_errors=True)
    os.makedirs(dest + ".tmp")
    return dest, True


def seeded_fixture(seed):
    """The seeded sf0.1 fixture; returns (dir, generation seconds)."""
    dest, missing = input_dir(f"seed{seed}-x1")
    if not missing:
        return dest, 0.0
    t0 = time.time()
    run_proc([sys.executable, os.path.join(ROOT, "scripts", "gen_fixture.py"),
              base_fixture(), dest + ".tmp", str(seed)], timeout=120)
    os.rename(dest + ".tmp", dest)
    return dest, time.time() - t0


def finish_replica(x1, dest, scaled):
    """The tables ScaleGen did not replicate are the seeded sf0.1 ones."""
    for f in os.listdir(x1):
        if f[:-len(".parquet")] not in scaled:
            shutil.copy(os.path.join(x1, f), os.path.join(dest + ".tmp", f))
    os.rename(dest + ".tmp", dest)


# ---- output check ----------------------------------------------------------

def load_canon():
    """`canon` from scripts/check.py, the oracle compare's canonical form."""
    import numpy as np
    import pandas as pd
    path = os.path.join(ROOT, "scripts", "check.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon")
    ns = {"pd": pd, "np": np}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), path, "exec"), ns)
    return ns["canon"]


def parquet_glob(path):
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def compare(sdf, odf):
    """The column, row-count, non-empty and exact-value rules of
    scripts/check.py; returns a list of problems."""
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        return [f"rows spark={len(sdf)} oracle={len(odf)}"]
    if len(sdf) == 0:
        return ["0 rows (a 0=0 compare certifies nothing)"]
    bad = []
    for c in sdf.columns:
        sv, ov = sdf[c], odf[c]
        if sv.dtype != ov.dtype:
            bad.append(f"dtype[{c}]: spark={sv.dtype} oracle={ov.dtype}")
            continue
        if sv.dtype == object:
            eq = (sv.isna() & ov.isna()) | (sv.fillna("\x00null") == ov.fillna("\x00null"))
        else:
            eq = (sv.isna() & ov.isna()) | (sv == ov)
        n = int((~eq.fillna(False)).sum())
        if n:
            bad.append(f"value[{c}]: {n} diffs")
    return bad


def fingerprint(df):
    """Order-insensitive: the wrapping sum of per-row hashes, with the
    column names and types."""
    import pandas as pd
    df = df[sorted(df.columns)]
    try:
        h = pd.util.hash_pandas_object(df, index=False)
    except TypeError:  # list-valued columns
        h = pd.util.hash_pandas_object(df.astype(str), index=False)
    return f"{[(c, str(df[c].dtype)) for c in df.columns]}:{len(df)}:{int(h.sum())}"


def check_outputs(data, out_dir, queries, oracle_sql):
    """Per query: the first untimed pass against the DuckDB oracle, and the
    fingerprints of the first and the last untimed pass against each other."""
    import duckdb
    canon = load_canon()
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{parquet_glob(p)}')")
    report = {}
    for q in queries:
        problems = {"oracle": [], "repeat": []}
        try:
            a = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/check_a/{q}/*.parquet')").df()
            b = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/check_b/{q}/*.parquet')").df()
            if not oracle_sql.get(q):
                problems["oracle"].append("no oracle SQL registered")
            else:
                problems["oracle"] += compare(canon(a), canon(con.execute(oracle_sql[q]).df()))
            if fingerprint(a) != fingerprint(b):
                problems["repeat"].append("first and last untimed pass differ")
        except Exception as e:  # a missing result is a failed check
            problems["oracle"].append(f"{type(e).__name__}: {str(e)[:300]}")
        report[q] = problems
    con.close()
    return report


# ---- metrics ---------------------------------------------------------------

END_TO_END_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
                    "cpu_s": "s"}
# printed and kept in the artifact, not in the result line. With a run's
# few distinct queries, query_p50_s is the latency of the middle one or
# two, whose cost moves with the seed's data (up to 2x on marts), and a
# run's few warm samples leave query_p90_s far below the 90th percentile
# (or below the median, where it is not reported); none of the queries
# the runs time caches anything, so peak_storage_mb reads 0, which carries
# no relative bound (operators.cachescope.* show caching in a traced run)
INFO_UNITS = {"query_p50_s": "s", "query_p90_s": "s", "peak_storage_mb": "MB"}


def end_to_end(raw, setups, colds):
    passes = raw["passes"]
    invs = raw["invocations"]
    warm = [p for p in passes if p["kind"] == "warm"]
    walls = [(i["end"] - i["start"]) / 1e3 for i in invs if i["kind"] == "warm"]
    try:
        p90, beyond = stats.tail_percentile(walls)
    except ValueError:  # fewer than 11 samples
        p90, beyond = None, {"percentile": None, "beyond": None}
    if beyond["percentile"] is not None and beyond["percentile"] < 0.5:
        p90 = None  # below the median it is no tail figure
    values = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": statistics.median(colds),
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": statistics.median(walls),
        "query_p90_s": p90,
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "peak_storage_mb": raw["peak_storage_bytes"] / 2**20,
    }
    evidence = {"warm_passes": len(warm), "query_samples": len(walls),
                "query_p90_percentile": beyond["percentile"],
                "query_p90_samples_beyond": beyond["beyond"]}
    return values, evidence


def calibrate():
    """Seconds for a fixed piece of single-threaded work: read at the start
    and the end of a run, it tells the host's own speed drift from a change
    in the program."""
    t0 = time.perf_counter()
    sum(i * i for i in range(8_000_000))
    return time.perf_counter() - t0


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        with open(WORKLOADS) as f:
            spec = json.load(f)["runs"][args.workload]
    except (OSError, KeyError) as e:
        raise BenchError(f"unknown workload {args.workload!r}: {e}")
    queries = spec["queries"]
    cores = nproc()
    classpath = build()
    t0 = time.time()
    x1, gen_s = seeded_fixture(args.seed)
    inputs = x1
    replica = None
    if spec.get("copies", 1) > 1:
        inputs, missing = input_dir(f"seed{args.seed}-x{spec['copies']}")
        if missing:
            replica = [x1, inputs + ".tmp", spec["copies"],
                       ",".join(spec["scaled_tables"])]
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    work = os.path.join(run_dir, "work")

    def jvm(mode, data, out, *extra, timeout, work=work):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        launched = time.time()
        run_proc(java_cmd(classpath, "perfbench.Main", mode, data, work, cores,
                          out, *extra), timeout=timeout, env=env)
        with open(out) as f:
            raw = json.load(f)
        return raw, raw["ready_ms"] / 1e3 - launched

    calibration = [calibrate()]
    setups = []
    if replica:  # a probe builds it with the session it has just timed
        probe, s = jvm("setup", x1, os.path.join(run_dir, "replica.json"), *replica,
                       timeout=150)
        setups.append(s)
        gen_s += probe["scalegen_s"]
        finish_replica(x1, inputs, spec["scaled_tables"])
    evict_inputs()
    # a fresh probe JVM before the measuring one adds a set-up sample and a
    # cold pass of its own: one cold pass per run spread past its bound
    probe_work = f"{work}-probe"
    probe, s = jvm("cold", inputs, os.path.join(run_dir, "probe.json"),
                   ",".join(queries), timeout=150, work=probe_work)
    shutil.rmtree(probe_work, ignore_errors=True)
    setups.append(s)
    colds = [probe["passes"][0]["wall_s"]]
    probe_invs = probe["invocations"]
    raw, s = jvm("run", inputs, os.path.join(run_dir, "raw.json"), args.seconds,
                 args.trace, ",".join(queries), timeout=150)
    setups.append(s)
    colds.append(next(p["wall_s"] for p in raw["passes"] if p["kind"] == "cold"))
    calibration.append(calibrate())
    report = check_outputs(inputs, work, queries, raw["oracle_sql"])
    shutil.rmtree(work, ignore_errors=True)
    # the JVMs halt without Spark's shutdown hooks, which would remove
    # their session directories under java.io.tmpdir
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    invs = raw["invocations"]
    failed_invs = {i["inv"] for i in invs if i.get("error")}
    for i in invs:
        r = report.get(i["query"], {})
        if (i["kind"] == "check_a" and r.get("oracle")) or \
                (i["kind"] == "check_b" and r.get("repeat")):
            failed_invs.add(i["inv"])
    probe_failed = sum(1 for i in probe_invs if i.get("error"))
    attempted = len(invs) + len(probe_invs)
    failed = len(failed_invs) + probe_failed
    values, evidence = end_to_end(raw, setups, colds)
    host = {"nproc": nproc(), "local_n": cores, "client_threads": 1,
            "jvm_version": raw["jvm_version"], "spark_version": raw["spark_version"],
            "shuffle_partitions": raw["shuffle_partitions"],
            "calibration_s": calibration,
            "loadavg": [[p["kind"], p["loadavg_start"], p["loadavg_end"]]
                        for p in raw["passes"]]}
    artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "queries": queries, "input_gen_s": gen_s,
                "setup_samples_s": setups, "cold_samples_s": colds, "host": host,
                "end_to_end": values,
                "evidence": evidence, "failed_frac": failed / attempted,
                "attempted": attempted, "failed": failed,
                "errors": {i["query"]: i["error"] for i in probe_invs + invs
                           if i.get("error")},
                "check": {q: r for q, r in report.items() if r["oracle"] or r["repeat"]},
                "passes": raw["passes"], "peak_rss_mb": raw["peak_rss_mb"],
                "wall_s": time.time() - t0}
    if args.trace:
        metrics, units = layers.per_layer(raw, cores)
        artifact["per_layer"] = metrics
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump({"invocations": invs, **raw["trace"]}, f)
    else:
        metrics = {k: values[k] for k in END_TO_END_UNITS}
        units = END_TO_END_UNITS
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    path = os.path.join(WORK, "artifacts",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)

    print(f"workload {args.workload}  seed {args.seed}  queries {len(queries)}  "
          f"local[{cores}] nproc {host['nproc']} client threads 1  "
          f"JVM {host['jvm_version']}  Spark {host['spark_version']}")
    print(f"input generation {gen_s:.2f} s (not part of setup_s); host calibration "
          f"{calibration[0]:.3f} s at the start, {calibration[1]:.3f} s at the end")
    for name, v in metrics.items():
        print(f"{name:32s} {v:14.6f} {units[name]}")
    for name, unit in INFO_UNITS.items():
        v = "not reached" if values[name] is None else f"{values[name]:.6f} {unit}"
        print(f"{name:32s} {v:>17s} (information only, not in the result line)")
    if values["query_p90_s"] is None:
        print(f"query_p90_s: {evidence['query_samples']} warm samples leave no percentile "
              f"at or above the median with 10 samples beyond it")
    else:
        print(f"query_p90_s is the p{100 * evidence['query_p90_percentile']:.1f} of "
              f"{evidence['query_samples']} samples, "
              f"{evidence['query_p90_samples_beyond']} beyond it")
    print(f"failed_frac {failed / attempted:.6f} ({failed} of {attempted} invocations)")
    for q, r in artifact["check"].items():
        print(f"CHECK FAILED {q}: {'; '.join(r['oracle'] + r['repeat'])}")
    for q, e in artifact["errors"].items():
        print(f"QUERY FAILED {q}: {e}")
    print(f"artifact {os.path.relpath(path, ROOT)}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
