#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Builds the program and the harness (perfbench/harness) with sbt when the
sources changed since the last build, runs the workload in one fresh JVM
(a fixed number of warmup and timed passes; --seconds is recorded but does
not change how much is timed),
checks every output outside the timed window (declared queries against
their DuckDB oracle SQL, searches and keyed fits inside the JVM), and
prints the metrics. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Build output, per-run
scratch files and one result artifact per run go to .bench_build/perfbench.
Exits non-zero, printing no result, when the program cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "stamp")
# Every workload reads this fixed copy of the sf0.01 test data.
SF = "sf0.01"
# Heap for the benchmark JVM, fed to the root build.sbt's own -Xmx knob.
DRIVER_MEM = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input to the build: path, size and mtime."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt")]
    for top in tops:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness; write the JVM launch line."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: no program to build ({need} missing)")
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    log("building the program and the harness with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        # own process group: the sbt launcher script starts its JVM as a child
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                             cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: build timed out after {BUILD_TIMEOUT_S}s")
    if rc != 0 or not os.path.exists(LAUNCH):
        raise SystemExit(f"perfbench: build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_jvm(workload, seed, trace, run_dir, data_dir):
    launch = open(LAUNCH).read().splitlines()
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"] + launch + [
        "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--trace", str(trace), "--data", data_dir, "--out", run_dir]
    # the program's lake fixtures live in this run's directory: no other
    # JVM sweeps them before the oracle check below has read them
    env = dict(os.environ, GRAFT_LAKE_ROOT=os.path.join(run_dir, "lake"))
    launched = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: JVM timed out after {JVM_TIMEOUT_S}s")
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        raise SystemExit(f"perfbench: JVM exited with {rc}\n{tail}")
    return launched, json.load(open(result_path))


def oracle_failures(run_dir, data_dir):
    """Compare each dumped warmup output with its DuckDB oracle."""
    sys.path.insert(0, HERE)
    import oracle  # noqa: E402  (duckdb import only when queries ran)
    sqls = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    return oracle.check(data_dir, os.path.join(run_dir, "ref"), sqls)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    data_dir = os.path.join(HERE, "data", SF)
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load_before = os.getloadavg()[0]
    launched, res = run_jvm(a.workload, a.seed, a.trace, run_dir, data_dir)
    load_after = os.getloadavg()[0]

    # failures: warmup and timed ops that threw or failed their in-JVM
    # check, plus every op of a query whose output the oracle rejects
    bad_queries = oracle_failures(run_dir, data_dir) if res["kind"] == "queries" else {}
    error = lambda o: o["error"] or bad_queries.get(o["op"])  # noqa: E731
    ok = lambda o: not error(o)  # noqa: E731
    ops = res["warmup"] + [o for p in res["passes"] for o in p["ops"]]
    errors = [(o["op"], error(o)) for o in ops if error(o)]
    attempted = len(ops)
    failed = len(errors)
    timed = [(p["traced"], o["op"], o["seconds"], o["cpu_s"], ok(o))
             for p in res["passes"] for o in p["ops"]]

    untraced = [p for p in res["passes"] if not p["traced"]]
    lat = [o["seconds"] for p in untraced for o in p["ops"] if ok(o)]
    # run_s and cpu_s are the best of the timed passes: the first of them
    # still carries JIT compilation, which a median of three would let
    # through. A pass with a failed op (whose time is left out) counts only
    # when every pass has one.
    whole = [p for p in untraced if all(ok(o) for o in p["ops"])] or untraced
    end_to_end = {
        "setup_s": res["setup_done_ms"] / 1e3 - launched,
        "run_s": min(sum(o["seconds"] for o in p["ops"] if ok(o)) for p in whole),
        "op_p50_s": median(lat),
        "cpu_s": min(sum(o["cpu_s"] for o in p["ops"] if ok(o)) for p in whole),
    }
    end_to_end = {k: (v, units[k]) for k, v in end_to_end.items()}
    per_layer = {k: (v, units[k]) for k, v in res["layers"].items()}
    if a.trace:
        per_layer["jvm.peak_rss_mb"] = (res["peak_rss_mb"], units["jvm.peak_rss_mb"])
    metrics = per_layer if a.trace else end_to_end
    declared = {m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]}
    if set(metrics) != declared:
        raise SystemExit(f"perfbench: metrics {sorted(set(metrics) ^ declared)} "
                         "differ from BENCHMARK.json")

    for name, (value, unit) in sorted(metrics.items()):
        print(f"{a.workload}  {name} = {value:.6g} {unit}")
    print(f"{a.workload}  error_rate = {failed / attempted:.6g} ratio "
          f"({failed} failed of {attempted} attempted); {len(lat)} timed op samples")
    for op, why in errors[:20]:
        print(f"{a.workload}  FAILED {op}: {why}")
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "sf": SF, "cores": res["cores"], "commit": commit,
        "source_stamp": open(STAMP).read(), "jvm_flags": res["jvm_flags"],
        "loadavg_1m_before": load_before, "loadavg_1m_after": load_after,
        "ops": [o["op"] for o in res["passes"][0]["ops"]], "passes": len(res["passes"]),
        "attempted": attempted, "failed": failed, "error_rate": failed / attempted,
        "op_samples": len(lat),
        "errors": errors, "end_to_end": end_to_end, "per_layer": per_layer,
        "plan_shapes": res["plan_shapes"], "op_latencies_s": timed,
    }
    art_path = os.path.join(BUILD, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    os.makedirs(os.path.dirname(art_path), exist_ok=True)
    with open(art_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"{a.workload}  context: cores={res['cores']} sf={SF} seed={a.seed} "
          f"commit={commit} loadavg_1m={load_before:.2f}->{load_after:.2f} artifact={art_path}")
    # the run's scratch (lake fixtures, dumps, Spark local dirs) is spent
    for d in ("lake", "ref", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
