"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds graft and
the harness (perfbench/build.py) into $CARGO_TARGET_DIR (default
.bench_build). Each run then

  1. generates its inputs from the seed (perfbench/gen.py);
  2. starts one fresh JVM at local[<cores>] that starts a Spark session,
     runs a warm-up query, runs the workload's fixed op list in cycles
     for about S seconds, checks every output against a model of the
     expected outcome, and dumps registry outputs for the DuckDB oracle;
  3. compares those outputs with DuckDB (perfbench/oracle.py);
  4. prints the workload's figures, then one JSON result line.

setup_s is the run's one cold setup: generation, JVM boot, the first
session start and the warm-up query.

Everything a run writes lives in a private directory under the build
directory, deleted at exit. Workloads run one at a time, never in
parallel: the stores under one corpus are not safe across JVMs.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 165

# end-to-end metrics every workload reports (units match BENCHMARK.json).
# wall_s and cpu_s are the wall and process CPU time of the timed ops,
# per cycle. Per-op latencies are printed, not reported: the op tail has
# too few samples (10-30 ops a run) for any percentile above the median
# to have 10 beyond it.
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("bytes"):
        return "B"
    return "count"


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """The highest of p99/p95/p90 with at least 10 samples beyond it (p75
    when none has), with that percentile and the count beyond it."""
    p = next((p for p in (99, 95, 90) if len(xs) * (100 - p) / 100 >= 10), 75)
    v = percentile(xs, p)
    return v, p, sum(1 for x in xs if x > v)


def detail_units(name):
    if name.endswith("per_s"):
        return "files/s"
    if "stored_bytes" in name or name == "error_rate":
        return "ratio"
    return "s"


def run_jvm(classpath, args, run_root, deadline):
    """Run one JVM with its own work, temp and store directories under
    `run_root`."""
    work = run_root / "work"
    tmp = run_root / "tmp"
    for d in (work, tmp):
        d.mkdir(parents=True, exist_ok=True)
    cmd = build.java_cmd(classpath, tmp) + args + ["--work", str(work)]
    env = dict(os.environ, SPARK_GRAFT_STORE_ROOT=str(work / "stores"))
    log = run_root / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                cwd=str(run_root))
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("benchmark JVM timed out")
    if rc != 0:
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOAD_SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t_run = time.monotonic()
    root = Path.cwd()
    build_dir = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not build_dir.is_absolute():
        build_dir = root / build_dir
    classpath = build.build(build_dir)

    t_start = time.monotonic()
    deadline = t_start + JVM_TIMEOUT_S
    run_root = build_dir / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_root, ignore_errors=True)
    traces = build_dir / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    try:
        data = run_root / "data"
        t0 = time.perf_counter()
        gen.generate(a.seed, gen.WORKLOAD_SCALE[a.workload], str(data))
        gen_s = time.perf_counter() - t0
        out = run_root / "result.json"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", str(data), "--out", str(out)]
        if a.trace:
            args += ["--spans", str(traces / f"{a.workload}-seed{a.seed}.json")]
        t_jvm = time.monotonic()
        run_jvm(classpath, args, run_root, deadline)
        jvm_s = time.monotonic() - t_jvm
        res = json.loads(out.read_text())
        failures = list(res["failures"])
        if res["oracle_keys"]:
            for key, why in oracle.compare(run_root / "work" / "oracle", data,
                                           res["oracle_keys"]):
                failures.append({"op": key, "why": f"oracle: {why}"})
    finally:
        log = run_root / "jvm.log"
        if log.exists():
            shutil.copy(log, build_dir / f"last-{a.workload}.log")
        shutil.rmtree(run_root, ignore_errors=True)

    ops = res["ops"]
    timed = [o for o in ops if o["cycle"] >= 0]
    cycles = sorted({o["cycle"] for o in timed})
    lat = [o["secs"] for o in timed]
    tail_v, tail_p, tail_n = tail(lat)
    # an op execution is failed if it threw or a check found its output
    # wrong; a key the oracle rejects fails every execution of it
    bad = {(o["name"], o["cycle"]) for o in ops if not o["ok"]}
    bad_names = {f["op"] for f in failures}
    failed = sum(1 for o in ops if (o["name"], o["cycle"]) in bad or o["name"] in bad_names)
    attempted = len(ops)

    setup_s = gen_s + res["jvm_boot_s"] + res["session_setup_s"]
    e2e = {"setup_s": setup_s,
           "wall_s": sum(o["secs"] for o in timed) / len(cycles),
           "cpu_s": sum(o["cpu_s"] for o in timed) / len(cycles),
           "peak_rss_mb": res["peak_rss_mb"]}
    detail = {"op_s.p50": statistics.median(lat), f"op_s.p{tail_p}": tail_v}
    detail.update(res["detail"])
    if a.workload == "registry_queries":
        detail["query_s.p50"] = detail["op_s.p50"]
        detail["query_s.tail"] = tail_v
    detail["error_rate"] = failed / attempted

    print(f"# {a.workload} seed={a.seed} trace={a.trace} cycles={len(cycles)} "
          f"ops={attempted} failed={failed} tail=p{tail_p} ({tail_n} beyond)")
    print(f"# run {time.monotonic() - t_run:.1f} s: build check {t_start - t_run:.1f}, "
          f"generate {gen_s:.1f}, jvm {jvm_s:.1f} (boot {res['jvm_boot_s']:.1f}, "
          f"session and warm-up {res['session_setup_s']:.1f}, "
          f"timed {res['timed_wall_s']:.1f}, oracle dump {res['oracle_dump_s']:.1f}, "
          f"stop {res['stop_s']:.1f})")
    for f in failures:
        print(f"# FAILED {f['op']}: {f['why']}")
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        for k, v in detail.items():
            print(f"# {k} = {v:.6g} {detail_units(k)}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
