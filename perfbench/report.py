"""Run every workload and report: the end-to-end figures, the workload's
own figures, error rate, tracing overhead, and the steadiness of two
sets of runs under the bounds in BENCHMARK.json.

    python3 perfbench/report.py                      # one seed, untraced + traced
    python3 perfbench/report.py --seeds 10 --sets 2 --out perfbench/results/steadiness.json

Set k (0-based) uses seeds k*100+1 .. k*100+N, so the two sets are
independent samples of the same code. Runs go one after another (the
workloads must never share the machine). A traced run follows each
untraced run whose seed is in --trace-seeds; the tracing overhead is the
traced run's cycle wall time (trace.wall_s) over the untraced one's
(wall_s), same seed. --out is rewritten after every run, so the runs
made so far survive an interrupted report.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
TRACES = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build")) / "traces"


def run_one(workload, seed, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
           "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True)
    elapsed = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return {"workload": workload, "seed": seed, "trace": trace, "ok": False,
                "elapsed_s": elapsed}
    res = json.loads(lines[-1])
    detail = {}
    for ln in lines[:-1]:
        if ln.startswith("# ") and " = " in ln:
            k, v = ln[2:].split(" = ", 1)
            num, unit = v.split(" ", 1)
            detail[k] = {"value": float(num), "unit": unit}
    r = {"workload": workload, "seed": seed, "trace": trace, "ok": True,
         "elapsed_s": elapsed, "correct": res["correct"],
         "attempted": res["attempted"], "failed": res["failed"],
         "metrics": {k: v["value"] for k, v in res["metrics"].items()},
         "detail": detail, "notes": [ln for ln in lines[:-1] if ln.startswith("# FAILED")]}
    if trace:
        # per-layer self time from the run's span file
        spans = json.loads((TRACES / f"{workload}-seed{seed}.json").read_text())
        r["self_s"] = spans["self_s"]
        r["spans"] = len(spans["spans"])
    return r


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def summarize(runs, workloads):
    bounds = {m["name"]: m for m in BENCH["end_to_end"]}
    out = {}
    for w in workloads:
        sets = sorted({r["set"] for r in runs if r["workload"] == w})
        per = {}
        for name, spec in bounds.items():
            sets_ = {}
            for s in sets:
                xs = [r["metrics"][name] for r in runs
                      if r["workload"] == w and r["set"] == s and r["ok"] and not r["trace"]]
                if not xs:
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med if med else float("inf")
                sets_[f"set{s}"] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                    "n": len(xs)}
            row = {"sets": sets_, "bound": spec["bound"]}
            fails = [f"{s} spread {v['spread']:.3f} > bound {spec['bound']}"
                     for s, v in sets_.items() if v["spread"] > spec["bound"]]
            if "set0" in sets_ and "set1" in sets_:
                # the two sets must agree in either direction
                a, b = sets_["set0"]["median"], sets_["set1"]["median"]
                row["median_change"] = (b - a) / a
                if abs(b - a) / a > spec["bound"]:
                    fails.append(f"medians differ by {abs(b - a) / a:.3f} > bound {spec['bound']}")
            row["verdict"] = "; ".join(fails) or "ok"
            per[name] = row
        out[w] = per
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seeds", type=int, default=1)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace-seeds", type=int, default=1,
                    help="traced runs per workload (first seeds of set 0)")
    ap.add_argument("--out")
    a = ap.parse_args()

    runs = []
    for s in range(a.sets):
        for w in a.workloads:
            for i in range(1, a.seeds + 1):
                seed = s * 100 + i
                for trace in ((0, 1) if s == 0 and i <= a.trace_seeds else (0,)):
                    r = run_one(w, seed, trace)
                    r["set"] = s
                    runs.append(r)
                    status = "ok" if r["ok"] and r.get("correct") else "FAILED"
                    print(f"set{s} {w} seed={seed} trace={trace} {status} "
                          f"{r['elapsed_s']:.1f}s", file=sys.stderr, flush=True)
                    if a.out:  # keep every finished run, whatever happens later
                        write(a.out, {"run_seconds": BENCH["run_seconds"], "runs": runs})
    summary, overhead = report(runs, a.workloads)
    if a.out:
        write(a.out, {"run_seconds": BENCH["run_seconds"], "runs": runs, "summary": summary,
                      "tracing_overhead": overhead})


def write(path, obj):
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    Path(path).write_text(json.dumps(obj, indent=1) + "\n")


def report(runs, workloads):
    """Print every workload's figures; returns the steadiness summary and
    the tracing overhead per workload."""
    summary = summarize(runs, workloads)
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    overhead = {}
    for w in workloads:
        print(f"\n== {w}")
        ok = [r for r in runs if r["workload"] == w and r["ok"] and not r["trace"]]
        attempted = sum(r["attempted"] for r in ok)
        failed = sum(r["failed"] for r in ok)
        broken = sum(1 for r in runs if r["workload"] == w and not r["ok"])
        print(f"  error_rate = {failed / max(1, attempted):.4g} ratio "
              f"({failed}/{attempted} ops; {broken} runs without a result)")
        for note in sorted({n for r in ok for n in r["notes"]}):
            print(f"  {note[2:]}")
        for name, row in summary[w].items():
            cells = "  ".join(f"{s}: {v['median']:.4g} [{v['q1']:.4g}, {v['q3']:.4g}] "
                              f"spread {v['spread']:.3f}" for s, v in row["sets"].items())
            change = (f"  change {row['median_change']:+.3f}"
                      if "median_change" in row else "")
            print(f"  {name} ({units[name]}): {cells}{change}  -> {row['verdict']}")
        dnames = sorted({k for r in ok for k in r["detail"]})
        for k in dnames:
            xs = [r["detail"][k]["value"] for r in ok if k in r["detail"]]
            unit = next(r["detail"][k]["unit"] for r in ok if k in r["detail"])
            print(f"  {k} = {statistics.median(xs):.4g} {unit} (median of {len(xs)})")
        pairs = [(u, t) for t in runs if t["workload"] == w and t["trace"] and t["ok"]
                 for u in ok if u["seed"] == t["seed"]]
        if pairs:
            ratios = [t["metrics"]["trace.wall_s"] / u["metrics"]["wall_s"] - 1
                      for u, t in pairs]
            overhead[w] = statistics.median(ratios)
            print(f"  tracing overhead on wall_s = {overhead[w]:+.3f} "
                  f"(median of {len(ratios)} seed pairs)")
            traced = [t for _, t in pairs]
            for layer in sorted({k for t in traced for k in t["self_s"]}):
                xs = [t["self_s"].get(layer, 0.0) for t in traced]
                print(f"  self time {layer} = {statistics.median(xs):.4g} s per run "
                      f"(median of {len(xs)} traced runs)")
    return summary, overhead

if __name__ == "__main__":
    main()
