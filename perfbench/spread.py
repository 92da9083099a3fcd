"""Run the benchmark over several seeds and report each metric's median and
quartile spread (IQR / median), as used to judge run-to-run steadiness.

    python3 perfbench/spread.py --workloads backfill_mor,read_mix_mor --seeds 1-10
    python3 perfbench/spread.py --workloads live_cow_skewed --seeds 1-3 --trace 1
    python3 perfbench/spread.py --workloads backfill_mor --seeds 1-5 --overhead

Runs are sequential. Each run's last stdout line is parsed; the table shows
n, median, q1, q3, spread and the bound from BENCHMARK.json. With --save, a
JSON summary (every run's values and wall time) is written to that path.

--overhead runs every seed untraced and then traced, reads the end-to-end
table both print, and reports the tracing overhead per metric as the
traced median minus the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def printed(stdout: str) -> dict[str, float]:
    """name -> value from run.py's human-readable metric table."""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if line.startswith("  ") and len(parts) == 3:
            try:
                out[parts[0]] = float(parts[1])
            except ValueError:
                pass
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int, extra: list[str]) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["printed"] = printed(p.stdout)
    return res


def overhead(workloads: list[str], seed_list: list[int], seconds: int, extra: list[str]) -> dict:
    summary = {}
    for wl in workloads:
        runs = {0: [], 1: []}
        for s in seed_list:
            for trace in (0, 1):
                r = run_once(wl, s, seconds, trace, extra)
                runs[trace].append(r["printed"])
                print(f"{wl} seed {s} trace {trace}: wall {r['wall_s']:.1f}s "
                      f"failed={r['failed']}", flush=True)
        print(f"\n{wl}: {'metric':<24} {'untraced':>12} {'traced':>12} {'overhead':>9}")
        rows = {}
        for name in runs[0][0]:
            if name == "error_rate":
                continue
            u = statistics.median(r[name] for r in runs[0])
            t = statistics.median(r[name] for r in runs[1])
            rows[name] = {"untraced": u, "traced": t, "rel": (t - u) / u if u else 0.0}
            print(f"  {name:<30} {u:>12.4f} {t:>12.4f} {rows[name]['rel']:>+9.3f}")
        summary[wl] = rows
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("extra", nargs="*", help="passed to run.py after --")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    if a.overhead:
        summary = overhead(a.workloads.split(","), seeds(a.seeds), bench["run_seconds"], a.extra)
        if a.save:
            with open(a.save, "w") as f:
                json.dump(summary, f, indent=1)
        return
    summary = {}
    for wl in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            r = run_once(wl, s, bench["run_seconds"], a.trace, a.extra)
            runs.append(r)
            print(f"{wl} seed {s}: wall {r['wall_s']:.1f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", flush=True)
        print(f"\n{wl}: {'metric':<34} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} spread  bound")
        rows = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            rows[name] = {"values": vals, "median": med, "q1": q1, "q3": q3, "spread": spread}
            print(f"  {name:<40} {len(vals):>3} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} "
                  f"{spread:6.3f}  {bounds.get(name)}")
        print(f"  wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f}s, "
              f"max {max(r['wall_s'] for r in runs):.1f}s; "
              f"failed ops: {sum(r['failed'] for r in runs)}\n", flush=True)
        summary[wl] = {"metrics": rows, "wall_s": [r["wall_s"] for r in runs],
                       "failed": [r["failed"] for r in runs], "seeds": seeds(a.seeds)}
    if a.save:
        with open(a.save, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
