"""Run the benchmark over several seeds and report each metric's
median and quartile spread; or summarise result files already written.

    python3 perfbench/spread.py run --workload ingest --seeds 1-10 [--seconds 10]
    python3 perfbench/spread.py summary [RESULT.json ...]

``run`` executes ``perfbench/run.py`` once per seed, one after the
other, prints each run's wall time and metrics, and then for every
metric the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, (q3 - q1) /
median, next to the metric's bound from ``BENCHMARK.json``.

``summary`` reads detail files from ``perfbench/_work/results/`` (all
of them by default), prints the same table per workload and trace
mode, and the tracing overhead: per operation kind, the median wall
of traced runs against that of untraced runs.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _bounds() -> dict[str, float]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["bound"] for m in spec["end_to_end"]}


def spread_table(results: list[dict]) -> list[str]:
    bounds = _bounds()
    names = sorted({k for r in results for k in r["metrics"]})
    lines = [f"{'metric':34} {'n':>3} {'median':>14} {'q1':>14} {'q3':>14} "
             f"{'spread':>7} {'bound':>6}"]
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        lines.append(f"{name:34} {len(vals):3d} {med:14.6g} {q1:14.6g} {q3:14.6g} "
                     f"{spread:7.3f} {'' if bound is None else bound:>6}")
    failed = sum(r["failed"] for r in results)
    lines.append(f"runs={len(results)} correct={sum(bool(r['correct']) for r in results)} "
                 f"failed_ops={failed}")
    return lines


def overhead_table(details: list[dict]) -> list[str]:
    """Per workload and op kind: median wall of traced runs against the
    median of untraced runs (warm-up and probe requests left out)."""
    walls: dict[tuple[str, str, int], list[float]] = {}
    for d in details:
        a = d["args"]
        for r in d["records"]:
            if not (r.get("warmup") or r.get("probe")):
                walls.setdefault((a["workload"], r["kind"], a["trace"]), []).append(r["wall_s"])
    lines = [f"{'workload':18} {'op':10} {'untraced_p50_s':>15} {'traced_p50_s':>13} "
             f"{'overhead':>9}"]
    for workload, kind in sorted({(w, k) for w, k, _ in walls}):
        plain, traced = walls.get((workload, kind, 0)), walls.get((workload, kind, 1))
        if plain and traced:
            a, b = statistics.median(plain), statistics.median(traced)
            lines.append(f"{workload:18} {kind:10} {a:15.4f} {b:13.4f} {(b - a) / a:9.3f}")
    return lines


def cmd_run(args) -> int:
    results = []
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        wall = time.time() - t0
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(last)
        results.append(res)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                        if not args.trace)
        print(f"seed {seed}: run_wall={wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']} {vals}", flush=True)
    print("\n".join(spread_table(results)))
    return 0


def cmd_summary(args) -> int:
    paths = args.files or sorted(glob.glob(os.path.join(HERE, "_work", "results", "*.json")))
    details = []
    for p in paths:
        with open(p) as f:
            details.append(json.load(f))
    groups: dict[tuple[str, int], list[dict]] = {}
    for d in details:
        groups.setdefault((d["args"]["workload"], d["args"]["trace"]), []).append(d)
    for (workload, trace), ds in sorted(groups.items()):
        print(f"== {workload} trace={trace}")
        print("\n".join(spread_table(ds)))
    print("== tracing overhead")
    print("\n".join(overhead_table(details)))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,5,9")
    r.add_argument("--seconds", type=float, default=10)
    r.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="*")
    args = p.parse_args(argv)
    return cmd_run(args) if args.cmd == "run" else cmd_summary(args)


if __name__ == "__main__":
    sys.exit(main())
