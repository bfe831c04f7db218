#!/usr/bin/env python3
"""Steadiness check: run one workload several times, each with another
seed, and report every end-to-end metric's median, quartiles and
spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload export_small --runs 10 --seed0 1

The spread is (q3 - q1) / median with Python's
``statistics.quantiles(values, n=4)``. A metric passes when its spread
is within its bound (``setup_s`` is not gated on spread), and is steady
when the spread is below a third of the bound. Host steal time and load
are printed per run, so a set that fails can be put down to the host or
to the program.
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


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", "0",
    ]
    t = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    diag = {"wall_s": time.perf_counter() - t}
    for line in lines:
        if line.startswith("# diagnostics "):
            diag.update(json.loads(line[len("# diagnostics "):]))
    return json.loads(lines[-1]), diag


def summarize(values: list[float], bound: float | None) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("inf")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    per_metric: dict[str, list[float]] = {}
    ok = True
    for i in range(args.runs):
        seed = args.seed0 + i
        res, diag = run_once(args.workload, seed, seconds)
        ok &= res["correct"] and res["failed"] == 0
        vals = {k: v["value"] for k, v in res["metrics"].items()}
        for k, v in vals.items():
            per_metric.setdefault(k, []).append(v)
        print(
            f"seed {seed:4d} correct={res['correct']} failed={res['failed']}/{res['attempted']} "
            f"wall={diag['wall_s']:.1f}s steal={diag.get('host.steal_s', 0):.2f}s "
            f"load={diag.get('host.loadavg_1m', 0):.2f} "
            + " ".join(f"{k}={v:.5g}" for k, v in vals.items()),
            flush=True,
        )
    summary = {}
    print(f"\n{'metric':30s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}  verdict")
    for k, vals in per_metric.items():
        if len(vals) < 2:
            continue
        s = summarize(vals, bounds.get(k))
        gated = k != "setup_s" and s["bound"] is not None
        if not gated:
            verdict = "not gated"
        elif s["spread"] <= s["bound"] / 3:
            verdict = "steady"
        elif s["spread"] <= s["bound"]:
            verdict = "within bound"
        else:
            verdict = "TOO NOISY"
            ok = False
        s["verdict"] = verdict
        summary[k] = s
        print(
            f"{k:30s} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
            f"{s['spread']:8.4f} {s['bound'] if s['bound'] is not None else '-':>6}  {verdict}"
        )
    print(json.dumps({"workload": args.workload, "ok": ok, "metrics": summary}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
