#!/usr/bin/env python3
"""Steadiness tool: runs workloads repeatedly with distinct seeds, and
compares two sets of runs against the bounds in BENCHMARK.json.

    # ten untraced runs of every workload, seeds 1..10, saved as JSON lines
    python3 perfbench/steady.py run --runs 10 --first-seed 1 --out set-a.jsonl
    # spread of each end-to-end metric: (Q3 - Q1) / median
    python3 perfbench/steady.py report set-a.jsonl
    # does set B stay within each bound of set A's medians?
    python3 perfbench/steady.py compare set-a.jsonl set-b.jsonl

``run`` prints each run's summary line as it finishes, then the report.
Quartiles are ``statistics.quantiles(values, n=4)``. A spread above its
bound, or a median that got worse by more than its bound, is marked
FAIL; setup_s is exempt from the spread test, as the bound contract says.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}
# printed by every run's summary line but not gated (see layers.json)
UNGATED = ("latency_p90_ms", "peak_rss_mb")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "summary": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def _stats(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def report(rows: list[dict]) -> bool:
    ok = True
    for wl in sorted({r["workload"] for r in rows}):
        runs = [r for r in rows if r["workload"] == wl and r["trace"] == 0]
        bad = [r["seed"] for r in runs if not r["result"]["correct"]]
        print(f"\n{wl}: {len(runs)} runs, mean wall {statistics.mean(r['wall_s'] for r in runs):.1f} s"
              + (f", INCORRECT seeds {bad}" if bad else ""))
        ok &= not bad
        for name, m in BOUNDS.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            if len(vals) < 2:
                continue
            q1, med, q3 = _stats(vals)
            spread = (q3 - q1) / med if med else float("inf")
            verdict = "exempt" if name == "setup_s" else (
                "ok" if spread <= m["bound"] / 3 else "ok (>1/3 bound)" if spread <= m["bound"]
                else "FAIL")
            ok &= verdict != "FAIL"
            print(f"  {name:18s} median {med:12.4f} {m['unit']:5s} q1 {q1:12.4f} q3 {q3:12.4f} "
                  f"spread {spread:6.3f} bound {m['bound']:.2f}  {verdict}")
        for name in UNGATED:
            vals = [r["summary"][name] for r in runs if name in r["summary"]]
            if len(vals) >= 2:
                q1, med, q3 = _stats(vals)
                print(f"  {name:18s} median {med:12.4f}       q1 {q1:12.4f} q3 {q3:12.4f} "
                      f"spread {(q3 - q1) / med:6.3f} (not gated)")
    return ok


def compare(a: list[dict], b: list[dict]) -> bool:
    ok = True
    for wl in sorted({r["workload"] for r in a}):
        print(f"\n{wl}")
        for name, m in BOUNDS.items():
            va = [r["result"]["metrics"][name]["value"] for r in a if r["workload"] == wl and r["trace"] == 0]
            vb = [r["result"]["metrics"][name]["value"] for r in b if r["workload"] == wl and r["trace"] == 0]
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            verdict = "ok" if worse <= m["bound"] else "FAIL"
            ok &= verdict == "ok"
            print(f"  {name:18s} A {ma:12.4f}  B {mb:12.4f}  worse by {worse:+.3f} "
                  f"(bound {m['bound']:.2f})  {verdict}")
    return ok


def _load(path: str) -> list[dict]:
    return [json.loads(line) for line in Path(path).read_text().splitlines() if line.strip()]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workloads", nargs="*", default=[w["name"] for w in SPEC["workloads"]])
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True, help="JSON lines file the runs are appended to")
    rep = sub.add_parser("report")
    rep.add_argument("runs")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = p.parse_args()

    if args.cmd == "report":
        return 0 if report(_load(args.runs)) else 1
    if args.cmd == "compare":
        return 0 if compare(_load(args.a), _load(args.b)) else 1
    rows = []
    with open(args.out, "a") as f:
        for wl in args.workloads:
            for seed in range(args.first_seed, args.first_seed + args.runs):
                row = run_once(wl, seed, args.seconds, args.trace)
                rows.append(row)
                f.write(json.dumps(row) + "\n")
                f.flush()
                print(json.dumps(row["summary"]), flush=True)
    return 0 if (args.trace or report(rows)) else 1


if __name__ == "__main__":
    sys.exit(main())
