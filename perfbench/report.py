#!/usr/bin/env python3
"""Run every workload several times and report steadiness and tracing cost.

    python3 perfbench/report.py --runs 10 --first-seed 1

For each workload in BENCHMARK.json: ``--runs`` untraced runs, each with its
own seed, then one traced run.  Per metric it prints the median, the quartile
spread (Q3 - Q1, from ``statistics.quantiles(n=4)``) as a share of the median,
and the values.  Traced runs print every per-layer metric and the tracing
overhead: the traced run's end-to-end numbers against the untraced medians.
Every run's wall time is shown, so the cost of a full check can be budgeted.

Exits non-zero if any run fails, reports an incorrect output, or exits
non-zero itself.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict | None, str, float]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    prefix = "traced end-to-end "
    traced_e2e = next((json.loads(ln[len(prefix):]) for ln in lines
                       if ln.startswith(prefix)), None)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if result is not None:
        result["exit"] = p.returncode
        result["traced_e2e"] = traced_e2e
        result["context"] = next((json.loads(ln[len("context "):]) for ln in lines
                                  if ln.startswith("context ")), {})
    err = "" if p.returncode == 0 else p.stderr[-3000:]
    return result, err, wall


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    layers: dict[str, dict[str, float]] = {}
    for w in (w["name"] for w in spec["workloads"]):
        print(f"== {w}: {args.runs} untraced + 1 traced runs of {seconds} s", flush=True)
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        for i in range(args.runs):
            seed = args.first_seed + i
            res, err, wall = run_once(w, seed, seconds, 0)
            good = res is not None and res["correct"] and not res["failed"] and not res["exit"]
            ok &= good
            ctx = res["context"] if res else {}
            print(f"  seed {seed:4d}: {wall:6.1f} s wall, steps {ctx.get('samples')}, "
                  f"box spin ms {[round(x, 1) for x in ctx.get('box_spin_ms', [])]}, "
                  + ("ok" if good else f"FAILED {err[-500:]}"), flush=True)
            if res is None:
                continue
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
                units[k] = m["unit"]
        for k in sorted(values):
            v = values[k]
            sp = spread(v) if len(v) >= 2 else float("nan")
            b = bounds.get(k)
            flag = "" if b is None or sp <= b / 3 else "  <-- above a third of its bound"
            print(f"  {k:28s} median {statistics.median(v):12.4f} {units[k]:5s} "
                  f"spread {sp:6.3f} (bound {b}){flag}")
            print("      " + " ".join(f"{x:.4g}" for x in v))
        seed = args.first_seed + args.runs
        res, err, wall = run_once(w, seed, seconds, 1)
        good = res is not None and res["correct"] and not res["failed"] and not res["exit"]
        ok &= good
        print(f"  traced seed {seed}: {wall:.1f} s wall, "
              + ("ok" if good else f"FAILED {err[-500:]}"), flush=True)
        if res is None:
            continue
        layers[w] = {k: m["value"] for k, m in res["metrics"].items()}
        for k, m in sorted(res["metrics"].items()):
            print(f"    {k:42s} {m['value']:14.4f} {m['unit']}")
        for k, v in sorted((res["traced_e2e"] or {}).items()):
            if values.get(k):
                base = statistics.median(values[k])
                print(f"    overhead {k:33s} traced {v:10.4f} vs untraced median "
                      f"{base:10.4f} ({(v - base) / base:+.1%})")
    stress_checks(layers)
    return 0 if ok else 1


def stress_checks(layers: dict[str, dict[str, float]]) -> None:
    """Print whether each workload stresses the layer it was chosen for."""
    bulk, trickle = layers.get("cdc_bulk_inserts"), layers.get("cdc_trickle_updates")
    if bulk:
        cores = os.cpu_count() or 1
        parts = {
            "tx_state.update_ms / cores": bulk["tx_state.update_ms"] / 1000 / cores,
            "tx_state.commit_ms / cores": bulk["tx_state.commit_ms"] / 1000 / cores,
            "tables.append_s": bulk["tables.append_s"],
            "sources (latest_offset + get_batch)":
                (bulk["sources.latest_offset_ms"] + bulk["sources.get_batch_ms"]) / 1000,
        }
        top = max(parts, key=parts.get)
        print(f"stress check, cdc_bulk_inserts: of pipeline.scd2_query_s "
              f"{bulk['pipeline.scd2_query_s']:.2f} s, the largest part is {top} "
              f"({parts[top]:.2f} s); " + ", ".join(f"{k} {v:.2f} s" for k, v in parts.items()))
    if bulk and trickle:
        b = bulk["scd1.rewritten_rows_per_source_row"]
        t = trickle["scd1.rewritten_rows_per_source_row"]
        print(f"stress check, scd1.rewritten_rows_per_source_row: cdc_trickle_updates {t:.2f} "
              f"vs cdc_bulk_inserts {b:.2f} ({t / b if b else float('inf'):.1f}x)")


if __name__ == "__main__":
    sys.exit(main())
