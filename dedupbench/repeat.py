"""Run the benchmark several times and summarize the spread of each metric.

    python3 dedupbench/repeat.py --workload flags_200k --seeds 1-10 [--trace 0]

Runs ``dedupbench/run.py`` once per seed, one run at a time, and prints per
metric the median, the quartiles (``statistics.quantiles(values, n=4)``) and
the spread (Q3 - Q1) / median next to the metric's bound, plus each run's
own wall time. With ``--out`` the summary is also written as JSON.
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


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, str(ROOT / spec["command"][1]), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        elapsed = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode in (0, 1) and lines else None
        runs.append({"seed": seed, "rc": proc.returncode, "elapsed_s": elapsed, "result": result})
        vals = {k: round(v["value"], 4) for k, v in (result or {}).get("metrics", {}).items()}
        print(f"seed={seed} rc={proc.returncode} elapsed={elapsed:.1f}s {vals if args.trace == 0 else ''}", flush=True)
        if result is None:
            print(proc.stderr[-3000:], file=sys.stderr)
    ok = [r["result"] for r in runs if r["result"]]
    summary = {}
    for name in ok[0]["metrics"] if ok else []:
        summary[name] = {**summarize([r["metrics"][name]["value"] for r in ok]), "bound": bounds.get(name)}
        s = summary[name]
        print(f"{name:40s} median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} spread={s['spread']:.4f} bound={s['bound']}")
    print(f"elapsed per run: {summarize([r['elapsed_s'] for r in runs])}")
    if args.out:
        Path(args.out).write_text(json.dumps({"workload": args.workload, "runs": runs, "summary": summary}, indent=1))
    return 0 if all(r["rc"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
