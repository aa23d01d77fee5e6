"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload headline --seeds 1-10 [--trace 0]
                                [--seconds 10] [--out FILE]

For every metric of the result line it prints the median of the runs
and the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, the
figure the benchmark's bounds are checked against.  Runs one seed at a
time; ``--out`` also writes the per-run results and the summary as JSON,
including the workload-specific timings of each run's report.
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


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "iqr_share": (q3 - q1) / med if med else None,
            "min": min(values), "max": max(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    seconds = args.seconds or json.loads(
        (ROOT / "BENCHMARK.json").read_text())["run_seconds"]

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        report = json.loads((ROOT / ".perfbench_work" /
                             f"report-{args.workload}-{seed}-trace{args.trace}.json")
                            .read_text())
        runs.append({"seed": seed, "wall_s": wall, "result": result,
                     "end_to_end": report["end_to_end"]})
        values = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} {values}",
              flush=True)

    names = runs[0]["result"]["metrics"]
    summary = {k: spread([r["result"]["metrics"][k]["value"] for r in runs])
               for k in names}
    extra = {k for r in runs for k, v in r["end_to_end"].items()
             if isinstance(v, dict) and "median" in v}
    for k in sorted(extra):
        vals = [r["end_to_end"][k]["median"] for r in runs if k in r["end_to_end"]]
        summary[f"report.{k}"] = spread(vals)
    summary["run_wall_s"] = spread([r["wall_s"] for r in runs])
    for k, v in summary.items():
        share = "n/a" if v["iqr_share"] is None else f"{v['iqr_share']:.3f}"
        print(f"{k:32s} median={v['median']:.4f} iqr/median={share}")
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "trace": args.trace, "seconds": seconds,
             "runs": runs, "summary": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
