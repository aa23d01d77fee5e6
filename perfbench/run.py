"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Generates the workload's tables from the seed, starts a local Spark
session through the engine's own ``get_spark``/``load_tables``, runs three
warm-up passes, then closed-loop passes until ``--seconds`` have elapsed,
checking every output.  The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see perfbench/README.md).  A readable report goes to stderr and a full
one to ``.perfbench_work/report-<workload>-<seed>-trace<0|1>.json``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout that holds this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def configure_env(work: Path, trace: bool) -> None:
    """Everything that must be set before the JVM starts."""
    for d in ("local", "tmp", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # BASELINE.md §1 config; configure_session reads it on every
    # load_tables call, so it must be in the environment, not an argument
    os.environ["I2MR_SHUFFLE_PARTITIONS"] = "8"
    # python workers import the engine by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the spark-submit launcher included: temp files under the
    # work dir, and no hsperfdata files (always written under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{work / 'eventlog'}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(map(shlex.quote, args)) + " pyspark-shell")


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "i2mapreduce_spark" / "__init__.py").is_file():
        print(f"perfbench: no i2mapreduce_spark package under {ROOT}; "
              "run it from a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import bench, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a plain kill still runs the clean-up below: the JVM is stopped and
    # waited for, and the run's work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out_dir = ROOT / ".perfbench_work"
    work = out_dir / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(work, bool(args.trace))
    try:
        result, report = bench.run(args.workload, args.seed, args.seconds,
                                   bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["config"]["run_wall_s"] = time.perf_counter() - started
    name = f"report-{args.workload}-{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(report, indent=1, sort_keys=True))
    print(bench.render(report), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
