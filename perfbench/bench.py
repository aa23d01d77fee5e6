"""One benchmark run: set-up, warm-up, timed passes, checks, metrics.

Called by run.py after the environment is configured.  The engine is
used only through its public functions; the traced run wraps some of
them (:func:`install_hooks`) to time each layer from outside.
"""

from __future__ import annotations

import glob
import importlib
import json
import math
import os
import pstats
import statistics
import time
from pathlib import Path

from . import datagen, workloads
from .trace import Tracer, fold, read_jobs

#: untimed passes before the timed ones.  The first pass of a run takes
#: two to three times as long as the later ones while the JVM compiles,
#: and the second is still a fifth to a half slower than the fifth.  A
#: third warm-up pass did not narrow the run-to-run spread of `pass_s`
#: over five seeds, and made a headline run take up to 72 s
WARMUP_PASSES = 2
MB = float(1 << 20)

#: end-to-end metrics, reported by every workload with --trace 0
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
#: per-layer metrics, reported by every workload with --trace 1; a
#: layer a workload does not reach reads 0 there
PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.load_tables_s": "s",
    "warmup_s": "s",
    "traced_pass_s": "s",
    "trace.overhead_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "catalog.input_records": "count",
    "driver_only_s": "s",
    "oracle.check_s": "s",
    "retained_mb": "MB",
    "peak_rss_mb": "MB",
    "queries.build_s": "s",
    "collect.to_pandas_s": "s",
    "collect.arrow_s": "s",
    "similarity.cosine_topk_s": "s",
    "python.udf_s": "s",
    "mrbg.initial_s": "s",
    "mrbg.apply_delta_s": "s",
    "mrbg.pinned_mb_per_delta": "MB",
    "mrbg.shuffle_bytes_per_delta": "bytes",
    "mrbg.bytes_per_affected_edge": "bytes",
}


def summarize(samples: list[float]) -> dict:
    """Median, sample count, extremes, and from twenty samples on the
    highest percentile with at least ten samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    out = {"median": statistics.median(xs), "n": n, "min": xs[0], "max": xs[-1]}
    if n >= 20:
        p = math.floor(100 * (1 - 10 / n))
        out[f"p{p}"] = xs[min(n - 1, math.ceil(p / 100 * n) - 1)]
    return out


def typical_pass(job_walls: dict[str, list[float]]) -> float:
    """Wall of a typical pass: the sum over its jobs of each job's median
    across the timed passes.  A slow job in one pass moves this less
    than it moves the median of whole-pass walls."""
    return sum(statistics.median(v) for v in job_walls.values())


def install_hooks(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points where their callers look
    them up, so every call records a span."""
    from i2mapreduce_spark.operators import algorithms, similarity
    from i2mapreduce_spark.queries import iterative

    # the package re-exports the function `iterate` under the module's name
    iterate_mod = importlib.import_module("i2mapreduce_spark.plans.iterate")

    original_iterate = algorithms.iterate

    def iterate(state0, step, max_iters, delta_fn=None, *args, **kwargs):
        if delta_fn is not None:
            inner = delta_fn

            def delta_fn(old, new):
                with tracer.span("iterate.delta_fn"):
                    return inner(old, new)
        with tracer.span("iterate") as s:
            result = original_iterate(state0, step, max_iters, delta_fn,
                                      *args, **kwargs)
            if s is not None:
                s.attrs["rounds"] = result.iterations
            return result

    tracer.patch(algorithms, "iterate", iterate)
    for mod in (iterate_mod, algorithms, iterative):
        tracer.wrap(mod, "checkpoint_without_stats", "iterate.checkpoint")
        tracer.wrap(mod, "release_checkpoint", "iterate.release")
    for fn in ("pagerank", "connected_components", "sssp"):
        tracer.wrap(algorithms, fn, f"algorithms.{fn}")
    tracer.wrap(similarity, "cosine_topk", "similarity.cosine_topk")


def _host_probe() -> float:
    """A fixed single-thread Python loop: moves only with the host, so
    reports from different runs can be told apart by host speed."""
    t0 = time.perf_counter()
    sum(range(10_000_000))
    return time.perf_counter() - t0


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM line in /proc status")


def _udf_seconds(spark, out_dir: Path) -> float:
    """Total time inside Python UDFs recorded by the perf profiler."""
    spark.profile.dump(str(out_dir), type="perf")
    return sum(pstats.Stats(p).total_tt
               for p in glob.glob(str(out_dir / "udf_*_perf.pstats")))


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM, and with it the Python
    workers, to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def _event_log_lines(work: Path, app_id: str):
    files = sorted(glob.glob(str(work / "eventlog" / f"*{app_id}*")))
    paths = []
    for f in files:
        if os.path.isdir(f):
            paths += sorted(glob.glob(os.path.join(f, "events_*")),
                            key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            paths.append(f)
    for p in paths:
        with open(p) as fh:
            yield from fh


def run(workload: str, seed: int, seconds: float, trace: bool,
        work: Path) -> tuple[dict, dict]:
    """Run one workload; return the result line and the full report."""
    phases: dict[str, float] = {}
    last = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = phases.get(name, 0.0) + now - last[0]
        last[0] = now

    host_probe_s = _host_probe()
    wl, sf = workloads.make(workload, seed)
    data_dir = str(work / "data")
    datagen.generate(data_dir, seed, sf)
    phase("datagen")
    # the oracle frames are fetched in the background while the run sets
    # up, and waited for before the first check: fetched alone they
    # would add about 11 s to a headline run, more than the run time of
    # the repeated runs allows
    wl.start_oracle(data_dir)

    from i2mapreduce_spark.catalog import load_tables
    from i2mapreduce_spark.session import get_spark

    phase("import")
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    get_spark_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        load_tables(spark, data_dir, force=True)
        load_tables_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
        phase("session")
        wl.setup(spark, data_dir)
        # the workload's own materialized inputs: retained_mb is net of them
        inputs_bytes = workloads.held_bytes(spark) if trace else 0
        phase("workload_setup")

        tracer = Tracer()
        tracer.enabled = False
        outcomes, check_s, warm = [], [], []
        for _ in range(WARMUP_PASSES):
            p = wl.run_pass(tracer)
            warm.append(p.wall_s)
            outcomes += p.outcomes
            check_s.append(p.check_s)
        phase("warmup")

        passes: list[tuple[bool, float, int | None]] = []
        job_walls: dict[str, list[float]] = {}
        deadline = time.perf_counter() + seconds
        while True:
            traced = trace and len(passes) % 2 == 1
            if traced:
                tracer.enabled = True
                install_hooks(tracer)
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            n_spans = len(tracer.spans)
            try:
                p = wl.run_pass(tracer, noop=traced)
            finally:
                if traced:
                    tracer.restore()
                    tracer.enabled = False
                    spark.conf.unset("spark.sql.pyspark.udf.profiler")
            pass_span = n_spans if traced else None
            passes.append((traced, p.wall_s, pass_span))
            if not traced:
                for o in p.outcomes:
                    if o.timed:
                        job_walls.setdefault(o.name, []).append(o.wall_s)
            outcomes += p.outcomes
            check_s.append(p.check_s)
            if time.perf_counter() >= deadline and len(passes) >= (3 if trace else 1):
                break

        phase("measure")
        peak_rss_mb = _jvm_peak_rss_mb(spark)
        if trace:
            retained_mb = (workloads.held_bytes(spark) - inputs_bytes) / MB
            udf_s = _udf_seconds(spark, work / "profile")
        app_id = spark.sparkContext.applicationId
        phase("teardown")
    finally:
        _stop_spark(spark)
    phase("stop")

    pass_s = typical_pass(job_walls)
    failed = [o for o in outcomes if not o.ok]
    # what a user pays before a pass runs at full speed: the session (JVM
    # launch included), the catalog, and the warm-up passes
    setup_s = get_spark_s + load_tables_s + sum(warm)
    report = {
        "workload": workload, "seed": seed, "trace": trace,
        "config": {
            "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark.sql.shuffle.partitions": shuffle_partitions,
            "sf": sf, "seconds": seconds,
            "host_probe_s": host_probe_s,
        },
        "phases_s": phases,
        "attempted": len(outcomes),
        "failed": len(failed),
        "failed_share": len(failed) / len(outcomes),
        "failures": [f"{o.name}: {o.detail}" for o in failed],
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "pass_walls_s": warm + [w for _, w, _ in passes],
            "peak_rss_mb": peak_rss_mb,
            **{k: summarize(v) for k, v in wl.timings().items()},
        },
        "per_job_s": {k: summarize(v) for k, v in job_walls.items()},
    }
    metrics = {"setup_s": setup_s, "pass_s": pass_s}
    if trace:
        jobs = read_jobs(_event_log_lines(work, app_id))
        layers = _layers(tracer, passes, jobs)
        layers.update({
            "session.get_spark_s": get_spark_s,
            "catalog.load_tables_s": load_tables_s,
            "warmup_s": sum(warm),
            "retained_mb": retained_mb,
            "inputs_mb": inputs_bytes / MB,
            "peak_rss_mb": peak_rss_mb,
            "oracle.check_s": statistics.median(check_s),
            "python.udf_s": udf_s / max(1, sum(t for t, _, _ in passes)),
        })
        report["per_layer"] = layers
        metrics = {k: layers.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        units = END_TO_END
    result = {
        "correct": not failed,
        "attempted": len(outcomes),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, report


def _layers(tracer: Tracer, passes, jobs) -> dict:
    """Per-layer metrics: the median over traced passes of each pass's
    span totals, event-log folds and counters.  The pass's ``untimed``
    spans (checks inside the pass) are taken out of its folds."""
    per_pass: list[dict[str, float]] = []
    for traced, wall, first_span in passes:
        if not traced:
            continue
        idx = next(i for i in range(first_span, len(tracer.spans))
                   if tracer.spans[i].name == "pass")
        span = tracer.spans[idx]
        inner = tracer.within(idx)
        untimed = [s for s in inner if s.name == "untimed"]
        m = fold(span, jobs)
        for s in untimed:
            for k, v in fold(s, jobs).items():
                m[k] -= v
        m["catalog.input_records"] = m.pop("exec.input_records")
        m["traced_pass_s"] = wall
        m["pass_span_s"] = span.wall - sum(s.wall for s in untimed)
        for name, (calls, total) in tracer.totals(idx).items():
            m[f"{name}_s"] = total
            m[f"{name}.calls"] = calls
        m["collect.rows"] = sum(s.attrs.get("rows", 0) for s in inner
                                if s.name == "collect.to_pandas")
        m["iterate.rounds"] = sum(s.attrs.get("rounds", 0) for s in inner
                                  if s.name == "iterate")
        m["iterate.checkpoints"] = m.get("iterate.checkpoint.calls", 0)
        m["iterate.unreleased"] = (m["iterate.checkpoints"]
                                   - m.get("iterate.release.calls", 0))
        m.update(_mrbg_layers([s for s in inner if s.name == "mrbg.apply_delta"],
                              jobs))
        noop = [s.wall for s in tracer.spans[first_span:]
                if s.name == "collect.noop"]
        if noop:
            m["collect.noop_s"] = sum(noop)
            m["collect.arrow_s"] = m.get("collect.to_pandas_s", 0.0) - sum(noop)
        per_pass.append(m)
    keys = sorted(set().union(*per_pass))
    out = {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in keys}
    untraced = [w for t, w, _ in passes if not t]
    out["trace.overhead_s"] = out["traced_pass_s"] - statistics.median(untraced)
    out["traced_passes"] = len(per_pass)
    return out


def _mrbg_layers(deltas: list, jobs) -> dict[str, float]:
    """Per delta class and per delta: affected keys and edges, the
    blocks a refresh pins (``pinned_mb``, read right after it), the
    growth of held blocks once superseded ones are collected
    (``kept_mb``, read after forced GCs), and shuffle bytes."""
    if not deltas:
        return {}
    m: dict[str, float] = {}
    shuffle = edges = 0
    for s in deltas:
        c, a = s.attrs["size_class"], s.attrs
        sw = fold(s, jobs)["exec.shuffle_write_bytes"]
        shuffle += sw
        edges += a["affected_edges"]
        m[f"mrbg.{c}.affected_keys"] = a["affected_keys"]
        m[f"mrbg.{c}.affected_edges"] = a["affected_edges"]
        m[f"mrbg.{c}.edges_rows"] = a["edges_rows"]
        m[f"mrbg.{c}.pinned_mb"] = (a["stored_after"] - a["held_before"]) / MB
        m[f"mrbg.{c}.kept_mb"] = (a["held_after"] - a["held_before"]) / MB
        m[f"mrbg.{c}.shuffle_bytes"] = sw
        m[f"mrbg.{c}.bytes_per_affected_edge"] = sw / max(1, a["affected_edges"])
    m["mrbg.affected_keys"] = sum(s.attrs["affected_keys"] for s in deltas)
    m["mrbg.affected_edges"] = edges
    m["mrbg.pinned_mb_per_delta"] = statistics.mean(
        m[f"mrbg.{s.attrs['size_class']}.pinned_mb"] for s in deltas)
    m["mrbg.kept_mb_per_delta"] = (
        deltas[-1].attrs["held_after"] - deltas[0].attrs["held_before"]
    ) / MB / len(deltas)
    m["mrbg.shuffle_bytes_per_delta"] = shuffle / len(deltas)
    m["mrbg.bytes_per_affected_edge"] = shuffle / max(1, edges)
    return m


def render(report: dict) -> str:
    """Human-readable summary for stderr."""
    lines = [f"perfbench {report['workload']} seed={report['seed']} "
             f"trace={int(report['trace'])} config={json.dumps(report['config'])}",
             f"  attempted={report['attempted']} failed={report['failed']} "
             f"failed_share={report['failed_share']:.4f}"]
    lines += [f"  FAILED {f}" for f in report["failures"]]
    for section in ("end_to_end", "per_job_s", "per_layer"):
        for k, v in report.get(section, {}).items():
            lines.append(f"  {section}.{k} = {json.dumps(v)}")
    return "\n".join(lines)
