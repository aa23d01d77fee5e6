"""The benchmark's workloads: what one pass runs and how it is checked.

Each workload is one closed-loop client: the next job starts only after
the previous one returns.  A pass returns its timed wall (the sum of the
timed calls, checks excluded) and one :class:`Outcome` per job; checks
never run inside the timed calls.

- ``headline``: bench.py's seven headline query keys, each collected
  with ``toPandas`` and compared with its DuckDB oracle.
- ``graph_fixpoint``: the three fixpoint keys, same collect and check.
- ``mrbg_delta``: an ``MRBGStore`` over lineitem keyed by part: the
  initial load, then a seeded insert/delete delta per size class; each
  result is compared with a pandas reduce over the same records right
  after its call, and a from-scratch Spark recompute is timed against
  the refreshes.
"""

from __future__ import annotations

import gc
import os
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import deltas
from .trace import Tracer

#: bench.py's HEADLINE keys (BASELINE.md §1), copied so that edits to
#: bench.py do not change this benchmark
HEADLINE = [
    "agg_pricing_summary",
    "join_multiway",
    "window_topk_per_group",
    "mr_wordcount",
    "stream_session_window",
    "iter_apriori_pairs",
    "sim_topk_cosine",
]
GRAPH_KEYS = ["iter_pagerank", "iter_connected_components", "iter_sssp"]
#: the order of delta size classes within one mrbg_delta pass
DELTA_CLASSES = ["small", "medium", "large"]
#: lineitem columns the MRBG job reads
MRBG_COLUMNS = ["l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
                "l_extendedprice"]


@dataclass
class Outcome:
    name: str
    wall_s: float
    ok: bool = True
    rows: int = 0
    detail: str = ""
    timed: bool = True  # part of the pass's timed wall


@dataclass
class PassResult:
    wall_s: float
    outcomes: list[Outcome] = field(default_factory=list)
    check_s: float = 0.0


def _failed(name: str, wall: float, exc: BaseException) -> Outcome:
    return Outcome(name, wall, ok=False,
                   detail="".join(traceback.format_exception_only(exc)).strip())


class QueryWorkload:
    """Registry query keys, each collected with toPandas and compared
    with its DuckDB oracle through ``oracle.canonical_rows``."""

    def __init__(self, name: str, keys: list[str]) -> None:
        self.name, self.keys = name, keys
        self._expected: dict[str, list[tuple]] = {}
        self._verified: dict[str, pd.DataFrame] = {}
        self._oracle_error: BaseException | None = None
        self._oracle_thread: threading.Thread | None = None

    def start_oracle(self, data_dir: str) -> None:
        """Fetch every key's oracle frame in a background thread (DuckDB
        over the same parquet); :meth:`join_oracle` waits for it."""
        def fetch() -> None:
            from i2mapreduce_spark import oracle
            from i2mapreduce_spark.queries import build_registry

            # the fetch overlaps the timed set-up and warm-up passes: at the
            # lowest priority, which DuckDB's worker threads inherit, it
            # takes only the cycles they leave idle
            os.setpriority(os.PRIO_PROCESS, threading.get_native_id(), 19)
            try:
                _, oracles = build_registry()
                con = oracle.oracle_connect(data_dir)
                try:
                    for k in self.keys:
                        self._expected[k] = oracle.canonical_rows(
                            con.execute(oracles[k]).df())
                finally:
                    con.close()
            except Exception as exc:  # reported as failed checks
                self._oracle_error = exc

        self._oracle_thread = threading.Thread(target=fetch, daemon=True)
        self._oracle_thread.start()

    def join_oracle(self) -> None:
        if self._oracle_thread is not None:
            self._oracle_thread.join()
            self._oracle_thread = None

    def setup(self, spark, data_dir: str) -> None:
        from i2mapreduce_spark.queries import build_registry

        self.queries, _ = build_registry()
        self.spark, self.data_dir = spark, data_dir

    def run_pass(self, tracer: Tracer, noop: bool = False) -> PassResult:
        frames: dict[str, pd.DataFrame] = {}
        built = {}
        outcomes: list[Outcome] = []
        wall = 0.0
        with tracer.span("pass"):
            for k in self.keys:
                t0 = time.perf_counter()
                try:
                    with tracer.span("queries.build", key=k):
                        df = self.queries[k](self.spark, self.data_dir)
                    with tracer.span("collect.to_pandas", key=k) as s:
                        pdf = df.toPandas()
                        if s is not None:
                            s.attrs["rows"] = len(pdf)
                except Exception as exc:
                    dt = time.perf_counter() - t0
                    wall += dt
                    outcomes.append(_failed(k, dt, exc))
                    continue
                dt = time.perf_counter() - t0
                wall += dt
                frames[k], built[k] = pdf, df
                outcomes.append(Outcome(k, dt, rows=len(pdf)))
        if noop:
            # the same plans with rows dropped in the JVM: toPandas minus
            # this is the Arrow collect
            for k, df in built.items():
                with tracer.span("collect.noop", key=k):
                    df.write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        self.join_oracle()
        for o in outcomes:
            if o.ok:
                self._check(o, frames[o.name])
        return PassResult(wall, outcomes, time.perf_counter() - t0)

    def _check(self, o: Outcome, pdf: pd.DataFrame) -> None:
        """Compare with the oracle; a frame equal (rows in the same
        order) to one that already matched it needs no second compare."""
        verified = self._verified.get(o.name)
        if verified is not None and pdf.equals(verified):
            return
        from i2mapreduce_spark.oracle import canonical_rows

        expected = self._expected.get(o.name)
        if expected is None:
            o.ok, o.detail = False, f"no oracle: {self._oracle_error!r}"
        elif canonical_rows(pdf) != expected:
            o.ok, o.detail = False, "output differs from the DuckDB oracle"
        else:
            self._verified[o.name] = pdf

    def timings(self) -> dict[str, list[float]]:
        return {}


# -- mrbg_delta -------------------------------------------------------------

def mrbg_map(records):
    """lineitem record -> (part key, order, line, quantity, price in
    cents) edge.  Prices are carried as exact integer cents."""
    from pyspark.sql import functions as F

    return records.select(
        F.col("l_partkey").alias("key"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )


def mrbg_reduce(edges):
    """Per part: line count, total cents, largest quantity, and the
    order holding the priciest line (ties -> lowest order key).  The
    last is an order statistic, so only an edge-level merge can keep it
    current; all arithmetic is on integers."""
    from pyspark.sql import Window, functions as F

    top = F.max("cents").over(Window.partitionBy("key"))
    return (
        edges.withColumn("_top", top)
        .groupBy("key")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("cents").alias("total_cents"),
            F.max("qty").alias("max_qty"),
            F.min(F.when(F.col("cents") == F.col("_top"), F.col("l_orderkey")))
            .alias("top_order"),
        )
    )


def storage_bytes(spark) -> int:
    """Memory plus disk bytes of every RDD block the session holds."""
    return sum(int(i.memSize()) + int(i.diskSize())
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def held_bytes(spark) -> int:
    """Blocks the session still holds after forced GCs on both sides of
    the gateway.  The JVM's ContextCleaner drops the blocks of
    unreachable RDDs asynchronously, and the first round often frees
    only the Python side's references, so rounds repeat, at least
    three, until a reading equals the one before."""
    readings = []
    while len(readings) < 8:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
        readings.append(storage_bytes(spark))
        if len(readings) >= 3 and readings[-1] == readings[-2]:
            break
    return readings[-1]


class MRBGWorkload:
    """Initial load on a seeded 90% of lineitem, then one seeded
    insert/delete delta per size class.  The sequence, its materialized
    inputs and the expected result after each step are made once per
    run; every pass builds a new store from them and checks each result.
    After the timed calls a pass also times a from-scratch Spark
    recompute of the final records, the cost a refresh has to beat."""

    name = "mrbg_delta"

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.refresh: dict[str, list[float]] = {c: [] for c in DELTA_CLASSES}
        self.recompute: list[float] = []

    def start_oracle(self, data_dir: str) -> None:
        """Nothing to fetch: the expected results are made in setup."""

    def setup(self, spark, data_dir: str) -> None:
        self.spark = spark
        self.inputs_dir = os.path.join(os.path.dirname(data_dir), "mrbg_inputs")
        self.table = pq.read_table(f"{data_dir}/lineitem.parquet",
                                   columns=MRBG_COLUMNS)
        self.base = self.table.to_pandas()
        partkey = self.base["l_partkey"].to_numpy()
        counts = deltas.initial_counts(len(self.base), self.seed)
        self.seq = deltas.delta_sequence(counts, DELTA_CLASSES, self.seed)
        self.initial = self._records("initial", deltas.expand(counts))
        self.inputs = [(self._records(f"{d.size_class}.inserts", d.inserts),
                        self._records(f"{d.size_class}.deletes", d.deletes))
                       for d in self.seq]
        self.expected = [reference_reduce(self.base.iloc[deltas.expand(counts)])]
        self.stats: list[dict[str, int]] = []
        for d in self.seq:
            counts = deltas.apply(counts, d)
            keys = np.unique(partkey[np.concatenate([d.inserts, d.deletes])])
            self.stats.append({
                "affected_edges": int(counts[np.isin(partkey, keys)].sum()),
                "edges_rows": int(counts.sum()),
            })
            self.expected.append(reference_reduce(
                self.base.iloc[deltas.expand(counts)]))
        # the Spark recompute after the whole sequence, timed once a pass
        self.survivors = self._records("survivors", deltas.expand(counts))

    def _records(self, name: str, rows: np.ndarray):
        """Materialized record frame holding the given rows (repeats
        kept).  The rows are written as four parquet files, so that the
        frame has four partitions; reading them back is faster than
        sending them from pandas."""
        path = os.path.join(self.inputs_dir, name)
        os.makedirs(path)
        for i, part in enumerate(np.array_split(rows, 4)):
            pq.write_table(self.table.take(part), os.path.join(path, f"part-{i}.parquet"))
        return self.spark.read.parquet(path).localCheckpoint(eager=True)

    def run_pass(self, tracer: Tracer, noop: bool = False) -> PassResult:
        from i2mapreduce_spark.plans.iterate import release_checkpoint
        from i2mapreduce_spark.streaming.incremental import MRBGStore

        store = MRBGStore(mrbg_map, mrbg_reduce, key="key")
        steps = [("initial", "mrbg.initial", {},
                  lambda: store.initial(self.initial))]
        for d, (ins, dels), stats in zip(self.seq, self.inputs, self.stats):
            steps.append((f"delta.{d.size_class}", "mrbg.apply_delta",
                          {"size_class": d.size_class, **stats},
                          lambda ins=ins, dels=dels: store.apply_delta(
                              inserts=ins, deletes=dels)))
        outcomes: list[Outcome] = []
        wall = check_s = 0.0
        held = held_bytes(self.spark) if tracer.enabled else 0
        with tracer.span("pass"):
            for (name, span_name, attrs, call), want in zip(steps, self.expected):
                t0 = time.perf_counter()
                try:
                    with tracer.span(span_name, **attrs) as s:
                        call()
                except Exception as exc:
                    dt = time.perf_counter() - t0
                    wall += dt
                    outcomes.append(_failed(name, dt, exc))
                    break  # the store is in an unknown state
                dt = time.perf_counter() - t0
                wall += dt
                o = Outcome(name, dt)
                outcomes.append(o)
                if span_name == "mrbg.apply_delta":
                    self.refresh[attrs["size_class"]].append(dt)
                # the result is collected and checked at once, so that no
                # superseded result is read later; this and the storage
                # reading of a traced pass are outside the timed calls
                t0 = time.perf_counter()
                with tracer.span("untimed"):
                    _check(o, store.results, want)
                    if s is not None:
                        s.attrs.update(affected_keys=store.last_affected_keys,
                                       held_before=held,
                                       stored_after=storage_bytes(self.spark))
                        held = s.attrs["held_after"] = held_bytes(self.spark)
                check_s += time.perf_counter() - t0

        # the recompute: map and reduce from scratch over the records the
        # sequence leaves, pinned the way the store pins its results
        t0 = time.perf_counter()
        try:
            with tracer.span("mrbg.recompute"):
                fresh = mrbg_reduce(mrbg_map(self.survivors)).localCheckpoint(eager=True)
        except Exception as exc:
            dt = time.perf_counter() - t0
            outcomes.append(_failed("recompute", dt, exc))
            outcomes[-1].timed = False
            return PassResult(wall, outcomes, check_s)
        o = Outcome("recompute", time.perf_counter() - t0, timed=False)
        self.recompute.append(o.wall_s)
        outcomes.append(o)
        t0 = time.perf_counter()
        _check(o, fresh, self.expected[-1])
        release_checkpoint(fresh)
        return PassResult(wall, outcomes, check_s + time.perf_counter() - t0)

    def timings(self) -> dict[str, list[float]]:
        out = {f"refresh_s.{c}": v for c, v in self.refresh.items() if v}
        out["recompute_s"] = self.recompute
        return out


#: columns of mrbg_reduce's output, in comparison order
RESULT_COLUMNS = ["key", "n_lines", "total_cents", "max_qty", "top_order"]


def _check(o: Outcome, frame, want: pd.DataFrame) -> None:
    """Collect `frame` and compare it with the pandas reduce; a failed
    collect counts as a failed job, like a wrong result."""
    try:
        got = _canonical(frame.toPandas())
    except Exception as exc:
        o.ok = False
        o.detail = "collect failed: " + "".join(
            traceback.format_exception_only(exc)).strip()
        return
    o.rows = len(got)
    if not got.equals(want):
        o.ok, o.detail = False, "result differs from the pandas reduce"


def _canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    return (pdf[RESULT_COLUMNS].astype("int64")
            .sort_values("key", ignore_index=True))


def reference_reduce(records: pd.DataFrame) -> pd.DataFrame:
    """mrbg_map + mrbg_reduce in pandas: the oracle for every result."""
    e = pd.DataFrame({
        "key": records["l_partkey"].to_numpy(),
        "l_orderkey": records["l_orderkey"].to_numpy(),
        "qty": records["l_quantity"].to_numpy().astype("int64"),
        "cents": np.round(records["l_extendedprice"].to_numpy() * 100).astype("int64"),
    })
    g = e.groupby("key")
    top = e["cents"] == g["cents"].transform("max")
    out = pd.DataFrame({
        "n_lines": g.size(),
        "total_cents": g["cents"].sum(),
        "max_qty": g["qty"].max(),
        "top_order": e[top].groupby("key")["l_orderkey"].min(),
    }).reset_index()
    return _canonical(out)


#: graph_fixpoint runs on a smaller fixture than the other workloads: its
#: keys are dominated by per-round scheduling, and at sf0.1 one pass
#: (~24 s) leaves no room for repeated passes within a run
GRAPH_SF = 0.01
WORKLOADS = ("headline", "graph_fixpoint", "mrbg_delta")


def make(name: str, seed: int):
    """The workload object and the scale factor of its generated data."""
    if name == "headline":
        return QueryWorkload(name, HEADLINE), 0.1
    if name == "graph_fixpoint":
        return QueryWorkload(name, GRAPH_KEYS), GRAPH_SF
    if name == "mrbg_delta":
        return MRBGWorkload(seed), 0.1
    raise ValueError(f"unknown workload {name!r}")
