"""Incremental / streaming engine — the Spark realization of the
reference's headline feature set (SURVEY §2A ops A11-A13):

- MRBG-Store preserve+merge  -> Structured Streaming state (stateful
  aggregation state store) or, batch-side, :func:`fold_delta` — a
  key-local merge of preserved per-key aggregates with a delta batch's
  partial aggregates.
- delta-input change detection (A12) -> a file-source stream picking up
  new chunk files; only the new chunk is read per micro-batch.
- incremental restart (A13) -> :func:`fold_delta` seeded with prior state.

Scale notes (100 TB): the fold is a union of state (O(keys)) with the
delta's *partial* aggregate (map-side combined, O(delta keys)) followed by
a key-grouped merge — the shuffle carries keys, never raw events.  With
state stored bucketed-by-key the merge is co-partitioned and shuffle-free;
in Structured Streaming the same role is played by the RocksDB state store
(`spark.sql.streaming.stateStore.providerClass`), which scales state off
the executor heap.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..operators.ranking import global_row_number

__all__ = [
    "MRBGStore",
    "chunk_events",
    "fold_delta",
    "fold_delta_ops",
    "stream_over_chunks",
]


def chunk_events(
    spark: SparkSession,
    events: DataFrame,
    n: int = 3,
    late_every: int | None = None,
) -> list[DataFrame]:
    """Split events into `n` chronological chunks (the reference's delta
    inputs, A12: each chunk is one arriving batch of records).

    Deterministic: exact ntile semantics over the total order
    (ts, event_id) — but computed WITHOUT a single-partition global
    window: the global rank is operators.ranking.global_row_number
    (per-partition row_number plus the count of earlier range
    partitions — bounded Spark-driver state).  Because (ts, event_id) is a
    unique total order, the rank — and therefore the chunk — is
    independent of where the range boundaries land, so the assignment
    is bit-identical to the old global-ntile one.  With
    `late_every` set, events from the FIRST chunk whose event_id is
    divisible by it are displaced into the LAST chunk — out-of-order
    "late" arrivals for watermark tests.
    """
    ranked = global_row_number(events, ["ts", "event_id"], out_col="_i")
    # a scan of the pinned range partitions: the unread rank window is
    # pruned from the count's plan
    total = ranked.count()
    rank = F.col("_i") - 1
    # exact ntile(n) from the 0-based global rank: the first (total % n)
    # tiles get ceil(total/n) rows, the rest floor(total/n)
    q, rem = divmod(total, n)
    big = rem * (q + 1)
    chunk = F.when(rank < big, (rank / (q + 1)).cast("int")).otherwise(
        (F.lit(rem) + (rank - big) / q).cast("int") if q else F.lit(n - 1)
    )
    tiled = ranked.withColumn("_chunk", chunk).drop("_i")
    if late_every:
        tiled = tiled.withColumn(
            "_chunk",
            F.when(
                (F.col("_chunk") == 0) & (F.col("event_id") % late_every == 0),
                F.lit(n - 1),
            ).otherwise(F.col("_chunk")),
        )
    tiled = tiled.localCheckpoint(eager=True)  # pin the tiling
    return [tiled.filter(F.col("_chunk") == i).drop("_chunk") for i in range(n)]


def _land_chunk(chunk: DataFrame, src_dir: str, i: int) -> None:
    """Land `chunk` as arrival `i` of a file-source stream: write it to a
    stage dir, then move its part files flat into `src_dir` — a
    `chunk=i` subdir would be inferred as a partition column and break
    the stream's fixed schema."""
    stage = os.path.join(src_dir, f"_stage_{i}")
    chunk.write.parquet(stage)
    for j, f in enumerate(sorted(os.listdir(stage))):
        if f.endswith(".parquet"):
            os.rename(
                os.path.join(stage, f),
                os.path.join(src_dir, f"chunk-{i}-{j}.parquet"),
            )
    shutil.rmtree(stage, ignore_errors=True)


def stream_over_chunks(
    spark: SparkSession,
    chunks: list[DataFrame],
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str,
    query_name: str,
) -> DataFrame:
    """Feed `chunks` one micro-batch at a time through a file-source
    Structured Streaming query into a memory sink; return the sink table.

    Each chunk is written to the source directory and fully processed
    (`processAllAvailable`) before the next lands — a deterministic replay
    of the reference's delta-input arrival (A12).  `transform` is the SAME
    DataFrame logic the batch query uses: stream-batch equivalence is the
    point (SURVEY §5.2).
    """
    src_dir = tempfile.mkdtemp(prefix=f"i2mr-stream-{query_name}-")
    ckpt_dir = tempfile.mkdtemp(prefix=f"i2mr-ckpt-{query_name}-")
    try:
        schema = chunks[0].schema
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            transform(stream)
            .writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        try:
            for i, chunk in enumerate(chunks):
                _land_chunk(chunk, src_dir, i)
                q.processAllAvailable()
        finally:
            q.stop()
        # materialize: the memory sink table dies with the query's session
        # state eventually; snapshot it for the caller
        return spark.table(query_name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


def stream_over_chunks_foreach(
    spark: SparkSession,
    chunks: list[DataFrame],
    merge_fn: Callable[[DataFrame, int], None],
    query_name: str,
) -> None:
    """foreachBatch variant of stream_over_chunks: each arriving chunk is
    handed to `merge_fn(batch_df, batch_id)` — the Structured Streaming
    hook for sinks Spark has no native writer for (keyed MERGE/upsert
    into a lakehouse table being the canonical one).  The caller owns all
    sink state; this helper only drives the deterministic replay."""
    src_dir = tempfile.mkdtemp(prefix=f"i2mr-feb-{query_name}-")
    ckpt_dir = tempfile.mkdtemp(prefix=f"i2mr-febckpt-{query_name}-")
    try:
        stream = spark.readStream.schema(chunks[0].schema).parquet(src_dir)
        q = (
            stream.writeStream.foreachBatch(merge_fn)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        try:
            for i, chunk in enumerate(chunks):
                _land_chunk(chunk, src_dir, i)
                q.processAllAvailable()
        finally:
            q.stop()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


def stream_over_two_sources(
    spark: SparkSession,
    left_chunks: list[DataFrame],
    right_chunks: list[DataFrame],
    transform: Callable[[DataFrame, DataFrame], DataFrame],
    output_mode: str,
    query_name: str,
) -> DataFrame:
    """Two-stream variant of stream_over_chunks for stream-stream joins:
    two file sources advance in lockstep (left chunk i, right chunk i,
    then processAllAvailable) so both watermarks move together — the
    deterministic replay of two correlated delta feeds."""
    dirs = [tempfile.mkdtemp(prefix=f"i2mr-2stream-{query_name}-{s}-")
            for s in ("l", "r", "ckpt")]
    try:
        streams = [
            spark.readStream.schema(chunks[0].schema).parquet(d)
            for chunks, d in ((left_chunks, dirs[0]), (right_chunks, dirs[1]))
        ]
        q = (
            transform(*streams)
            .writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", dirs[2])
            .start()
        )
        try:
            for i in range(max(len(left_chunks), len(right_chunks))):
                for chunks, d in ((left_chunks, dirs[0]), (right_chunks, dirs[1])):
                    if i < len(chunks):
                        _land_chunk(chunks[i], d, i)
                q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(query_name).localCheckpoint(eager=True)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def fold_delta(
    state: DataFrame | None,
    delta: DataFrame,
    key_cols: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n",
) -> DataFrame:
    """A11's MRBG merge, batch form: merge preserved per-key aggregates
    with one delta batch, touching only additive aggregate state.

    `state` holds (key_cols, count_col, *sum_cols.keys()); `delta` is raw
    records.  The delta is partially aggregated first (map-side combine,
    ref op A2), then merged key-locally with the preserved state — the
    exact read-merge-write the MRBG-Store performs per changed key.
    Returns the new state (same schema), ready for the next fold or a
    final readout.
    """
    aggs = [F.count("*").alias(count_col)] + [
        F.sum(src).alias(dst) for dst, src in sum_cols.items()
    ]
    partial = delta.groupBy(*key_cols).agg(*aggs)
    if state is None:
        return partial
    merged_aggs = [F.sum(count_col).alias(count_col)] + [
        F.sum(dst).alias(dst) for dst in sum_cols
    ]
    return state.unionByName(partial).groupBy(*key_cols).agg(*merged_aggs)


def fold_delta_ops(
    state: DataFrame | None,
    delta: DataFrame,
    key_cols: list[str],
    sum_cols: dict[str, str],
    op_col: str = "op",
    count_col: str = "n",
) -> DataFrame:
    """A12's full delta-input contract: records tagged '+' (insert) or '-'
    (delete).  Deletes RETRACT from the preserved state — the signed merge
    the MRBG-Store performs when a record disappears from the input.

    Additive aggregates retract exactly (count -= 1, sum -= value); keys
    whose count reaches zero leave the state entirely, so a fully-deleted
    key is indistinguishable from one never seen — asserted in tests.
    """
    sign = F.when(F.col(op_col) == "-", F.lit(-1)).otherwise(F.lit(1))
    partial = delta.groupBy(*key_cols).agg(
        F.sum(sign).alias(count_col),
        *[F.sum(sign * F.col(src)).alias(dst) for dst, src in sum_cols.items()],
    )
    merged = (
        partial
        if state is None
        else state.unionByName(partial)
        .groupBy(*key_cols)
        .agg(
            F.sum(count_col).alias(count_col),
            *[F.sum(dst).alias(dst) for dst in sum_cols],
        )
    )
    return merged.filter(F.col(count_col) != 0)


class MRBGStore:
    """The reference's MRBG-Store (ref op A11, PAPER §4-5) as preserved
    intermediate state over DataFrames: keep every intermediate (K2, V2)
    edge of a map/reduce job; on a delta input, re-run map ONLY on the
    delta, splice the changed edges into the preserved set, and re-reduce
    ONLY the affected K2 groups.

    Unlike :func:`fold_delta` (additive aggregates only), this supports
    ARBITRARY reduce functions — the merge happens at the intermediate-KV
    level, exactly like the reference, so the reduce can be a median, a
    top-k, a string-agg, anything.

    Scale notes (100 TB): `edges` is the big preserved table — keep it
    bucketed by `key` on disk so the anti-join splice and the re-reduce
    shuffle only the affected partitions; `results` is O(distinct keys).
    The affected-key set is derived map-side from the delta (small) and
    broadcast into both joins by AQE.
    """

    def __init__(self, map_fn: Callable[[DataFrame], DataFrame],
                 reduce_fn: Callable[[DataFrame], DataFrame],
                 key: str = "key"):
        """`map_fn`: input records -> intermediate (key, ...) edge rows.
        `reduce_fn`: intermediate edges -> one result row per key group.
        `key`: the K2 grouping column name in the intermediate schema."""
        self.map_fn = map_fn
        self.reduce_fn = reduce_fn
        self.key = key
        self.edges: DataFrame | None = None      # preserved (K2, V2)
        self.results: DataFrame | None = None    # reduce output per K2
        self.last_affected_keys = 0              # observability for tests

    def _pin(self, df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    def initial(self, records: DataFrame) -> DataFrame:
        """Full first run: map all records, preserve edges, reduce all."""
        self.edges = self._pin(self.map_fn(records))
        self.results = self._pin(self.reduce_fn(self.edges))
        self.last_affected_keys = -1
        return self.results

    def apply_delta(self, inserts: DataFrame | None = None,
                    deletes: DataFrame | None = None) -> DataFrame:
        """Incremental run (PAPER §4.1): map the delta, splice preserved
        edges, re-reduce only affected K2 groups, patch results.

        `deletes` are input records disappearing from the dataset: their
        mapped edges are removed from the preserved set (matched on all
        intermediate columns, bag semantics via a per-row occurrence
        number, so duplicate edges delete one-for-one).
        """
        assert self.edges is not None, "call initial() first"
        k = self.key
        new_edges = self.map_fn(inserts) if inserts is not None else None
        dead_edges = self.map_fn(deletes) if deletes is not None else None

        affected = None
        for d in (new_edges, dead_edges):
            if d is not None:
                keys = d.select(k).distinct()
                affected = keys if affected is None else affected.union(keys).distinct()
        if affected is None:
            return self.results
        self.last_affected_keys = affected.count()

        edges = self.edges
        if dead_edges is not None:
            # bag-aware removal: number duplicate edges on both sides and
            # anti-join on (edge columns, occurrence)
            cols = edges.columns
            w = Window.partitionBy(*cols).orderBy(F.lit(1))
            numbered = edges.withColumn("_occ", F.row_number().over(w))
            dead_numbered = dead_edges.withColumn(
                "_occ", F.row_number().over(Window.partitionBy(*cols).orderBy(F.lit(1)))
            )
            edges = numbered.join(dead_numbered, [*cols, "_occ"], "left_anti").drop("_occ")
        if new_edges is not None:
            edges = edges.unionByName(new_edges)
        self.edges = self._pin(edges)

        # re-reduce ONLY the affected groups, patch them into results
        touched = self.edges.join(affected, k, "left_semi")
        fresh = self.reduce_fn(touched)
        kept = self.results.join(affected, k, "left_anti")
        self.results = self._pin(kept.unionByName(fresh))
        return self.results
