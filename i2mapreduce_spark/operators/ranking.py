"""Distributed total-order ranking without a single-partition window.

An unpartitioned ``Window.orderBy(...)`` moves EVERY row to one task —
the classic scale-killer Spark itself warns about ("No Partition Defined
for Window operation").  For a unique total order the global rank is
computable fully distributed with a chunked-offset construction
(``_ranged`` below; the incremental engine's deterministic event
chunking, streaming/incremental.py:chunk_events, is built on
:func:`global_row_number`):

1. ``repartitionByRange`` on the order key — rows land in globally
   ordered, parallel range partitions;
2. per-partition ``row_number`` — parallel, partition-local sort only;
3. add the cumulative row count of all earlier partitions — one
   n_partitions-row aggregate collected to the driver (bounded: one long
   per partition, independent of data size).

Because the order key is a UNIQUE total order, the result is
bit-identical to ``row_number() OVER (ORDER BY ...)`` regardless of
where the range boundaries land.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["global_row_number", "global_running_sum"]


def _ranged(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int | None,
    *partials: Column,
) -> tuple[DataFrame, dict]:
    """The shared prelude: range-partition ``df`` on ``order_cols``, sort
    within partitions, tag each row with its partition id ``_pid``, and
    pin the ids to the data with an eager localCheckpoint (at 100 TB use
    reliable checkpoint()/a persisted stage boundary instead — same call
    site).  Returns (ranged frame, {pid: Row of ``partials``}) — the
    partials are aggregated per partition and collected: one row per
    partition, bounded independent of data size."""
    if num_partitions is None:
        n_conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        num_partitions = int(n_conf)
    ranged = (
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partition ids with the data
    )
    per_pid = {
        r["_pid"]: r for r in ranged.groupBy("_pid").agg(*partials).collect()
    }
    return ranged, per_pid


def _by_pid(values: dict, cast=None) -> Column:
    """``values[_pid]`` as a Column: a literal map lookup over the
    (bounded) partition ids, values optionally cast to ``cast``."""
    def lit(v):
        return F.lit(v) if cast is None else F.lit(v).cast(cast)

    return F.element_at(
        F.create_map(
            *[c for pid in sorted(values) for c in (F.lit(pid), lit(values[pid]))]
        ),
        F.col("_pid"),
    )


def _earlier_sums(per_pid: dict, col: str) -> dict:
    """{pid: sum of ``col`` over all EARLIER partitions} (NULL sums as 0)."""
    offsets, acc = {}, 0
    for pid in sorted(per_pid):
        offsets[pid] = acc
        acc += per_pid[pid][col] or 0
    return offsets


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "i",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append 1-based global ``row_number`` under ``order_cols`` (must be
    a unique total order for determinism) as ``out_col``.

    Scale: the only global coordination is the per-partition-count
    collect (``num_partitions`` longs); everything row-wise stays
    parallel.
    """
    ranged, counts = _ranged(
        df, order_cols, num_partitions, F.count("*").alias("cnt")
    )
    offsets = _by_pid(_earlier_sums(counts, "cnt"))
    wp = Window.partitionBy("_pid").orderBy(*order_cols)
    return ranged.withColumn(
        out_col, (F.row_number().over(wp) + offsets).cast("long")
    ).drop("_pid")


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Append running ``SUM(c)`` for each ``c`` in ``sum_cols`` under the
    unique total order ``order_cols`` as ``cum_<c>`` — the prefix-sum
    twin of :func:`global_row_number`, and the distributed replacement
    for an unpartitioned cumulative window:

    1. range-partition + sort locally (parallel);
    2. per-partition RUNNING sums (parallel, partition-local);
    3. add the total of all earlier partitions — one bounded collect of
       ``num_partitions`` partial sums per column, independent of rows.

    Identical to ``SUM(c) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``
    for any placement of the range boundaries, because integer/decimal
    addition is associative (use only exact-typed columns here — float
    prefix sums would be boundary-dependent).
    """
    out, totals = _ranged(
        df, order_cols, num_partitions, *[F.sum(c).alias(c) for c in sum_cols]
    )
    wp = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in sum_cols:
        offsets = _by_pid(_earlier_sums(totals, c))
        out = out.withColumn(f"cum_{c}", (F.sum(c).over(wp) + offsets).cast("long"))
    return out.drop("_pid")


def global_running_max_excl(
    df: DataFrame,
    order_cols: list[str],
    max_col: str,
    out_col: str = "pre_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append the EXCLUSIVE running ``MAX(max_col)`` under the unique
    total order ``order_cols`` — the max over all STRICTLY EARLIER rows
    (NULL for the global first row), i.e.
    ``MAX(c) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    PRECEDING)`` without the single-partition window.  Same chunked
    scheme as :func:`global_running_sum` (max is associative too):
    range-partition, partition-local exclusive running max, then fold in
    the max of all earlier partitions via one bounded collect."""
    ranged, totals = _ranged(
        df, order_cols, num_partitions, F.max(max_col).alias("mx")
    )
    offsets, acc = {}, None
    for pid in sorted(totals):
        offsets[pid] = acc  # max over all EARLIER partitions (None if none)
        t = totals[pid]["mx"]
        acc = t if acc is None or (t is not None and t > acc) else acc
    wp = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # cast offsets to max_col's own type: a hard 'long' cast would
    # silently truncate double/decimal maxima; explicit cast also because
    # the first partition's offset is None and a bare NULL literal would
    # break map value-type inference
    off_expr = _by_pid(offsets, cast=ranged.schema[max_col].dataType)
    local = F.max(max_col).over(wp)
    return ranged.withColumn(out_col, F.greatest(local, off_expr)).drop("_pid")
