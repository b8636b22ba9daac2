"""Distributed prefix-scan primitives: exact global row_number /
running sum / running max WITHOUT a single-partition window.

Why this module exists (round 10): the spine audit (tools/
audit_shuffles.py WSPINE) proved that several queries ran
``Window.orderBy(...)`` with no partitionBy over inputs that GROW with
the scale factor (per-customer/per-part aggregates, value histograms).
A single-partition window serializes its whole input through one task
— fine over a 30-row day spine, a 100-TB red flag over a billion-row
customer table.  These helpers give the same EXACT semantics with the
classic two-phase scan:

1. ``repartitionByRange(P, order)`` — range shuffle on the scan order;
   partition i holds a contiguous, disjoint slice of the total order.
2. a LOCAL window per range partition (partitionBy the partition id) —
   P-way parallel, never single-partition over data-scale input;
3. per-partition totals (P rows, a CONSTANT-sized spine) scanned with
   an ordinary window to exclusive prefix offsets, broadcast back.

Correctness does not depend on where the range sampler places the
boundaries: under a STRICT total order (callers must include a unique
tiebreak column — e.g. ``(revenue DESC, custkey ASC)``) every row's
set of predecessors is boundary-invariant, so local-rank + prefix-count
(or local-cumsum + prefix-sum, local-cummax + prefix-max) equals the
global scan exactly.  That also makes the result stable under the
7-vs-32 shuffle-partition sweep even though the sampled boundaries may
differ.

Scale shape per call: ONE range shuffle of the input (the same data
volume a global sort-window would shuffle, but into P parallel tasks
instead of 1), read by both the local windows and the offsets, one
P-row aggregate + P-row broadcast.  P defaults to the session's shuffle
partitions.  Both readers must see the same split, so they share one
exchange through Spark's exchange reuse: every input column rides as a
trailing range key, which keeps the two readers' plans identical, so
the input must hold no MAP column.  When ``spark.sql.exchange.reuse``
is off the split is persisted instead and registered with ``caching``
— the caller then releases it with ``caching.scope()``/``release()``
after its action.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from martech_pipelines_spark import caching

_PID = "__scan_pid"


def _ranged(df: DataFrame, order_cols: list[Column], num_ranges: int | None):
    if num_ranges is None:
        num_ranges = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    # The offsets and the local ranks must come from ONE range split:
    # every execution of a range exchange samples its own bounds, so the
    # two consumers of ``d`` must read the same exchange.  Trailing range
    # keys on every column leave the strict order unchanged but keep all
    # columns under the exchange in both consumers, so their plans are
    # identical and Spark runs the split once and reuses it.  With
    # exchange reuse switched off, one lazy persist shares the split.
    keys = [*order_cols, *(F.asc(c) for c in df.columns)]
    d = df.repartitionByRange(num_ranges, *keys).withColumn(
        _PID, F.spark_partition_id()
    )
    if df.sparkSession.conf.get("spark.sql.exchange.reuse", "true").lower() != "true":
        d = caching.register(d.persist())
    local = Window.partitionBy(_PID).orderBy(*order_cols)
    spine = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    return d, local, spine


def ranged_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "rn",
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY order_cols)`` as a
    two-phase scan.  ``order_cols`` MUST be a strict total order.
    One range split per call (module docstring); with exchange reuse
    off it is persisted and registered with ``caching``."""
    d, local, spine = _ranged(df, order_cols, num_ranges)
    counts = d.groupBy(_PID).agg(F.count("*").alias("__n"))
    prefix = counts.select(
        _PID, F.coalesce(F.sum("__n").over(spine), F.lit(0)).alias("__off")
    )
    return (
        d.withColumn("__lrn", F.row_number().over(local))
        .join(F.broadcast(prefix), _PID)
        .withColumn(out_col, (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop(_PID, "__lrn", "__off")
    )


def ranged_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    out_col: str = "cum",
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact global running sum of ``value`` over the strict total order
    ``order_cols`` (inclusive frame: unboundedPreceding..currentRow).
    The value's sum type (e.g. DECIMAL) is preserved end to end — the
    prefix offsets are summed by the engine, never through Python.
    One range split per call (module docstring); with exchange reuse
    off it is persisted and registered with ``caching``."""
    d, local, spine = _ranged(df, order_cols, num_ranges)
    d = d.withColumn("__v", value)
    totals = d.groupBy(_PID).agg(F.sum("__v").alias("__t"))
    prefix = totals.select(_PID, F.sum("__t").over(spine).alias("__off"))
    local_cum = F.sum("__v").over(
        local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("__lc", local_cum)
        .join(F.broadcast(prefix), _PID)
        .withColumn(
            out_col,
            F.when(F.col("__off").isNull(), F.col("__lc")).otherwise(
                F.col("__lc") + F.col("__off")
            ),
        )
        .drop(_PID, "__v", "__lc", "__off")
    )


def ranged_cummax_prev(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    out_col: str = "prev_max",
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact global running max of ``value`` over all STRICTLY PRECEDING
    rows in the total order (exclusive frame: unboundedPreceding..-1;
    null for the first row) — the skyline/frontier scan shape.
    One range split per call (module docstring); with exchange reuse
    off it is persisted and registered with ``caching``."""
    d, local, spine = _ranged(df, order_cols, num_ranges)
    d = d.withColumn("__v", value)
    totals = d.groupBy(_PID).agg(F.max("__v").alias("__t"))
    prefix = totals.select(_PID, F.max("__t").over(spine).alias("__off"))
    local_prev = F.max("__v").over(
        local.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.withColumn("__lp", local_prev)
        .join(F.broadcast(prefix), _PID)
        # greatest() skips nulls (returns the largest non-null), which is
        # exactly the fold we need across the two partial maxima
        .withColumn(out_col, F.greatest("__lp", "__off"))
        .drop(_PID, "__v", "__lp", "__off")
    )


def ntile_from_rn(rn: Column, n: Column, k: int) -> Column:
    """Spark/ANSI ``ntile(k)`` bucket from a 1-based global row number
    ``rn`` and the total row count ``n`` (ride ``n`` in as a broadcast
    1-row scalar): the first ``n % k`` buckets get ``n div k + 1`` rows,
    the rest ``n div k`` — integer arithmetic only."""
    small = F.floor(n / k).cast("long")  # base bucket size (exact: n < 2^53)
    big = small + 1  # size of the first n % k buckets
    n_big = (n % k).cast("long")
    cut = n_big * big  # rows covered by the big buckets
    # when n < k every row lands in a big bucket (cut == n), so the
    # otherwise branch never fires for a real row — but guard its
    # divisor anyway so no row ever divides by zero
    small_safe = F.greatest(small, F.lit(1))
    return (
        (
            F.when(rn <= cut, F.floor((rn - 1) / big) + 1).otherwise(
                n_big + F.floor((rn - cut - 1) / small_safe) + 1
            )
        ).cast("int")
    )
