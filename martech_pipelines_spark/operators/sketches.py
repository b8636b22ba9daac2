"""Mergeable-sketch operators: incremental distinct counts via HLL.

``r3b`` covers one-shot approximate distinct; this module covers the
100-TB shape that actually matters: distinct counts over DATA THAT KEEPS
ARRIVING. Recomputing exact distinct per run re-scans the full history;
an HLL sketch per key is a small mergeable state — union the new batch's
sketches into the stored ones and estimate, never touching history
again (the same IVM asymmetry as ``cdc.incremental_agg_update``, for a
non-distributive aggregate).

Determinism note: Spark's datasketches HLL is a deterministic function
of the input multiset (fixed lgK, no RNG), so union-of-batch-sketches
equals the full-corpus sketch BIT-FOR-BIT — pinned in tests. The
estimate differs from exact count (that is the trade), so the corpus
query is rows-only with error/mergeability gates in pytest.

Incremental capabilities (one ``state`` / ``merge`` / ``readout`` each;
the section comment above each states its contract once): the batch
query is ``readout(state(all))``, and its ``h*`` twin and the streaming
fold in ``streaming/stream.py`` call the same functions.  Here: the
fixed-grid price histogram, the exact value-histogram percentiles and
the deterministic HLL registers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from martech_pipelines_spark.operators.transforms import sum_merge


def distinct_sketch_table(
    df: DataFrame, key_cols: str | list[str], col: str, lgk: int = 12
) -> DataFrame:
    """Per-key HLL sketch of ``col``: (keys..., sketch binary). The
    sketch column is the MERGEABLE state a distinct-count view stores
    instead of the raw history."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lgk)).alias("sketch")
    )


def merge_sketch_tables(
    base: DataFrame, delta: DataFrame, key_cols: str | list[str]
) -> DataFrame:
    """Fold a new batch's sketch table into the stored one: union + one
    keyed ``hll_union_agg``. Only the delta was freshly aggregated; the
    base rows are opaque state."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return (
        base.unionByName(delta)
        .groupBy(*keys)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
    )


def estimate_distinct(sketches: DataFrame, out_col: str = "approx_distinct") -> DataFrame:
    """Read side: sketch -> estimate (bigint)."""
    return sketches.withColumn(
        out_col, F.hll_sketch_estimate("sketch").cast("long")
    ).drop("sketch")


# =============================================================================
# Count-Min sketch (Cormode & Muthukrishnan 2005): mergeable frequency
# state. Unlike HLL above, the md5-derived cell hashes make the WHOLE
# sketch deterministic and SQL-portable, so the corpus query (t30)
# carries a FULL value oracle even though the estimates are approximate.
#
# 100-TB posture: the explode fans each token occurrence into `depth`
# cell keys, but partial aggregation collapses every map task's output
# to at most depth*width rows BEFORE the shuffle — the exchange is
# bounded by the sketch size (e.g. 4x64 = 256 cells), not the corpus.
# The materialized sketch is tiny and broadcast to estimate lookups.
# Merging two sketches = cell-wise sum (one keyed agg over 2*depth*width
# rows) — the IVM state for streaming frequency monitoring.
# =============================================================================

from pyspark.sql import Column  # noqa: E402  (module-tail import, stdlib-free)

from martech_pipelines_spark.operators.text import md5_bucket32  # noqa: E402


def _cms_cell(col: Column, r: int, width: int) -> Column:
    """Row-r cell index of a token: md5_bucket32(token, 'cms{r}') % width.

    Salt string 'cms{r}' makes the depth rows pairwise-independent-ish
    hash functions derived from the engine's one portable primitive."""
    return (md5_bucket32(col, f"cms{r}") % F.lit(width)).cast("int")


def countmin_sketch(
    tokens: DataFrame, col: str = "token", depth: int = 4, width: int = 64
) -> DataFrame:
    """Build a Count-Min sketch over a token-occurrence table.

    Returns (r, c, cnt): depth*width cells (cells nobody hashed to are
    absent — readers treat missing as 0). One explode + one keyed agg;
    the shuffle carries at most depth*width rows per map task thanks to
    partial aggregation."""
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"), _cms_cell(F.col(col), r, width).alias("c")
            )
            for r in range(depth)
        ]
    )
    return (
        tokens.select(F.explode(cells).alias("cell"))
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
        .agg(F.count("*").alias("cnt"))
    )


def countmin_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum of two sketches — the mergeable-state property
    (sketch(A) + sketch(B) == sketch(A ∪ B), pinned exactly in pytest)."""
    return a.unionByName(b).groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str = "token",
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-estimate each probe token's frequency: min over the depth
    rows of its cell counts (missing cell = 0). The sketch is broadcast
    (<= depth*width rows); probes are never shuffled — estimation is a
    map-side broadcast join + one per-row min."""
    probe_cells = probes.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_cell(F.col(col), r, width).alias("c"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(col, F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
    joined = probe_cells.join(F.broadcast(sketch), ["r", "c"], "left").withColumn(
        "cnt", F.coalesce(F.col("cnt"), F.lit(0))
    )
    return joined.groupBy(col).agg(F.min("cnt").cast("long").alias("cms_est"))


# =============================================================================
# Mergeable equi-width histogram: the percentile analogue of the above.
# Exact percentiles are holistic (not mergeable); a FIXED-bin histogram
# is a tiny additive state that supports rank queries with bin-width
# resolution. Bin edges are spec constants (not data-derived), so
# per-batch histograms merge by plain cell-wise sum and the whole
# pipeline — including the percentile read — is integer-exact and fully
# oracle-checkable (h12).
# =============================================================================


def histogram_sketch(
    df: DataFrame, col: str, lo: float, hi: float, nbins: int
) -> DataFrame:
    """Fixed-edge equi-width histogram: (bin, cnt). Values below lo
    clamp to bin 0; >= hi clamp to the last bin. One keyed agg whose
    shuffle is bounded by nbins per map task (map-side combine)."""
    width = (hi - lo) / nbins
    raw = F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("long")
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
    return df.select(bin_.alias("bin")).groupBy("bin").agg(
        F.count("*").alias("cnt")
    )


def histogram_merge(*states: DataFrame) -> DataFrame:
    """Cell-wise sum of histogram states — additive, same contract as
    countmin_merge.  Every column but ``cnt`` is the cell key, so one
    merge serves ``histogram_sketch``'s (bin), ``price_histogram``'s
    (flag, bin) and ``value_histogram``'s (event_type, y) cells; one
    state folds its own duplicate cells (a stream's per-batch union)."""
    return sum_merge([c for c in states[0].columns if c != "cnt"], *states)


def histogram_percentile_bins(
    hist: DataFrame, percentiles: list[float], lo: float, hi: float, nbins: int
) -> DataFrame:
    """Rank-query read side: for each requested percentile p, the first
    bin whose cumulative count reaches ceil(p * total). All-integer
    arithmetic (bin ids, counts, integer bin edges) — no float
    interpolation, so both engines agree bit-for-bit.

    Output: (pct, bin, bin_lo, bin_hi, cum_cnt, total_cnt); bin_lo/hi
    are the bin's value range — the estimator's resolution statement.
    The window runs over <= nbins rows (a single tiny partition by
    construction), so the global sort is on sketch-sized data."""
    from pyspark.sql import Window

    width = (hi - lo) / nbins
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.withColumn("cum_cnt", F.sum("cnt").over(w))
        .withColumn("total_cnt", F.sum("cnt").over(Window.partitionBy()))
    )
    pcts = hist.sparkSession.createDataFrame(
        [(float(p),) for p in percentiles], "pct double"
    )
    need = F.ceil(F.col("pct") * F.col("total_cnt")).cast("long")
    hit = (
        F.broadcast(pcts)
        .crossJoin(cum)
        .where(F.col("cum_cnt") >= need)
        .groupBy("pct")
        .agg(
            F.min_by(F.struct("bin", "cum_cnt", "total_cnt"), "bin").alias("s")
        )
        .select("pct", "s.bin", "s.cum_cnt", "s.total_cnt")
    )
    return hit.select(
        "pct",
        F.col("bin").cast("long").alias("bin"),
        (F.lit(lo) + F.col("bin") * F.lit(width)).cast("long").alias("bin_lo"),
        (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).cast("long").alias("bin_hi"),
        F.col("cum_cnt").cast("long").alias("cum_cnt"),
        F.col("total_cnt").cast("long").alias("total_cnt"),
    )


# ---------------------------------------------------------------------------
# Fixed-grid price histogram with integer interpolation (r40 / h30 / the
# histogram stream).  State: (flag, bin, cnt) cells on a _R40_W-cent grid;
# merge: ``histogram_merge``; readout: per-flag cumulative over the
# price-domain-bounded bin spine, then est = bin_lo + ((target -
# cum_before) * W) div cnt at target = ceil(n * p / 100) — pure integer
# arithmetic, so the estimate is engine-exact.
# ---------------------------------------------------------------------------

_R40_W = 10_000  # bin width: 10,000 cents = $100
_R40_PS = (50, 90, 99)


def price_histogram(li: DataFrame) -> DataFrame:
    """(flag, bin, cnt) cells of a lineitem batch on the fixed grid."""
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    return (
        li.select(
            F.col("l_returnflag").alias("flag"),
            (cents / _R40_W).cast("long").alias("bin"),
        )
        .groupBy("flag", "bin")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def histogram_quantile_readout(hist: DataFrame) -> DataFrame:
    """(flag, p, n, est_cents) from merged ``price_histogram`` cells."""
    from pyspark.sql import Window

    w = Window.partitionBy("flag").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "flag",
        "bin",
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("cum"),
    )
    totals = hist.groupBy("flag").agg(F.sum("cnt").cast("long").alias("n"))
    targets = totals.select(
        "flag",
        "n",
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in _R40_PS])
        ).alias("p"),
    ).withColumn("target", F.expr("(n * p + 99) div 100"))
    hit = targets.join(
        cum,
        (targets["flag"] == cum["flag"])
        & (cum["cum"] >= targets["target"])
        & (cum["cum"] - cum["cnt"] < targets["target"]),
    )
    est = (
        F.col("bin") * _R40_W
        + F.expr(f"((target - (cum - cnt)) * {_R40_W}) div cnt")
    ).cast("long")
    return hit.groupBy(targets["flag"], "p", "n").agg(
        F.min(est).alias("est_cents")
    )


# ---------------------------------------------------------------------------
# Exact percentiles over a discrete value domain (r29 / h20).  State:
# (event_type, y, cnt) counts of integer paise values — bounded by the
# value domain, not the row count; merge: ``histogram_merge``; readout:
# per-type cumulative over the value histogram and the rank rule
# min{y : cum(y) >= ceil(q * n)} for p50/p90/p99.
# ---------------------------------------------------------------------------


def value_histogram(ev: DataFrame) -> DataFrame:
    """(event_type, y, cnt) counts of non-null ``value`` in paise."""
    return (
        ev.where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("y"),
        )
        .groupBy("event_type", "y")
        .agg(F.count("*").alias("cnt"))
    )


def percentiles_from_histogram(hist: DataFrame) -> DataFrame:
    """(event_type, n, p50, p90, p99) from merged ``value_histogram``
    cells."""
    from pyspark.sql import Window

    wc = (
        Window.partitionBy("event_type")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "y",
        F.sum("cnt").over(wc).alias("c"),
        F.sum("cnt").over(wn).alias("n"),
    )
    aggs = [F.max("n").alias("n")] + [
        F.min(
            F.when(
                F.col("c") >= F.ceil(F.col("n") * F.lit(pq / 100.0)),
                F.col("y"),
            )
        ).alias(name)
        for pq, name in ((50, "p50"), (90, "p90"), (99, "p99"))
    ]
    return cum.groupBy("event_type").agg(*aggs)

# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — the DETERMINISTIC, cross-engine
# value-checkable member of the cardinality-sketch family (round 9).  HLL
# above stays the production mergeable state; KMV's md5-derived hashes are
# bit-identical on Spark and DuckDB, so the SKETCH ALGORITHM itself (build,
# merge, estimate) carries a full oracle (r3c) — the same promotion the ANN
# program got via modular centroids.
# ---------------------------------------------------------------------------

_KMV_M = 4_294_967_296  # hash range: 32-bit md5 prefix + 1 -> [1, 2^32]


def _kmv_hash(col: Column) -> Column:
    """Deterministic 32-bit hash in [1, 2^32]: md5 prefix, the corpus's
    engine-portable hashing idiom (DuckDB: ('0x'||substr(md5(..),1,8))::BIGINT)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv:"), col.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        + 1
    )


def kmv_sketch_table(
    df: DataFrame, key_cols: str | list[str], col: str, k: int = 64
) -> DataFrame:
    """Per-key KMV sketch: the ``k`` smallest DISTINCT hash values of
    ``col`` — (keys..., h) rows, at most k per key.  Mergeable state like
    the HLL table, but order-free and engine-exact.

    Scale shape: distinct-by-group collapses map-side (groupBy key+h),
    then ONE window pass whose rank<=k filter pushes down as
    WindowGroupLimit — the dd17 top-k discipline; the shuffle carries
    pre-combined (key, h) rows, never raw events."""
    from pyspark.sql import Window

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    hx = (
        df.select(*keys, _kmv_hash(F.col(col)).alias("h"))
        .groupBy(*keys, "h")
        .agg(F.lit(1).alias("__one"))
        .drop("__one")
    )
    w = Window.partitionBy(*keys).orderBy(F.col("h").asc())
    return (
        hx.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_merge(a: DataFrame, b: DataFrame, key_cols: str | list[str], k: int = 64) -> DataFrame:
    """Fold two sketch tables: union, re-distinct, keep the k smallest per
    key.  sketch(A ∪ B) == merge(sketch(A), sketch(B)) exactly (k smallest
    of a union = k smallest of the unions' k-smallest) — pinned in pytest."""
    from pyspark.sql import Window

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    u = a.unionByName(b).dropDuplicates([*keys, "h"])
    w = Window.partitionBy(*keys).orderBy(F.col("h").asc())
    return (
        u.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_estimate(
    sketch: DataFrame, key_cols: str | list[str], k: int = 64,
    out_col: str = "kmv_est",
) -> DataFrame:
    """Distinct-count estimate per key: exact (= sketch size) below k
    distinct hashes, else the classic (k-1)/h_(k) estimator as a half-up
    BIGINT — ``(2*(k-1)*M + h_k) div (2*h_k)`` with M = 2^32, the h23
    div-on-both-engines recipe.  Hash collisions undercount identically
    on both engines (same hashes), so the whole estimate is value-exact."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    agg = sketch.groupBy(*keys).agg(
        F.count("*").cast("long").alias("__cnt"), F.max("h").alias("__hk")
    )
    est = F.when(F.col("__cnt") < k, F.col("__cnt")).otherwise(
        F.expr(f"(2 * {k - 1} * CAST({_KMV_M} AS BIGINT) + __hk) div (2 * __hk)")
    )
    return agg.select(*keys, est.cast("long").alias(out_col))


def kmv_theta_setops(sketch: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """Pairwise set-operation estimates from per-key KMV sketches — the
    theta-sketch pattern (Dasgupta et al., "Theta-Sketch Framework"):
    for every key pair (t1 < t2), theta = min of the two sketches'
    k-th-smallest hashes (M+1 when a sketch holds its whole set, the
    exact regime); every retained hash h < theta is a uniform
    theta/M-rate sample of the underlying sets, so

        inter_est = c                       when both sketches exact
                    (2*c*M + theta) div (2*theta)   otherwise (half-up)

    with c = |{h in sk(t1) AND sk(t2), h < theta}|, and the same scaling
    for the union via u = a_lt + b_lt - c.  jaccard_e6 is the exact
    rational c/u on the retained sample (half-up e6; 0 when u = 0).
    Hash collisions bias identically on both engines (same md5 hashes),
    so every output cell is value-exact — this is the full-oracle
    promotion of mart11's pytest-only sketch twin.

    Scale shape: the only corpus-sized work is the sketch build the
    caller already did; this readout self-joins k-row-per-key state —
    pair work is C(|keys|, 2) * k, driver never collects."""
    stats = sketch.groupBy(key_col).agg(
        F.count("*").cast("long").alias("cnt"), F.max("h").alias("hk")
    ).withColumn(
        "theta",
        F.when(F.col("cnt") < k, F.lit(_KMV_M + 1)).otherwise(F.col("hk")),
    )
    s1 = stats.select(F.col(key_col).alias("t1"), F.col("theta").alias("__th1"))
    s2 = stats.select(F.col(key_col).alias("t2"), F.col("theta").alias("__th2"))
    pairs = s1.join(s2, F.col("t1") < F.col("t2")).select(
        "t1", "t2", F.least("__th1", "__th2").alias("theta")
    )
    a = sketch.select(F.col(key_col).alias("t1"), F.col("h").alias("__ha"))
    b = sketch.select(F.col(key_col).alias("t2"), F.col("h").alias("__hb"))
    # per-side retained-below-theta counts (broadcast the tiny pair table)
    a_lt = (
        F.broadcast(pairs).join(a, "t1")
        .where(F.col("__ha") < F.col("theta"))
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("long").alias("__a_lt"))
    )
    b_lt = (
        F.broadcast(pairs).join(b, "t2")
        .where(F.col("__hb") < F.col("theta"))
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("long").alias("__b_lt"))
    )
    common = (
        F.broadcast(pairs).join(a, "t1")
        .join(b, ["t2"])
        .where((F.col("__ha") == F.col("__hb")) & (F.col("__ha") < F.col("theta")))
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("long").alias("__c"))
    )
    out = (
        pairs.join(a_lt, ["t1", "t2"], "left")
        .join(b_lt, ["t1", "t2"], "left")
        .join(common, ["t1", "t2"], "left")
        .select(
            "t1",
            "t2",
            "theta",
            F.coalesce("__a_lt", F.lit(0)).alias("__a_lt"),
            F.coalesce("__b_lt", F.lit(0)).alias("__b_lt"),
            F.coalesce("__c", F.lit(0)).alias("__c"),
        )
        .withColumn("__u", F.col("__a_lt") + F.col("__b_lt") - F.col("__c"))
    )
    exact = F.col("theta") == _KMV_M + 1
    scale = lambda c: F.expr(  # noqa: E731 — (2*c*M + theta) div (2*theta)
        f"(2 * {c} * CAST({_KMV_M} AS BIGINT) + theta) div (2 * theta)"
    )
    return out.select(
        "t1",
        "t2",
        F.when(exact, F.col("__c")).otherwise(scale("__c"))
        .cast("long")
        .alias("kmv_inter_est"),
        F.when(exact, F.col("__u")).otherwise(scale("__u"))
        .cast("long")
        .alias("kmv_union_est"),
        F.when(F.col("__u") > 0, F.expr("(2 * __c * 1000000 + __u) div (2 * __u)"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("sample_jaccard_e6"),
    )


# ---------------------------------------------------------------------------
# Deterministic HLL registers (h7b / the HLL stream).  State:
# (event_type, reg_idx, reg_val) with m = _HLL_M registers indexed by the
# top 5 bits of an md5-derived 32-bit hash of user_id and reg_val = max
# rho, rho = (W + 1) - bitlen(w) over the remaining W = _HLL_WBITS bits
# (W + 1 when w = 0) — bin() lengths, no floats, identical on DuckDB.
# Merge: elementwise register max, idempotent and order-free, so
# merge(registers(A), registers(B)) == registers(A ∪ B) and replays are
# free.  Absent registers read as 0.
# ---------------------------------------------------------------------------

_HLL_M = 32  # 2^5 registers
_HLL_WBITS = 27  # 32 - 5


def hll_registers(ev: DataFrame) -> DataFrame:
    """Register state of an event batch.  Distinct (type, user)
    collapses map-side before hashing; the register reduce is a keyed
    max."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string"))), 1, 8),
        16, 10,
    ).cast("long")
    w = F.col("__h") % F.lit(2 ** _HLL_WBITS)
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    return (
        ev.select("event_type", "user_id")
        .distinct()
        .withColumn("__h", h)
        .select(
            "event_type",
            (F.col("__h") / F.lit(2 ** _HLL_WBITS)).cast("long").alias("reg_idx"),
            rho.alias("__r"),
        )
        .groupBy("event_type", "reg_idx")
        .agg(F.max("__r").cast("long").alias("reg_val"))
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Elementwise register max of two register states."""
    return (
        a.unionByName(b)
        .groupBy("event_type", "reg_idx")
        .agg(F.max("reg_val").cast("long").alias("reg_val"))
    )
