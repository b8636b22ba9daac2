"""Round-6 corpus additions.

``g2b_triangles_support2`` — g2's triangle/clustering stats at
PRODUCTION graph density: co-purchase edges support-thresholded at 2
(a pair must co-occur in >=2 distinct orders to be an edge).  g2 keeps
the support-1 stress form deliberately — it measures exact triangle
enumeration on the densest graph the data can produce — but a 100x
deployment with a growing fact table over a fixed catalog runs the
thresholded form (see ``copurchase_edges_undirected``'s docstring for
why support-1 density inflates quadratically).  Tracking BOTH in the
headline bench pins the stress cost AND the cost a real deployment
pays (VERDICT r5 "Next round" #7).

``s15_label_centroids`` — per-label mean embedding cells under the
round-6 integer-exact contract (the determinism discipline the s12
driver failure forced, applied to the class-conditional first moment).

``h19_incremental_covariance`` — IVM twin for the covariance matrix:
per-batch integer moment frames merged with one keyed sum.  Integer
associativity makes incremental == full recompute BIT-identical, so it
shares s12's oracle — the strongest form of the h6-h18 incremental ==
full contract (those hold up to float tolerance; this holds exactly).

Registers into the shared QUERIES/ORACLE dicts at import time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from martech_pipelines_spark.operators import graph as G
from martech_pipelines_spark.operators import linalg as LA
from martech_pipelines_spark.operators.sketches import (
    histogram_merge,
    percentiles_from_histogram,
    value_histogram,
)
from martech_pipelines_spark.plans.corpus import ORACLE, QUERIES, q  # noqa: F401
from martech_pipelines_spark.plans.corpus_r5d import _S12_ORACLE
from martech_pipelines_spark.sources import load_table


# Same triangle/clustering oracle as g2 but the edge CTE keeps only
# pairs co-purchased in >=2 distinct orders (the deduplicated
# (order, part) projection makes support = distinct co-purchase orders,
# mirroring copurchase_edges_undirected's contract).
_G2B_ORACLE = """
    WITH lp AS (
        SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
    ), und AS (
        SELECT a.p AS a, b.p AS b
        FROM lp a JOIN lp b ON a.k = b.k AND a.p < b.p
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT a AS node FROM und
            UNION ALL
            SELECT b AS node FROM und
        ) ends GROUP BY 1
    ), tri AS (
        SELECT e1.a AS u, e1.b AS v, e2.b AS w
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ), corners AS (
        SELECT node, count(*) AS triangles FROM (
            SELECT u AS node FROM tri
            UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri
        ) c GROUP BY 1
    )
    SELECT node, degree, triangles,
           round(2.0 * triangles / (degree * (degree - 1)), 6) AS clustering
    FROM corners JOIN deg USING (node)
    ORDER BY triangles DESC, node
    LIMIT 20
"""


@q("g2b_triangles_support2", _G2B_ORACLE)
def g2b_triangles_support2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g2's top-20 triangle stats on the support->=2 co-purchase graph —
    the form a growing-fact-table deployment runs.  Identical
    degree-ordered-orientation plan as g2; only the edge build changes
    (the support filter rides the pair aggregation that already
    exists, costing zero extra shuffles)."""
    li = load_table(spark, sf_dir, "lineitem")
    return G.triangle_stats(
        G.copurchase_edges_undirected(li, min_support=2),
        top_n=20,
        undirected=True,
    )


# =============================================================================
# s15: per-label embedding centroids (integer-exact contract).
# =============================================================================

# Mirrors operators/linalg.py:embedding_label_centroids — quantize to
# floor(x*10^6 + 0.5), exact integer sum, integer half-up division at
# 6 dp.  Bit-identical across engines/partitionings by construction.
_S15_ORACLE = """
    WITH e AS (
        SELECT label,
               CAST(i AS INTEGER) - 1 AS dim,
               CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                          * 1000000.0 + 0.5) AS BIGINT) AS xq
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    mo AS (
        SELECT label, dim,
               sum(CAST(xq AS HUGEINT)) * 1000000 AS num,
               CAST(count(*) AS HUGEINT) * 1000000 AS den
        FROM e GROUP BY 1, 2
    )
    SELECT label, dim,
           CAST(CASE WHEN num >= 0 THEN (2*num + den) // (2*den)
                     ELSE -((-2*num + den) // (2*den)) END AS DOUBLE)
           / 1000000.0 AS centroid
    FROM mo
"""


@q("s15_label_centroids", _S15_ORACLE)
def s15_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding as (label, dim, centroid) cells — the
    nearest-centroid / per-class-drift statistic.  One keyed shuffle of
    n*d cells; output is labels*d rows (catalog-bound).  Integer-exact
    like the round-6 covariance: the centroid doubles are bit-identical
    under any partitioning, engine, or summation order."""
    emb = load_table(spark, sf_dir, "embeddings")
    return LA.embedding_label_centroids(
        emb, "label", "embedding", round_dp=6
    )


# =============================================================================
# h19: incremental covariance via mergeable integer moment frames.
# Shares s12's oracle: incremental == full recompute, BIT-identical.
# =============================================================================


# =============================================================================
# mart17: week-over-week churn — the retention complement (mart15 counts
# who RETURNS per cohort; this counts who LEAVES per calendar week).
# =============================================================================

_MART17_ORACLE = """
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(floor(date_diff('day', DATE '2024-01-01',
                                    CAST(ts AS DATE)) / 7.0)
                    AS INTEGER) AS week
        FROM events
    ),
    pairs AS (
        SELECT prev.week + 1 AS week,
               count(*) AS prev_active,
               count(cur.user_id) AS retained
        FROM uw prev
        LEFT JOIN uw cur ON cur.user_id = prev.user_id
                        AND cur.week = prev.week + 1
        GROUP BY 1
    )
    SELECT week, prev_active, retained,
           prev_active - retained AS churned,
           round(CAST(prev_active - retained AS DOUBLE) / prev_active, 4)
               AS churn_rate
    FROM pairs
    WHERE week <= (SELECT max(week) FROM uw)
    ORDER BY week
"""


@q("mart17_churn", _MART17_ORACLE)
def mart17_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week churn: of the users active in week w-1, how many
    came back in week w (retained) vs disappeared (churned).  Plan: ONE
    distinct over (user, week) — the same reduced activity state mart15
    and r31 fold — then a self-equi-join on (user, week+1): keyed
    shuffles only, sized by |user-weeks|, never by raw events.  The
    churn_rate is a single integer-ratio division (deterministic,
    audit-safe).  The final week is excluded: week max(week)+1 has no
    observation window, so its churn is not a fact."""
    ev = load_table(spark, sf_dir, "events")
    # explicit floor on BOTH engines: DuckDB CAST(double AS INTEGER)
    # rounds-to-nearest while Spark .cast("int") truncates — day 25
    # (25/7 = 3.57) must land in week 3 everywhere
    uw = ev.select(
        "user_id",
        F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / F.lit(7.0))
        .cast("int")
        .alias("week"),
    ).distinct()
    cur = uw.select(F.col("user_id").alias("u2"), F.col("week").alias("w2"))
    max_week = uw.agg(F.max("week").alias("mw"))
    pairs = (
        uw.join(
            cur,
            (F.col("u2") == F.col("user_id"))
            & (F.col("w2") == F.col("week") + 1),
            "left",
        )
        .groupBy((F.col("week") + 1).alias("week"))
        .agg(
            F.count("*").alias("prev_active"),
            F.count("u2").alias("retained"),
        )
    )
    return (
        pairs.join(F.broadcast(max_week), pairs.week <= F.col("mw"))
        .select(
            "week",
            "prev_active",
            "retained",
            (F.col("prev_active") - F.col("retained")).alias("churned"),
            F.round(
                (F.col("prev_active") - F.col("retained")).cast("double")
                / F.col("prev_active"),
                4,
            ).alias("churn_rate"),
        )
        .orderBy("week")
    )


# =============================================================================
# dq8: profile drift between two deterministic halves of the events
# stream — the schema/statistics drift monitor a pipeline runs before
# trusting a new data drop (complements dq4's freshness and dp1's
# one-shot profile).
# =============================================================================

_DQ8_Q = 10**6  # value quantization for exact mean comparison

_DQ8_ORACLE = f"""
    WITH halves AS (
        SELECT event_type,
               event_id % 2 AS half,
               value,
               CASE WHEN value IS NULL THEN NULL
                    ELSE CAST(floor(value * {_DQ8_Q}.0 + 0.5) AS BIGINT)
               END AS vq
        FROM events
    ),
    prof AS (
        SELECT event_type, half,
               count(*) AS n,
               count(value) AS n_nonnull,
               sum(CAST(vq AS HUGEINT)) AS svq
        FROM halves GROUP BY 1, 2
    ),
    wide AS (
        SELECT a.event_type,
               a.n AS n_a, b.n AS n_b,
               round(CAST(a.n - a.n_nonnull AS DOUBLE) / a.n, 4) AS null_rate_a,
               round(CAST(b.n - b.n_nonnull AS DOUBLE) / b.n, 4) AS null_rate_b,
               CAST(CASE WHEN a.svq >= 0
                         THEN (2*a.svq*{10**4} + a.n_nonnull*{_DQ8_Q})
                              // (2*a.n_nonnull*{_DQ8_Q})
                         ELSE -((-2*a.svq*{10**4} + a.n_nonnull*{_DQ8_Q})
                              // (2*a.n_nonnull*{_DQ8_Q})) END AS DOUBLE)
                   / {10**4}.0 AS mean_a,
               CAST(CASE WHEN b.svq >= 0
                         THEN (2*b.svq*{10**4} + b.n_nonnull*{_DQ8_Q})
                              // (2*b.n_nonnull*{_DQ8_Q})
                         ELSE -((-2*b.svq*{10**4} + b.n_nonnull*{_DQ8_Q})
                              // (2*b.n_nonnull*{_DQ8_Q})) END AS DOUBLE)
                   / {10**4}.0 AS mean_b
        FROM prof a JOIN prof b
          ON a.event_type = b.event_type AND a.half = 0 AND b.half = 1
    )
    SELECT event_type, n_a, n_b, null_rate_a, null_rate_b, mean_a, mean_b,
           round(abs(mean_a - mean_b), 4) AS mean_shift
    FROM wide
    ORDER BY event_type
"""


@q("dq8_profile_drift", _DQ8_ORACLE)
def dq8_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type statistical profile of two deterministic halves
    (event_id parity — engine-identical split) with the drift between
    them: row counts, null rates, and value means.  Means use the
    round-6 integer-exact discipline (quantized BIGINT sums, integer
    half-up division at 4 dp) so the profile is bit-stable across
    engines — a drift monitor whose own numbers drift would page people
    for nothing.  One keyed aggregation over (type, half); output is
    |event_types| rows."""
    ev = load_table(spark, sf_dir, "events")
    vq = F.when(
        F.col("value").isNull(), F.lit(None).cast("long")
    ).otherwise(F.floor(F.col("value") * F.lit(float(_DQ8_Q)) + F.lit(0.5)))
    prof = (
        ev.select(
            "event_type",
            (F.col("event_id") % 2).alias("half"),
            "value",
            vq.alias("vq"),
        )
        .groupBy("event_type", "half")
        .agg(
            F.count("*").alias("n"),
            F.count("value").alias("n_nonnull"),
            F.sum(F.col("vq").cast("decimal(38,0)")).alias("svq"),
        )
    )
    def _mean(side: str):
        half_up = F.when(
            F.col(f"{side}.svq") >= 0,
            F.expr(
                f"(2*{side}.svq*{10**4} + {side}.n_nonnull*{_DQ8_Q}) div "
                f"(2*{side}.n_nonnull*{_DQ8_Q})"
            ),
        ).otherwise(
            -F.expr(
                f"(-2*{side}.svq*{10**4} + {side}.n_nonnull*{_DQ8_Q}) div "
                f"(2*{side}.n_nonnull*{_DQ8_Q})"
            )
        )
        return (half_up.cast("double") / F.lit(float(10**4)))

    a = prof.where(F.col("half") == 0).alias("a")
    b = prof.where(F.col("half") == 1).alias("b")
    wide = a.join(b, F.col("a.event_type") == F.col("b.event_type")).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(
            (F.col("a.n") - F.col("a.n_nonnull")).cast("double") / F.col("a.n"), 4
        ).alias("null_rate_a"),
        F.round(
            (F.col("b.n") - F.col("b.n_nonnull")).cast("double") / F.col("b.n"), 4
        ).alias("null_rate_b"),
        _mean("a").alias("mean_a"),
        _mean("b").alias("mean_b"),
    )
    return wide.select(
        "*", F.round(F.abs(F.col("mean_a") - F.col("mean_b")), 4).alias("mean_shift")
    ).orderBy("event_type")


# =============================================================================
# r32: revenue deciles via ntile — the windowed bucketing fill-in
# (percent_rank/cume_dist's sibling; r10/r29 cover running windows and
# exact percentiles, nothing covered ntile).
# =============================================================================

_R32_ORACLE = """
    WITH rev AS (
        SELECT o_custkey AS custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1
    ),
    tiled AS (
        SELECT custkey, revenue,
               ntile(10) OVER (ORDER BY revenue DESC, custkey) AS decile
        FROM rev
    )
    SELECT decile,
           count(*) AS n_customers,
           CAST(min(revenue) AS DOUBLE) AS min_revenue,
           CAST(max(revenue) AS DOUBLE) AS max_revenue,
           CAST(sum(revenue) AS DOUBLE) AS total_revenue
    FROM tiled GROUP BY 1 ORDER BY 1
"""


@q("r32_ntile_deciles", _R32_ORACLE)
def r32_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue deciles: per-customer DECIMAL revenue sums,
    ntile(10) over a TOTAL order (revenue DESC, custkey tiebreak — an
    ambiguous ntile order would make the bucket boundaries
    engine-dependent), then per-decile stats.  The ntile runs as the
    two-phase ranged scan (operators.scan): exact global row numbers
    from range-partitioned local ranks + P-row prefix offsets, then
    the bucket arithmetic — the per-customer table grows with the data,
    so a single-partition ntile window (the round-10 spine-audit flag)
    would serialize |customers| rows through one task at 100 TB.  Money
    stays DECIMAL until the final double cast."""
    from martech_pipelines_spark.operators.scan import (
        ntile_from_rn,
        ranged_row_number,
    )

    od = load_table(spark, sf_dir, "orders")

    rev = od.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    order = [F.desc("revenue"), F.asc("custkey")]
    n_cust = rev.agg(F.count("*").alias("__n"))
    tiled = (
        ranged_row_number(rev, order, "__rn")
        .join(F.broadcast(n_cust))
        .withColumn(
            "decile", ntile_from_rn(F.col("__rn"), F.col("__n"), 10)
        )
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("revenue").cast("double").alias("min_revenue"),
            F.max("revenue").cast("double").alias("max_revenue"),
            F.sum("revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("decile")
    )


# =============================================================================
# s17: pairwise label-centroid separation — the class-geometry report
# (which labels are embedding-confusable) built on s15's exact centroids.
# =============================================================================

_S17_ORACLE = """
    WITH e AS (
        SELECT label,
               CAST(i AS INTEGER) - 1 AS dim,
               CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                          * 1000000.0 + 0.5) AS BIGINT) AS xq
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    mo AS (
        SELECT label, dim,
               sum(CAST(xq AS HUGEINT)) * 1000000 AS num,
               CAST(count(*) AS HUGEINT) * 1000000 AS den
        FROM e GROUP BY 1, 2
    ),
    c AS (
        SELECT label, dim,
               CASE WHEN num >= 0 THEN (2*num + den) // (2*den)
                    ELSE -((-2*num + den) // (2*den)) END AS cq
        FROM mo
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(sum((a.cq - b.cq) * (a.cq - b.cq)) AS DOUBLE)
           / 1000000000000.0 AS dist2
    FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


@q("s17_centroid_distances", _S17_ORACLE)
def s17_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise squared L2 distance between label centroids, computed
    ENTIRELY in quantized-integer space: s15's centroid cells are exact
    rationals cq/10^6, so (cq_a - cq_b)^2 sums are exact integers and
    the output doubles are bit-identical across engines.  The pair join
    runs over labels*d centroid cells (catalog-bound — row-count
    independent); this is the confusability matrix that tells a
    training pipeline which class pairs need contrastive mining
    (s9's hard negatives) before the expensive per-row work."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = LA.embedding_label_centroids(emb, "label", "embedding", round_dp=6)
    # recover the exact integer: centroid IS cq/10^6, so one floor
    # round-trips it (same IEEE expression both engines)
    c = cent.select(
        "label",
        "dim",
        F.floor(F.col("centroid") * F.lit(1e6) + F.lit(0.5)).alias("cq"),
    )
    a = c.alias("a")
    b = c.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("cq").alias("cq_b"),
    )
    diff = F.col("cq") - F.col("cq_b")
    return (
        a.join(
            b,
            (F.col("dim") == F.col("dim_b"))
            & (F.col("label") < F.col("label_b")),
        )
        .groupBy(F.col("label").alias("label_a"), "label_b")
        .agg(
            (
                F.sum((diff * diff).cast("decimal(38,0)")).cast("double")
                / F.lit(1e12)
            ).alias("dist2")
        )
        .orderBy("label_a", "label_b")
    )


# =============================================================================
# h19: incremental covariance via mergeable integer moment frames.
# Shares s12's oracle: incremental == full recompute, BIT-identical.
# =============================================================================


@q("h19_incremental_covariance", _S12_ORACLE)
def h19_incremental_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance maintained incrementally over three delta batches
    (split by vec_id % 3 — not arrival-ordered, so the merge must be
    genuinely commutative): each batch reduces to a d*(d+1)/2-cell
    integer moment frame, folded into the running state with one keyed
    sum.  Integer associativity makes the final cells BIT-identical to
    s12's one-pass recompute — which is exactly what the shared oracle
    checks.  At 100 TB this is the covariance maintenance plan: the
    per-batch shuffle is d^2 cells regardless of batch size, and no
    raw history is ever re-read."""
    emb = load_table(spark, sf_dir, "embeddings")
    state = LA.covariance_moments(emb.where(F.col("vec_id") % 3 == 0))
    for r in (1, 2):
        delta = LA.covariance_moments(emb.where(F.col("vec_id") % 3 == r))
        state = LA.merge_covariance_moments(state, delta)
    return LA.covariance_from_moments(state, round_dp=5)


# =============================================================================
# a11: schema-evolved parquet scan — promotes read_evolving_parquet
# (sources/readers.py, previously pytest-only) into the oracle-checked
# corpus.  A 100-TB lake's history is written under many schema
# versions; the scan must union footers, not trust a sample file.
# =============================================================================

_A11_WRITTEN: set[str] = set()


def write_evolved_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a two-generation event log: generation 1 (event_id %
    10 == 1) predates the `value_c` column; generation 2 (% 10 == 2)
    carries it.  Written once per (sf_dir, process), removed at exit —
    same hygiene as the ORC/JSONL corpus artifacts."""
    import atexit
    import hashlib
    import os
    import shutil

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out_dir = os.path.join("/tmp", f"mp_spark_evolve_{tag}_{os.getpid()}")
    if out_dir in _A11_WRITTEN:
        return out_dir
    ev = load_table(spark, sf_dir, "events")
    g1 = ev.where(F.col("event_id") % 10 == 1).select(
        "event_id", "user_id", "event_type"
    )
    g2 = ev.where(F.col("event_id") % 10 == 2).select(
        "event_id", "user_id", "event_type",
        F.round("value", 2).alias("value_c"),
    )
    g1.coalesce(2).write.mode("overwrite").parquet(os.path.join(out_dir, "g1"))
    g2.coalesce(2).write.mode("overwrite").parquet(os.path.join(out_dir, "g2"))
    _A11_WRITTEN.add(out_dir)
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    return out_dir


@q(
    "a11_schema_evolution",
    """
    SELECT event_id, user_id, event_type, NULL AS value_c
    FROM events WHERE event_id % 10 = 1
    UNION ALL
    SELECT event_id, user_id, event_type, round(value, 2) AS value_c
    FROM events WHERE event_id % 10 = 2
    """,
)
def a11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a parquet log written under two schema generations through
    ``read_evolving_parquet`` (mergeSchema): generation-1 rows surface
    the late-added ``value_c`` column as typed NULLs, generation-2 rows
    carry real values — value-identical to the relational union the
    oracle spells.  Footer merging is driver-side metadata work; data
    IO still prunes per file (a file without the column contributes
    constant nulls, not reads)."""
    from martech_pipelines_spark.sources.readers import read_evolving_parquet
    from pyspark.sql import types as T

    path = write_evolved_events(spark, sf_dir)
    expected = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value_c", T.DoubleType()),
        ]
    )
    return read_evolving_parquet(spark, f"{path}/*", expected)


# =============================================================================
# h20: incremental EXACT percentiles — the value-histogram twin of h19,
# sharing r29's oracle and its state/merge/readout (operators/sketches.py).
# =============================================================================


def _r29_oracle() -> str:
    from martech_pipelines_spark.plans.corpus_r5m import _R29_ORACLE

    return _R29_ORACLE


@q("h20_incremental_percentiles", _r29_oracle())
def h20_incremental_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 maintained incrementally: three delta batches
    (event_id % 3 split — not time-ordered, late data must merge
    cleanly) each reduce to a ``value_histogram``, folded by
    ``histogram_merge`` and read by ``percentiles_from_histogram`` —
    checked against r29's full-recompute oracle.  Raw history is never
    re-read."""
    ev = load_table(spark, sf_dir, "events")
    state = value_histogram(ev.where(F.col("event_id") % 3 == 0))
    for r in (1, 2):
        state = histogram_merge(
            state, value_histogram(ev.where(F.col("event_id") % 3 == r))
        )
    return percentiles_from_histogram(state)


# =============================================================================
# r33: nearest-direction AS-OF join — completes the temporal-join family
# (r22 backward, r23 interval/range).  pandas merge_asof
# direction="nearest" parity; Spark has no primitive for any of them.
# =============================================================================

_R33_ORACLE = """
    WITH u AS (
        SELECT user_id, ts, 0 AS side, event_id AS v_id,
               CAST(NULL AS BIGINT) AS p_id
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT user_id, ts, 1, NULL, event_id
        FROM events WHERE event_type = 'purchase'
    ), carried AS (
        SELECT user_id, ts, side, p_id,
               last_value(v_id IGNORE NULLS) OVER wb AS b_id,
               last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                   OVER wb AS b_ts,
               first_value(v_id IGNORE NULLS) OVER wf AS f_id,
               first_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                   OVER wf AS f_ts
        FROM u
        WINDOW wb AS (
            PARTITION BY user_id
            ORDER BY ts, side, v_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ), wf AS (
            PARTITION BY user_id
            ORDER BY ts, side, v_id
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
        )
    ), picked AS (
        SELECT user_id, ts, p_id,
               CASE WHEN b_ts IS NULL THEN f_id
                    WHEN f_ts IS NULL THEN b_id
                    WHEN ts - b_ts <= f_ts - ts THEN b_id
                    ELSE f_id END AS m_id,
               CASE WHEN b_ts IS NULL THEN f_ts
                    WHEN f_ts IS NULL THEN b_ts
                    WHEN ts - b_ts <= f_ts - ts THEN b_ts
                    ELSE f_ts END AS m_ts
        FROM carried WHERE side = 1
    )
    SELECT user_id,
           p_id AS purchase_id,
           CASE WHEN abs(epoch_us(m_ts) - epoch_us(ts))
                     <= CAST(48 AS BIGINT) * 3600 * 1000000 THEN m_id END AS view_id,
           CASE WHEN abs(epoch_us(m_ts) - epoch_us(ts))
                     <= CAST(48 AS BIGINT) * 3600 * 1000000 THEN
               abs(epoch_us(m_ts) - epoch_us(ts)) // 60000000
           END AS gap_min
    FROM picked
"""


@q("r33_asof_nearest", _R33_ORACLE)
def r33_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase picks up the user's CLOSEST view in either
    direction (<=48h) — attribution when the influencing touch can
    follow the conversion event (delayed ingestion, post-purchase
    confirmation views).  Same join-free single-exchange plan as r22,
    with one shared sort feeding backward AND forward carry windows;
    the oracle spells both windows and the identical pick/tie rules
    (equal distance -> backward) in ANSI SQL.  gap_min is integer
    microsecond arithmetic — engine-exact."""
    from martech_pipelines_spark.operators import joins as J

    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), "event_id"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    joined = J.asof_join_nearest(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        right_payload=["event_id"],
        tolerance=F.expr("INTERVAL 48 HOURS"),
    )
    # |gap| <= 48h = 1.7e11 us << 2^53, so the double division is exact
    # before floor; integer-identical to the oracle's epoch_us // math
    gap_us = F.abs(
        F.unix_micros(F.col("view_ts_asof")) - F.unix_micros(F.col("ts"))
    )
    return joined.select(
        "user_id",
        "purchase_id",
        F.col("event_id_asof").alias("view_id"),
        F.when(
            F.col("view_ts_asof").isNotNull(),
            F.floor(gap_us / F.lit(60000000.0)).cast("long"),
        ).alias("gap_min"),
    )


# =============================================================================
# s18: embedding-distribution drift — Frobenius distance between the
# covariance matrices of two populations, fully integer-exact (built on
# the round-6 scaled-integer cell machinery).
# =============================================================================


def _s18_cov_cte(name: str, pred: str) -> str:
    """One population's scaled-integer covariance cells (cov * 10^5),
    mirroring operators/linalg._exact_cov_from_moments."""
    return f"""
    {name}_e AS (
        SELECT vec_id,
               CAST(i AS INTEGER) - 1 AS dim,
               CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                          * 1000000.0 + 0.5) AS BIGINT) AS xq
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
        WHERE {pred}
    ),
    {name}_mo AS (
        SELECT a.dim AS i, b.dim AS j,
               count(*) AS n,
               sum(CAST(a.xq AS HUGEINT) * b.xq) AS sxy,
               sum(CAST(a.xq AS HUGEINT)) AS sx,
               sum(CAST(b.xq AS HUGEINT)) AS sy
        FROM {name}_e a JOIN {name}_e b
          ON a.vec_id = b.vec_id AND a.dim <= b.dim
        GROUP BY 1, 2
    ),
    {name} AS (
        SELECT i, j,
               CASE WHEN num >= 0 THEN (2*num + den) // (2*den)
                    ELSE -((-2*num + den) // (2*den)) END AS cs
        FROM (
            SELECT i, j,
                   (CAST(n AS HUGEINT) * sxy - sx * sy) * 100000 AS num,
                   CAST(n AS HUGEINT) * n * 1000000000000 AS den
            FROM {name}_mo
        )
    )"""


_S18_ORACLE = f"""
    WITH {_s18_cov_cte('ca', 'vec_id % 2 = 0')},
    {_s18_cov_cte('cb', 'vec_id % 2 = 1')},
    cells AS (
        SELECT ca.i, ca.j, ca.cs - cb.cs AS d
        FROM ca JOIN cb ON ca.i = cb.i AND ca.j = cb.j
    ),
    agg AS (
        SELECT count(*) AS n_cells,
               CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE)
                   / 10000000000.0 AS frob2
        FROM cells
    ),
    w AS (
        SELECT CAST(abs(d) AS DOUBLE) / 100000.0 AS max_abs_diff,
               i AS worst_i, j AS worst_j
        FROM cells ORDER BY abs(d) DESC, i, j LIMIT 1
    )
    SELECT n_cells, frob2, max_abs_diff, worst_i, worst_j FROM agg, w
"""


@q("s18_covariance_drift", _S18_ORACLE)
def s18_covariance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two embedding populations (vec_id
    parity split): Frobenius distance between their covariance matrices
    plus the worst-drifting cell — the "this week's crawl no longer
    looks like the tuned corpus" monitor, run BEFORE any model.  Every
    number is computed in integer space (scaled-integer cells, exact
    DECIMAL squared sums), so the monitor's own output can never drift
    across engines or partitionings.  Two keyed moment aggregations +
    one d^2-cell join; output is ONE row."""
    emb = load_table(spark, sf_dir, "embeddings")
    return LA.covariance_drift(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
    )


# =============================================================================
# fe2: multi-horizon feature snapshot — the daily feature-store job
# (fe1 extracts features per LABEL EVENT for training; this materializes
# the per-user snapshot AT A CUTOFF that online inference reads).
# =============================================================================

# The cutoff is a PYTHON-precomputed integer micros-since-epoch constant
# (2024-01-29 00:00:00 UTC).  Neither engine parses a timestamp literal:
# Spark compares unix_micros(ts) (an instant, session-timezone-free) and
# DuckDB compares epoch_us(ts) against the SAME integer — the r7 driver
# hash flip on this query traced to exactly that hinge (a timestamp-literal
# cast goes through spark.sql.session.timeZone, which the driver's
# environment may set differently).  Oracle sums are CAST to BIGINT so
# DuckDB's HUGEINT sum type never reaches the comparator.
_FE2_CUTOFF_US = 1706486400000000  # 2024-01-29T00:00:00Z in microseconds

_FE2_ORACLE = f"""
    WITH pre AS (
        SELECT user_id, event_type, value,
               {_FE2_CUTOFF_US} - epoch_us(ts) AS age_us
        FROM events
        WHERE epoch_us(ts) < {_FE2_CUTOFF_US}
    )
    SELECT user_id,
           CAST(sum(CASE WHEN age_us <= CAST(3 AS BIGINT)*86400*1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS events_3d,
           CAST(sum(CASE WHEN age_us <= CAST(7 AS BIGINT)*86400*1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS events_7d,
           count(*) AS events_28d,
           CAST(sum(CASE WHEN event_type = 'view'
                    AND age_us <= CAST(7 AS BIGINT)*86400*1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS views_7d,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS spend_paise_28d,
           CAST(min(age_us) // 60000000 AS BIGINT) AS last_event_gap_min
    FROM pre
    GROUP BY user_id
"""


@q("fe2_multiwindow_features", _FE2_ORACLE)
def fe2_multiwindow_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature snapshot at a fixed cutoff: event counts over
    3/7/28-day trailing horizons, 7-day view count, 28-day spend
    (integer paise), and recency — ALL from one keyed aggregation pass
    (conditional sums over the event age, never one join per horizon —
    the multi-pass form is the classic feature-store anti-pattern
    that re-scans the fact table per feature).  All outputs are integer
    arithmetic on microsecond ages — engine-exact; the cutoff itself is a
    Python-precomputed integer micros constant so no timestamp literal is
    parsed by either engine (session-timezone-proof — the r7 hardening).
    The events span ~30 days, so the 28d horizon doubles as the lifetime
    window at this data range; at production range the cutoff filter
    bounds the scan."""
    ev = load_table(spark, sf_dir, "events")
    day_us = 86400 * 1000000
    pre = ev.where(F.unix_micros("ts") < F.lit(_FE2_CUTOFF_US)).select(
        "user_id",
        "event_type",
        "value",
        (F.lit(_FE2_CUTOFF_US) - F.unix_micros("ts")).alias("age_us"),
    )
    in_h = lambda d: (F.col("age_us") <= F.lit(d * day_us)).cast("long")  # noqa: E731
    return pre.groupBy("user_id").agg(
        F.sum(in_h(3)).alias("events_3d"),
        F.sum(in_h(7)).alias("events_7d"),
        F.count("*").alias("events_28d"),
        F.sum(
            ((F.col("event_type") == "view") & (F.col("age_us") <= F.lit(7 * day_us)))
            .cast("long")
        ).alias("views_7d"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("spend_paise_28d"),
        F.expr("min(age_us) div 60000000").alias("last_event_gap_min"),
    )


# =============================================================================
# pipe10: corpus-prep funnel report — the per-stage row accounting every
# data-ops dashboard shows for the training-data pipeline (pipe1/pipe2
# RUN the chains; this reports what each stage kept).
# =============================================================================


def _pipe10_oracle() -> str:
    from martech_pipelines_spark.operators import text as TX
    from martech_pipelines_spark.plans.corpus_extended import (
        _DUCK_NORM,
        _DUCK_TOKENS,
        _lang_score_sql,
    )

    toks = _DUCK_TOKENS.format(col="text")
    norm = _DUCK_NORM.format(col="text")
    stop = ", ".join(f"'{w}'" for w in TX.STOPWORDS_EN)
    lang_case = f"""CASE
        WHEN greatest({_lang_score_sql('de')}, {_lang_score_sql('en')},
                      {_lang_score_sql('es')}, {_lang_score_sql('fr')}) = 0 THEN 'und'
        WHEN {_lang_score_sql('de')} = greatest({_lang_score_sql('de')}, {_lang_score_sql('en')},
                      {_lang_score_sql('es')}, {_lang_score_sql('fr')}) THEN 'de'
        WHEN {_lang_score_sql('en')} = greatest({_lang_score_sql('de')}, {_lang_score_sql('en')},
                      {_lang_score_sql('es')}, {_lang_score_sql('fr')}) THEN 'en'
        WHEN {_lang_score_sql('es')} = greatest({_lang_score_sql('de')}, {_lang_score_sql('en')},
                      {_lang_score_sql('es')}, {_lang_score_sql('fr')}) THEN 'es'
        ELSE 'fr' END"""
    quality = f"""round((least(len({toks}) / 20.0, 1.0)
        + (1.0 - least(round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                             / length(text), 4) * 5, 1.0))
        + least(round(len(list_filter({toks}, x -> x IN ({stop})))::DOUBLE / len({toks}), 4) * 4, 1.0)) / 3, 4)"""
    return f"""
    WITH kept AS (
        SELECT doc_id, text FROM documents
        WHERE length(text) > 0 AND len({toks}) > 0
          AND ({lang_case}) = 'en'
          AND ({quality}) >= 0.4
    ), ranked AS (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5({norm}) ORDER BY doc_id) AS rn
        FROM kept
    ), deduped AS (
        SELECT doc_id, text FROM ranked WHERE rn = 1
    ), train AS (
        SELECT doc_id, text FROM deduped WHERE doc_id % 10 <> 3
    ), train_toks AS (
        SELECT doc_id,
               list_filter(string_split_regex({norm}, '[^a-z0-9'']+'),
                           x -> x <> '') AS t
        FROM train
    ), train_win AS (
        SELECT doc_id,
               md5(array_to_string(
                   t[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ')) AS h
        FROM train_toks, unnest(range(1, len(t) - 6)) u(i)
        WHERE len(t) >= 8
    ), eval_toks AS (
        SELECT doc_id,
               list_filter(string_split_regex({norm}, '[^a-z0-9'']+'),
                           x -> x <> '') AS t
        FROM documents WHERE doc_id % 10 = 3
    ), eval_h AS (
        SELECT DISTINCT md5(array_to_string(
                   t[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ')) AS h
        FROM eval_toks, unnest(range(1, len(t) - 6)) u(i)
        WHERE len(t) >= 8
    ), contaminated AS (
        SELECT DISTINCT w.doc_id FROM train_win w
        WHERE w.h IN (SELECT h FROM eval_h)
    )
    SELECT 0 AS stage_idx, 'raw' AS stage,
           (SELECT count(*) FROM documents) AS docs
    UNION ALL SELECT 1, 'quality_lang', (SELECT count(*) FROM kept)
    UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM deduped)
    UNION ALL SELECT 3, 'train_split', (SELECT count(*) FROM train)
    UNION ALL SELECT 4, 'decontaminated',
        (SELECT count(*) FROM train) - (SELECT count(*) FROM contaminated)
    """


@q("pipe10_prep_funnel", _pipe10_oracle())
def pipe10_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage survivor counts of the training-data prep funnel: raw ->
    quality+language filter -> exact dedup -> train/eval split ->
    8-gram decontamination.  The report every corpus-prep dashboard
    shows — where did the documents go, stage by stage.  The quality-
    filtered base is persisted via the caching registry (four stage
    counts reuse it; re-scanning raw text per stage is the 100-TB waste
    a pipeline checkpoint avoids); each stage count is a 1-row
    aggregate, unioned into the 5-row report.  Stage operators are the
    engine's own (pipe1/dd9 composition), so the funnel numbers are
    engine-checked against the oracle's CTE re-spelling."""
    from martech_pipelines_spark import caching
    from martech_pipelines_spark.operators import dedup as DD
    from martech_pipelines_spark.operators import text as TX
    from martech_pipelines_spark.operators.parallelism import spread

    docs = load_table(spark, sf_dir, "documents")
    # The quality/lang filter and the eval-side 8-gram hashing are heavy
    # per-doc token kernels; on the 1-2 partition local scan they ran as
    # ONE ~3.2s task each (profiled r12, stages 234/235).  spread the
    # narrow projection first (no-op on real multi-split tables).  The
    # raw stage-0 count stays on the bare scan (count-only, pushed down).
    wide = spread(docs.select("doc_id", "text"), by="doc_id")
    kept = wide.where(
        (F.length("text") > 0)
        & (TX.token_count(F.col("text")) > 0)
        & (TX.lang_id(F.col("text")) == "en")
        & (TX.quality_score(F.col("text")) >= 0.4)
    ).select("doc_id", "text")
    kept = caching.register(kept.persist())
    deduped = caching.register(DD.exact_dedup(kept).persist())
    train = deduped.where(F.col("doc_id") % 10 != 3)
    eval_docs = wide.where(F.col("doc_id") % 10 == 3)
    clean = DD.decontaminate(train, eval_docs, w=8).where(
        ~F.col("contaminated")
    )

    def stage(i: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(i).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count("*").alias("docs"),
        )

    return (
        stage(0, "raw", docs)
        .unionByName(stage(1, "quality_lang", kept))
        .unionByName(stage(2, "exact_dedup", deduped))
        .unionByName(stage(3, "train_split", train))
        .unionByName(stage(4, "decontaminated", clean))
    )


# =============================================================================
# r34: latest-N per key — the flagship's generalization (CDC compaction
# keeps 1 row per key; activity feeds/debug views keep the last N).
# =============================================================================

_R34_N = 3

_R34_ORACLE = f"""
    WITH ranked AS (
        SELECT user_id, event_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id, rn, event_id, event_type, ts_s
    FROM ranked WHERE rn <= {_R34_N}
"""


@q("r34_latest_n_per_key", _R34_ORACLE)
def r34_latest_n_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last {N}=3 events per user, newest first — the activity-feed /
    debugging view generalizing the flagship's latest-1 compaction.
    Same scale shape: ONE hash exchange with a WindowGroupLimit partial
    top-N BEFORE the shuffle (each map task forwards at most N rows per
    key it sees, so the exchange carries O(keys*N*tasks) rows, not the
    event volume); (ts, event_id) DESC is a total order, so the cut is
    engine-stable."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _R34_N)
        .select(
            "user_id",
            "rn",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )


# =============================================================================
# mart18: revenue share by nation — the ratio-to-report pattern (every
# exec dashboard's "share of total" column) with exact-DECIMAL inputs.
# =============================================================================

_MART18_ORACLE = """
    WITH nat_rev AS (
        SELECT n.n_name AS nation,
               sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    )
    SELECT nation,
           CAST(rev AS DOUBLE) AS revenue,
           round(CAST(rev AS DOUBLE)
                 / CAST((SELECT sum(rev) FROM nat_rev) AS DOUBLE), 6)
               AS share
    FROM nat_rev
    ORDER BY nation
"""


@q("mart18_revenue_share", _MART18_ORACLE)
def mart18_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue and share-of-total: money summed in exact
    DECIMAL (order-invariant), the grand total derived from the SAME
    aggregate via an unpartitioned window over the |nations|-row result
    (25 rows — the "window over the aggregate, never the facts"
    discipline), and the share divided as doubles from identical exact
    inputs — deterministic across engines.  Facts shuffle once on the
    join key; nation broadcasts."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    nat_rev = (
        od.join(cust, od.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    total = F.sum("rev").over(Window.partitionBy())
    return nat_rev.select(
        "nation",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / total.cast("double"), 6
        ).alias("share"),
    ).orderBy("nation")


# =============================================================================
# s19: ANN recall report — index-quality EVALUATION as a first-class
# query ("measure, don't guess" turned into an operator: the recall
# check the pytest gates and BENCH_sf1 run, expressed as a corpus query
# with a full oracle, so the driver value-checks the evaluation itself).
# =============================================================================


def _s19_oracle() -> str:
    from martech_pipelines_spark.plans.corpus_extended import (
        _S1_ORACLE,
        _S2_ORACLE,
    )

    # both component oracles are complete WITH...SELECT statements;
    # nesting them as subqueries keeps their CTE namespaces separate
    return f"""
    WITH ex AS (SELECT query_id, vec_id FROM ({_S1_ORACLE}) t),
         ap AS (SELECT query_id, vec_id FROM ({_S2_ORACLE}) t)
    SELECT ex.query_id,
           CAST(count(ap.vec_id) AS BIGINT) AS hits,
           round(count(ap.vec_id) / 5.0, 4) AS recall_at_5
    FROM ex LEFT JOIN ap
      ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
    GROUP BY 1
    ORDER BY 1
    """


@q("s19_recall_report", _s19_oracle())
def s19_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the LSH index (s2) against exact ground
    truth (s1): the index-quality monitor a production ANN deployment
    runs after every rebuild.  Both sides are deterministic engine
    pipelines with their own oracles, so the EVALUATION is value-checked
    end to end — hits are integer counts, recall a single integer-ratio
    division.  Cost is one exact pass + one LSH pass over the query set;
    at 100 TB the exact side runs on a SAMPLE of queries (the standard
    recall-estimation protocol) — the report shape is unchanged."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.brute_force_topk(queries, emb, k=5).select(
        "query_id", "vec_id"
    )
    approx = SIM.lsh_topk(queries, emb, dim=64, k=5).select(
        F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_vid")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("vec_id") == F.col("a_vid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_vid").alias("hits"),
            F.round(F.count("a_vid") / F.lit(5.0), 4).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# =============================================================================
# r35: sessionization as ENRICHMENT — label every event with its session
# id (w3/mart counts sessions; downstream per-session features need the
# assignment itself).
# =============================================================================

_R35_GAP_S = 30 * 60

_R35_ORACLE = f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > CAST({_R35_GAP_S} AS BIGINT) * 1000000 THEN 1
                    ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           CAST(sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_seq
    FROM flagged
"""


@q("r35_sessionize", _R35_ORACLE)
def r35_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each event its per-user session sequence number (new
    session after a 30-minute silence) — the enrichment w3's session
    windows aggregate over, needed row-level whenever per-session
    features join back to events.  ONE hash exchange on user_id feeds
    both the lag flag and the running sum (same sort order, fused into
    one Window pass); gap comparison in integer microseconds and the
    (ts, event_id) total order keep the labels engine-exact."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_sess = F.when(
        prev_us.isNull()
        | (F.unix_micros(F.col("ts")) - prev_us > _R35_GAP_S * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.sum(new_sess).over(run).cast("long").alias("session_seq"),
    )


# =============================================================================
# r36: interval-interval overlap join — the remaining interval-algebra
# primitive (r23 matches POINTS into intervals; this matches intervals
# to each other: concurrent-campaign exposure, shift overlap, SLA
# windows).
# =============================================================================

_R36_ORACLE = """
    WITH c AS (
        SELECT i AS campaign_id,
               TIMESTAMP '2024-01-01' + INTERVAL 18 HOUR * i AS start_ts,
               TIMESTAMP '2024-01-01' + INTERVAL 18 HOUR * i
                   + INTERVAL 12 HOUR * ((i % 3) + 1) AS end_ts
        FROM (SELECT unnest(range(40)) AS i)
    )
    SELECT a.campaign_id AS c1, b.campaign_id AS c2,
           CAST((epoch_us(least(a.end_ts, b.end_ts))
                 - epoch_us(greatest(a.start_ts, b.start_ts)))
                // 1000000 AS BIGINT) AS overlap_s
    FROM c a JOIN c b ON a.campaign_id < b.campaign_id
    WHERE a.start_ts < b.end_ts AND b.start_ts < a.end_ts
    ORDER BY c1, c2
"""


@q("r36_interval_overlap", _R36_ORACLE)
def r36_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise overlap seconds between the r23 campaign windows — the
    interval-interval join.  Same bucketing discipline as range_join:
    each interval explodes to its 12h buckets, pairs come from bucket
    collisions (equi-join, never a cartesian), duplicates from pairs
    sharing several buckets collapse with one distinct, and the exact
    overlap predicate/arithmetic runs on the deduped pairs in integer
    seconds.  At 100 TB (think: every user's session intervals vs
    campaign flights) the bucket join is what keeps candidate pairs
    near-linear; the 40-interval corpus form exercises the identical
    plan.  [start, end) semantics: touching intervals (end == start)
    do NOT overlap."""
    anchor = 1704067200
    camp = spark.range(40).select(
        F.col("id").alias("campaign_id"),
        (anchor + F.col("id") * 64800).alias("start_s"),
        (anchor + F.col("id") * 64800 + ((F.col("id") % 3) + 1) * 43200)
        .alias("end_s"),
    )
    bucket = 43200
    exploded = camp.select(
        "campaign_id",
        "start_s",
        "end_s",
        F.explode(
            F.sequence(
                F.floor(F.col("start_s") / bucket),
                F.floor((F.col("end_s") - 1) / bucket),
            )
        ).alias("bkt"),
    )
    b = exploded.select(
        F.col("campaign_id").alias("c2"),
        F.col("start_s").alias("start2"),
        F.col("end_s").alias("end2"),
        F.col("bkt").alias("bkt2"),
    )
    pairs = (
        exploded.join(
            b,
            (F.col("bkt") == F.col("bkt2"))
            & (F.col("campaign_id") < F.col("c2")),
        )
        .select("campaign_id", "start_s", "end_s", "c2", "start2", "end2")
        .distinct()
    )
    overlap = F.least(F.col("end_s"), F.col("end2")) - F.greatest(
        F.col("start_s"), F.col("start2")
    )
    return (
        pairs.where(
            (F.col("start_s") < F.col("end2"))
            & (F.col("start2") < F.col("end_s"))
        )
        .select(
            F.col("campaign_id").alias("c1"),
            "c2",
            overlap.cast("long").alias("overlap_s"),
        )
        .orderBy("c1", "c2")
    )


# =============================================================================
# mart19: ABC (Pareto) classification — the inventory/revenue-mix mart
# (which parts are the A-class 80% of revenue).
# =============================================================================

_MART19_ORACLE = """
    WITH part_rev AS (
        SELECT l_partkey AS partkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        FROM lineitem GROUP BY 1
    ), ranked AS (
        SELECT partkey, rev,
               sum(rev) OVER (
                   ORDER BY rev DESC, partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_rev,
               sum(rev) OVER () AS total_rev
        FROM part_rev
    ), classed AS (
        SELECT partkey,
               CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE)
                         <= 0.8 THEN 'A'
                    WHEN CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE)
                         <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc,
               rev
        FROM ranked
    )
    SELECT abc,
           count(*) AS n_parts,
           CAST(sum(rev) AS DOUBLE) AS revenue,
           round(CAST(sum(rev) AS DOUBLE)
                 / CAST((SELECT sum(rev) FROM part_rev) AS DOUBLE), 4)
               AS rev_share
    FROM classed GROUP BY 1 ORDER BY 1
"""


@q("mart19_abc_analysis", _MART19_ORACLE)
def mart19_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification of parts by revenue: cumulative
    revenue share over the (rev DESC, partkey) total order cuts classes
    at 80%/95%.  Money stays exact DECIMAL through the cumulative
    scan; the class boundary ratio divides identical exact inputs as
    doubles (deterministic).  The per-part aggregate GROWS with the
    data, so the running sum is the two-phase ranged scan
    (operators.scan — range-partitioned local cumsums + P-row prefix
    offsets, exact under the strict (rev DESC, partkey) order) and the
    grand total rides as a broadcast 1-row scalar, not a
    whole-table window; the final report is 3 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    part_rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias("rev")
    )
    from martech_pipelines_spark.operators.scan import ranged_cumsum

    grand = part_rev.agg(F.sum("rev").alias("total_rev"))
    ranked = (
        ranged_cumsum(
            part_rev,
            [F.desc("rev"), F.asc("partkey")],
            F.col("rev"),
            "cum_rev",
        )
        .join(F.broadcast(grand))
        .select("partkey", "rev", "cum_rev", "total_rev")
    )
    share = F.col("cum_rev").cast("double") / F.col("total_rev").cast("double")
    classed = ranked.select(
        "partkey",
        "rev",
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias("abc"),
    )
    total = part_rev.agg(F.sum("rev").alias("t"))
    return (
        classed.groupBy("abc")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .join(F.broadcast(total))
        .select(
            "abc",
            "n_parts",
            "revenue",
            F.round(F.col("revenue") / F.col("t").cast("double"), 4).alias("rev_share"),
        )
        .orderBy("abc")
    )


# =============================================================================
# mart20: first-touch attribution — completes the attribution family
# (mart3 last-touch-in-window, mart5 linear, mart8 time-decay; the
# journey-origin model was the missing convention).
# =============================================================================

_MART20_ORACLE = """
    WITH ann AS (
        SELECT event_id, user_id, event_type, ts,
               first_value(CASE WHEN event_type IN ('view', 'click')
                                THEN event_id END IGNORE NULLS)
                   OVER w AS touch_id,
               first_value(CASE WHEN event_type IN ('view', 'click')
                                THEN event_type END IGNORE NULLS)
                   OVER w AS touch_type,
               first_value(CASE WHEN event_type IN ('view', 'click')
                                THEN epoch_us(ts) END IGNORE NULLS)
                   OVER w AS touch_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id AS purchase_id, user_id, touch_id, touch_type,
           CAST(epoch_us(ts) - touch_us AS BIGINT) AS gap_us
    FROM ann
    WHERE event_type = 'purchase' AND touch_us IS NOT NULL
"""


@q("mart20_first_touch", _MART20_ORACLE)
def mart20_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase credits the user's FIRST
    view/click ever before it (the journey-origin model — acquisition
    channels get the credit; mart3's last-touch is the conversion-
    channel view).  Identical single-exchange carry window as mart3,
    with ``first IGNORE NULLS`` instead of ``last``; integer-microsecond
    gaps, (ts, event_id) total order."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("view", "click")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ann = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.first(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_id"),
        F.first(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.first(F.when(is_touch, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_us"),
    )
    return (
        ann.where(
            (F.col("event_type") == "purchase") & F.col("touch_us").isNotNull()
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "touch_id",
            "touch_type",
            (F.unix_micros("ts") - F.col("touch_us")).alias("gap_us"),
        )
    )


# =============================================================================
# t39: tokenizer fertility by language — tokens-per-100-chars, the
# tokenizer-efficiency diagnostic multilingual corpus work tracks (a
# language whose fertility drifts is being segmented differently, which
# shifts its EFFECTIVE mixture weight in token-budgeted training).
# =============================================================================


def _t39_oracle() -> str:
    from martech_pipelines_spark.plans.corpus_extended import _DUCK_TOKENS

    toks = _DUCK_TOKENS.format(col="text")
    # fertility_e4 = round_half_up(tokens*100 / chars * 1e4) as a pure
    # BIGINT ratio: (tokens*100*10^4*2 + chars) // (2*chars).  No double
    # division or round() convention exists for the engines to disagree
    # on — the r7 driver hash flip on this query lived in exactly that
    # construct (the s12 integer-moments recipe).  Sums CAST to BIGINT so
    # DuckDB's HUGEINT never reaches the comparator.
    return f"""
    WITH per_doc AS (
        SELECT lang,
               CAST(len({toks}) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents WHERE length(text) > 0
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST((CAST(sum(n_tokens) AS BIGINT) * 2000000
                 + CAST(sum(n_chars) AS BIGINT))
                // (2 * CAST(sum(n_chars) AS BIGINT)) AS BIGINT)
               AS fertility_e4
    FROM per_doc GROUP BY lang ORDER BY lang
    """


@q("t39_tokenizer_fertility", _t39_oracle())
def t39_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens per 100 characters by language: integer token/char sums in
    one keyed pass (codegen tokenizer expression, no Python), the
    fertility emitted as `fertility_e4` — a half-up BIGINT ratio
    ((tokens*100*1e4*2 + chars) div (2*chars)) so no double division or
    round() convention is in the loop (engine-exact; the r7 hardening).
    Overflow headroom: tokens*2e6 stays under 2^63 up to ~4.6e12 tokens
    per language — beyond that, scale the ratio per-partition first.
    |langs| output rows — the per-language segmentation-efficiency
    monitor that guards token-budgeted mixture weights (t16) against
    tokenizer drift."""
    from martech_pipelines_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    per = docs.select(
        "lang",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("n_chars").alias("chars"),
            F.expr(
                "(sum(n_tokens) * CAST(2000000 AS BIGINT) + sum(n_chars))"
                " div (2 * sum(n_chars))"
            ).alias("fertility_e4"),
        )
        .orderBy("lang")
    )


# =============================================================================
# w9: conversion-latency percentiles — time from first signup to first
# subsequent purchase, summarized with the r29 exact-histogram
# discipline (latencies are integer seconds — a discrete domain).
# =============================================================================

_W9_ORACLE = """
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS su_ts
        FROM events GROUP BY 1
    ), conv AS (
        SELECT f.user_id,
               (epoch_us(min(e.ts)) - epoch_us(f.su_ts)) // 1000000
                   AS latency_s
        FROM firsts f
        JOIN events e
          ON e.user_id = f.user_id
         AND e.event_type = 'purchase'
         AND e.ts > f.su_ts
        WHERE f.su_ts IS NOT NULL
        GROUP BY f.user_id, f.su_ts
    ), hist AS (
        SELECT latency_s AS y, count(*) AS cnt FROM conv GROUP BY 1
    ), cum AS (
        SELECT y, cnt,
               sum(cnt) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
               sum(cnt) OVER () AS n
        FROM hist
    )
    SELECT CAST(max(n) AS BIGINT) AS n_converted,
           min(CASE WHEN c >= ceil(n * 0.50) THEN y END) AS p50_s,
           min(CASE WHEN c >= ceil(n * 0.90) THEN y END) AS p90_s
    FROM cum
"""


@q("w9_conversion_latency", _W9_ORACLE)
def w9_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase latency p50/p90: per-user firsts reduce
    the event stream to one row per converting user (keyed aggregates,
    strictly-after join predicate), then the exact-percentile selection
    runs over the latency HISTOGRAM (distinct integer seconds), never a
    global row sort — r29's discipline applied to a funnel-latency
    metric.  Distinct latencies grow with the data, so the cumulative
    count is the two-phase ranged scan (operators.scan) and the total
    rides as a broadcast 1-row scalar (the round-10 spine audit retired
    the single-partition windows here).  All integer arithmetic;
    engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("su_ts")
    ).where(F.col("su_ts").isNotNull())
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")
    )
    conv = (
        firsts.join(
            pur,
            (F.col("p_uid") == F.col("user_id"))
            & (F.col("p_ts") > F.col("su_ts")),
        )
        .groupBy("user_id", "su_ts")
        .agg(
            F.expr(
                "(unix_micros(min(p_ts)) - unix_micros(su_ts)) div 1000000"
            ).alias("latency_s")
        )
    )
    from martech_pipelines_spark.operators.scan import ranged_cumsum

    hist = conv.groupBy(F.col("latency_s").alias("y")).agg(
        F.count("*").alias("cnt")
    )
    total = hist.agg(F.sum("cnt").alias("n"))
    cum = (
        ranged_cumsum(hist, [F.asc("y")], F.col("cnt"), "c")
        .join(F.broadcast(total))
        .select("y", "c", "n")
    )
    return cum.agg(
        F.max("n").alias("n_converted"),
        F.min(
            F.when(F.col("c") >= F.ceil(F.col("n") * 0.50), F.col("y"))
        ).alias("p50_s"),
        F.min(
            F.when(F.col("c") >= F.ceil(F.col("n") * 0.90), F.col("y"))
        ).alias("p90_s"),
    )


# =============================================================================
# t41: vocabulary coverage@K — what fraction of corpus token MASS the
# top-K token types cover (the OOV-rate curve that sizes a vocabulary
# before BPE training; complements t14/t26's BPE induction+encode).
# =============================================================================

_T41_KS = (100, 500, 2000)


def _t41_oracle() -> str:
    from martech_pipelines_spark.plans.corpus_extended import _DUCK_TOKENS

    toks = _DUCK_TOKENS.format(col="text")
    ks = ", ".join(str(k) for k in _T41_KS)
    return f"""
    WITH tf AS (
        SELECT t AS token, count(*) AS cnt
        FROM (SELECT unnest({toks}) AS t FROM documents)
        GROUP BY 1
    ), ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, token) AS rnk,
               sum(cnt) OVER () AS total
        FROM tf
    )
    SELECT k AS vocab_size,
           CAST(sum(CASE WHEN rnk <= k THEN cnt ELSE 0 END) AS BIGINT)
               AS covered_tokens,
           CAST(max(total) AS BIGINT) AS total_tokens,
           round(CAST(sum(CASE WHEN rnk <= k THEN cnt ELSE 0 END) AS DOUBLE)
                 / max(total), 6) AS coverage
    FROM ranked CROSS JOIN (SELECT unnest([{ks}]) AS k)
    GROUP BY k ORDER BY k
"""


@q("t41_vocab_coverage", _t41_oracle())
def t41_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-K token types for K in {100, 500,
    2000} — the vocabulary-sizing curve (1 - coverage = OOV rate at
    that vocab size).  One vocab-keyed count shuffle; ranking and the
    coverage sums run over the DISTINCT-TOKEN table (vocab-bound, not
    corpus-bound); the K fan-out is a 3-row broadcast.  Counts are
    integers, coverage a single division of exact integers — engine-
    exact.  (count DESC, token) is a total order, so every K cut is
    deterministic."""
    from pyspark.sql import Window

    from martech_pipelines_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    w_rank = Window.orderBy(F.desc("cnt"), F.asc("token"))
    w_all = Window.partitionBy()
    ranked = tf.select(
        "cnt",
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    ks = spark.createDataFrame([(k,) for k in _T41_KS], "k int")
    return (
        ranked.join(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("rnk") <= F.col("k"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("covered_tokens"),
            F.max("total").cast("long").alias("total_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("rnk") <= F.col("k"), F.col("cnt")).otherwise(0)
                ).cast("double")
                / F.max("total"),
                6,
            ).alias("coverage"),
        )
        .select(
            F.col("k").alias("vocab_size"),
            "covered_tokens",
            "total_tokens",
            "coverage",
        )
        .orderBy("vocab_size")
    )
