"""Round-9 wave-3 corpus additions — density, survival, journey IVM,
and the embedding dimension-budget curve.

``g6_kcore``            — k-core decomposition (fixed-round SYNC peel),
                          the density member completing the graph
                          family's value-checked set.
``mart25_churn_hazard`` — discrete-time churn hazard / survival table
                          with right-censoring: the lifecycle analysis
                          behind every retention program.
``h27_incremental_journey`` — mart24's IVM proof: journey strings are
                          mergeable state across a time split, and
                          pattern matches that SPAN the batch boundary
                          are found at read (per-batch match counting
                          would miss them).
``s31_dim_truncation_recall`` — recall@5 of truncated-prefix
                          (Matryoshka-style) embeddings vs the full-dim
                          exact ranker: the dimension-budget trade
                          (s25's accuracy-vs-cost report, dimensions
                          instead of probes).

Reference parity: the reference repo (gauravkumar-ny/martech-pipelines)
computes none of these; they extend the graph / marts / IVM /
similarity families per SURVEY.md's "beyond the reference" mandate on
the driver-generated tables.

Determinism contract (memory: round-workflow #6/#8): half-up integer
ratios via ``div`` on both engines, data-derived date anchors (never
wall-clock), integer-micros time cuts (never timestamp literals),
round(cos,4)+id tie-breaks for every ranking (the s1/s25 construct
class, boundary-audited corpus-wide).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from martech_pipelines_spark.plans.corpus import ORACLE, QUERIES, q  # noqa: F401
from martech_pipelines_spark.operators.windows import (
    journey_merge,
    journey_readout,
    journey_state,
)
from martech_pipelines_spark.plans.corpus_r9b import _MART24_ORACLE
from martech_pipelines_spark.sources import load_table

# ---------------------------------------------------------------------------
# g6: k-core decomposition (fixed-round sync peel over the co-purchase graph)
# ---------------------------------------------------------------------------

_G6_K = 3
_G6_ROUNDS = 3


def _g6_oracle() -> str:
    """Peel rounds unrolled as CTEs: d{i} = degrees within the round-i
    survivor-induced subgraph, a{i} = nodes with d{i}.deg >= k."""
    blocks = [
        """li AS (
        SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.p AS src, b.p AS dst
        FROM li a JOIN li b ON a.k = b.k AND a.p <> b.p
    ), a0 AS (
        SELECT DISTINCT src AS node FROM edges
    )"""
    ]
    for i in range(_G6_ROUNDS):
        blocks.append(
            f"""d{i + 1} AS (
        SELECT e.src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM edges e
        JOIN a{i} s ON e.src = s.node
        JOIN a{i} t ON e.dst = t.node
        GROUP BY 1
    ), a{i + 1} AS (
        SELECT node FROM d{i + 1} WHERE deg >= {_G6_K}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"\n    SELECT node, deg FROM d{_G6_ROUNDS} WHERE deg >= {_G6_K}\n"
    )


@q("g6_kcore", _g6_oracle())
def g6_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition in its deterministic, value-checkable form:
    SYNC peeling over the co-purchase graph for {rounds} fixed rounds
    at k={k} — each round recomputes surviving degrees within the
    survivor-induced subgraph and drops nodes below k, converging on
    the dense core that triangle counts (g2) measure locally and
    communities (g4) partition.  The core/periphery split is the
    classic "which products anchor the catalog" mart.  Fixed rounds
    make the peel CTE-unrollable (the g4/g5 discipline), so it carries
    a full oracle.  Scale shape per round: two semi-joins of the fixed
    edge list against the shrinking survivor set + one map-side-
    combined count — no payload ever moves, and the survivor set
    becomes broadcastable as the peel bites."""
    from martech_pipelines_spark.operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    edges = G.copurchase_edges(li)
    return G.kcore_rounds(edges, k=_G6_K, rounds=_G6_ROUNDS).select("node", "deg")


# ---------------------------------------------------------------------------
# mart25: discrete-time churn hazard (survival analysis with censoring)
# ---------------------------------------------------------------------------

_MART25_CHURN_DAYS = 90  # inactive this long before the data edge = churned
_MART25_MONTH_DAYS = 30  # lifetime bucketing: observed span div 30

_MART25_ORACLE = f"""
    WITH cust AS (
        SELECT o_custkey,
               min(CAST(o_orderdate AS DATE)) AS first_d,
               max(CAST(o_orderdate AS DATE)) AS last_d
        FROM orders GROUP BY 1
    ), mx AS (SELECT max(last_d) AS maxd FROM cust),
    lab AS (
        SELECT CAST(date_diff('day', first_d, last_d)
                    // {_MART25_MONTH_DAYS} AS BIGINT) AS life_month,
               CASE WHEN last_d < maxd - {_MART25_CHURN_DAYS}
                    THEN 1 ELSE 0 END AS churned
        FROM cust, mx
    ), hist AS (
        SELECT life_month,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(churned) AS BIGINT) AS n_events
        FROM lab GROUP BY 1
    ), curve AS (
        SELECT life_month, n_events,
               CAST(sum(n_cust) OVER (
                   ORDER BY life_month DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_at_risk
        FROM hist
    )
    SELECT life_month, n_at_risk, n_events,
           CAST((n_events * 2000000 + n_at_risk)
                // (2 * n_at_risk) AS BIGINT) AS hazard_e6
    FROM curve
"""


def _hazard_state(orders: DataFrame) -> DataFrame:
    """Mergeable per-customer survival state from an order batch: first
    and last order date (min/max fold)."""
    return orders.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
    )


def _hazard_merge_state(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two survival-state tables: min first, max last per customer."""
    return (
        a.unionByName(b)
        .groupBy("o_custkey")
        .agg(F.min("first_d").alias("first_d"), F.max("last_d").alias("last_d"))
    )


def _hazard_curve(cust: DataFrame) -> DataFrame:
    """Shared hazard-table tail (mart25 + its IVM twin h28): label,
    month histogram, reverse-cumulative at-risk, half-up e6 hazard."""
    mx = cust.agg(F.max("last_d").alias("maxd"))
    lab = cust.crossJoin(F.broadcast(mx)).select(
        F.expr(f"datediff(last_d, first_d) div {_MART25_MONTH_DAYS}")
        .cast("long")
        .alias("life_month"),
        F.when(
            F.col("last_d") < F.date_sub(F.col("maxd"), _MART25_CHURN_DAYS), 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    hist = lab.groupBy("life_month").agg(
        F.count("*").cast("long").alias("n_cust"),
        F.sum("churned").cast("long").alias("n_events"),
    )
    w = Window.orderBy(F.desc("life_month")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = hist.select(
        "life_month",
        "n_events",
        F.sum("n_cust").over(w).cast("long").alias("n_at_risk"),
    )
    return curve.select(
        "life_month",
        "n_at_risk",
        "n_events",
        F.expr(
            "(n_events * CAST(2000000 AS BIGINT) + n_at_risk)"
            " div (2 * n_at_risk)"
        )
        .cast("long")
        .alias("hazard_e6"),
    )


@q("mart25_churn_hazard", _MART25_ORACLE)
def mart25_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard — survival analysis with RIGHT
    CENSORING, the lifecycle view that point-in-time churn flags
    (mart17) and retention grids (mart2/mart15) cannot give: per
    lifetime month m, how many customers were still at risk, how many
    churned exactly at m, and the hazard rate.  A customer's observed
    lifetime is their first-to-last order span in {md}-day months;
    churned = inactive for {cd} days before the dataset's own max date
    (data-derived anchor, no wall-clock); active customers are CENSORED
    — they stay in every at-risk denominator their lifetime covers but
    never count as an event, exactly the Kaplan-Meier hazard input.
    All integer: day diffs, floor-div month buckets, half-up e6 rates.
    Scale shape: one customer-keyed map-side-combined agg, a 1-row max
    broadcast, then a reverse-cumulative window over the MONTH
    HISTOGRAM (domain-bounded rows — the r29 discipline: the single-
    partition pass touches ~lifetime-months rows, never customers)."""
    orders = load_table(spark, sf_dir, "orders")
    return _hazard_curve(_hazard_state(orders))


_H28_CUT_DATE = "1995-06-01"  # order-date split for the IVM twin


@q("h28_incremental_hazard", _MART25_ORACLE)
def h28_incremental_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mart25's IVM proof (SHARES its oracle): per-customer survival
    state is just (first order date, last order date) — a min/max fold,
    mergeable in any batch order — so two order batches split at a date
    cut and folded must reproduce the full-recompute hazard table
    bit-for-bit.  This is how a retention dashboard stays warm: each
    delta batch shuffles only its own customers' rows, the censoring
    anchor (max date) is re-read from merged state at render time (a
    stale anchor would silently shift every censoring decision), and
    history is never re-scanned."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.to_date(F.lit(_H28_CUT_DATE))
    early = orders.where(F.col("o_orderdate").cast("date") < cut)
    late = orders.where(F.col("o_orderdate").cast("date") >= cut)
    state = _hazard_merge_state(_hazard_state(late), _hazard_state(early))
    return _hazard_curve(state)


# ---------------------------------------------------------------------------
# h27: mart24 maintained incrementally (journey strings as mergeable state)
# ---------------------------------------------------------------------------

_H27_CUT_US = 1705276800000000  # 2024-01-15T00:00:00Z (integer micros)


@q("h27_incremental_journey", _MART24_ORACLE)
def h27_incremental_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mart24's IVM proof (SHARES its oracle): the event log ts-splits
    into two batches, each reduced to ``journey_state``, folded by
    ``journey_merge`` and matched by ``journey_readout`` at READ — so
    funnels that SPAN the batch boundary (view in January, purchase in
    February) are counted, which per-batch match counts would silently
    drop.  Each delta batch shuffles only its own users' rows; history
    is never re-scanned."""
    ev = load_table(spark, sf_dir, "events")
    early = journey_state(ev.where(F.unix_micros("ts") < F.lit(_H27_CUT_US)))
    late = journey_state(ev.where(F.unix_micros("ts") >= F.lit(_H27_CUT_US)))
    parts = early.withColumn("batch_id", F.lit(0)).unionByName(
        late.withColumn("batch_id", F.lit(1))
    )
    return journey_readout(journey_merge(parts))


# ---------------------------------------------------------------------------
# s31: dimension-truncation recall curve (the Matryoshka budget trade)
# ---------------------------------------------------------------------------

_S31_DIMS = (16, 32, 64)
_S31_K = 5


def _s31_cos_sql(d: int) -> str:
    """Cosine over the first ``d`` components, rounded to 4dp — the
    s1/s25 ranking construct applied to list_slice prefixes."""
    qv = f"list_slice(CAST(q.embedding AS DOUBLE[]), 1, {d})"
    ev = f"list_slice(CAST(e.embedding AS DOUBLE[]), 1, {d})"
    return (
        f"round(list_dot_product({qv}, {ev})"
        f" / (sqrt(list_dot_product({qv}, {qv}))"
        f" * sqrt(list_dot_product({ev}, {ev}))), 4)"
    )


def _s31_oracle() -> str:
    k = _S31_K
    full = max(_S31_DIMS)
    blocks = [
        f"""exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_s31_cos_sql(full)} DESC, e.vec_id ASC
                   ) AS rnk
            FROM embeddings q CROSS JOIN embeddings e
            WHERE q.vec_id % 10 = 0
              AND {_s31_cos_sql(full)} IS NOT NULL
        ) WHERE rnk <= {k}
    )"""
    ]
    rows = []
    for d in _S31_DIMS:
        blocks.append(
            f"""sel{d} AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_s31_cos_sql(d)} DESC, e.vec_id ASC
                   ) AS rnk
            FROM embeddings q CROSS JOIN embeddings e
            WHERE q.vec_id % 10 = 0
              AND {_s31_cos_sql(d)} IS NOT NULL
        ) WHERE rnk <= {k}
    )"""
        )
        rows.append(
            f"""SELECT CAST({d} AS BIGINT) AS dim,
           CAST(count(DISTINCT x.query_id) AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(a.vec_id) AS BIGINT) AS hits,
           CAST((CAST(count(a.vec_id) AS BIGINT) * 20000 + count(*))
                // (2 * count(*)) AS BIGINT) AS recall_e4
    FROM exact x LEFT JOIN sel{d} a
      ON a.query_id = x.query_id AND a.vec_id = x.vec_id"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + "\n    "
        + "\n    UNION ALL\n    ".join(rows)
    )


@q("s31_dim_truncation_recall", _s31_oracle())
def s31_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension-budget curve: recall@{k} when queries and corpus
    are truncated to their first 16/32/64 components (the Matryoshka /
    dimension-reduction serving trade — half the dimensions means half
    the scan bytes, the flat-index analog of s25's probe budget and
    s30's hop budget), judged against the full-dimension exact ranker.
    Prefix truncation is a pure projection, so every ranker is the
    same deterministic round(cos,4)+id construct and the whole curve
    carries a full oracle; the 64-dim row is the built-in sanity anchor
    (recall 10000 by construction).  Scale shape: every ranker runs
    through the Arrow map-side top-k kernel (s30's exact-side lane,
    pinned bit-equal to the JVM form) — the corpus is never shuffled,
    only |batches| x |Q| x k candidate rows reach the final window, and
    slicing happens before the kernel so each truncated pass moves only
    prefix bytes."""
    from martech_pipelines_spark import caching
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = caching.register(
        SIM.brute_force_topk_arrow(queries, emb, k=_S31_K)
        .select("query_id", "vec_id")
        .persist()
    )
    parts = []
    for d in _S31_DIMS:
        if d == max(_S31_DIMS):
            sel = exact
        else:
            qd = queries.select(
                "query_id", F.slice("embedding", 1, d).alias("embedding")
            )
            cd = emb.select(
                "vec_id", F.slice("embedding", 1, d).alias("embedding")
            )
            sel = SIM.brute_force_topk_arrow(qd, cd, k=_S31_K).select(
                "query_id", "vec_id"
            )
        parts.append(sel.select(F.lit(d).cast("long").alias("dim"), "query_id", "vec_id"))
    sel_all = parts[0]
    for p in parts[1:]:
        sel_all = sel_all.unionByName(p)
    hits = (
        exact.join(sel_all, ["query_id", "vec_id"])
        .groupBy("dim")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    totals = exact.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    grid = spark.createDataFrame([(int(d),) for d in _S31_DIMS], "dim long")
    return (
        grid.crossJoin(F.broadcast(totals))
        .join(F.broadcast(hits), "dim", "left")
        .select(
            "dim",
            "n_queries",
            "n_pairs",
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.expr(
                "(coalesce(hits, 0) * CAST(20000 AS BIGINT) + n_pairs)"
                " div (2 * n_pairs)"
            )
            .cast("long")
            .alias("recall_e4"),
        )
    )


g6_kcore.__doc__ = g6_kcore.__doc__.format(rounds=_G6_ROUNDS, k=_G6_K)
mart25_churn_hazard.__doc__ = mart25_churn_hazard.__doc__.format(
    md=_MART25_MONTH_DAYS, cd=_MART25_CHURN_DAYS
)
s31_dim_truncation_recall.__doc__ = s31_dim_truncation_recall.__doc__.format(
    k=_S31_K
)


# ---------------------------------------------------------------------------
# g7: degree-distribution histogram (the graph-shape profile)
# ---------------------------------------------------------------------------

_G7_ORACLE = """
    WITH li AS (
        SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.p AS src, b.p AS dst
        FROM li a JOIN li b ON a.k = b.k AND a.p <> b.p
    ), deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM edges GROUP BY 1
    )
    SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS deg_bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(deg) AS BIGINT) AS total_deg,
           CAST(min(deg) AS BIGINT) AS min_deg,
           CAST(max(deg) AS BIGINT) AS max_deg
    FROM deg GROUP BY 1
"""


@q("g7_degree_histogram", _G7_ORACLE)
def g7_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution histogram of the co-purchase graph in
    power-of-two buckets — the SHAPE profile that sizes every other
    graph job before it runs: a heavy tail here is why g2's triangle
    count needs degree-ordered orientation, why a hub key skews the g1
    rank join, and what dq14 reports for relational shuffle keys,
    measured for the graph.  The bucket is ``length(bin(deg)) - 1`` =
    floor(log2(deg)) computed in INTEGER string space on both engines —
    never float log2, whose 2^k boundaries round unpredictably (the
    t17/t50 log-contract discipline applied to bucketing).  Scale
    shape: one map-side-combined degree count, then a second
    map-side-combined agg over |V| skinny rows into ~32 buckets; no
    joins, no windows."""
    from martech_pipelines_spark.operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    deg = (
        G.copurchase_edges(li)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("deg"))
    )
    return deg.groupBy(
        F.expr("length(bin(deg)) - 1").cast("long").alias("deg_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("total_deg"),
        F.min("deg").cast("long").alias("min_deg"),
        F.max("deg").cast("long").alias("max_deg"),
    )
