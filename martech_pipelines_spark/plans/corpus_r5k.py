"""Round-5k corpus additions (ninth wave of round 5).

- ``mart13_rfm`` — RFM (recency / frequency / monetary) customer
  segmentation, the canonical martech scoring mart: three metrics from
  one aggregation pass, quintile scores via deterministic ntile, named
  segments for the classic score combinations.
- ``h15_incremental_baskets`` — IVM proof for the basket-affinity mart:
  pair/item/order counts are all ADDITIVE, so the state tables fold
  over order-batches with plain keyed sums and the top-50 rule read
  reproduces mart10's full-recompute oracle exactly.

Registers into the shared QUERIES/ORACLE dicts at import time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from martech_pipelines_spark.operators.transforms import (
    basket_merge,
    basket_readout,
    basket_state,
)
from martech_pipelines_spark.plans.corpus import ORACLE, QUERIES, q  # noqa: F401
from martech_pipelines_spark.plans.corpus_r5e import _MART10_ORACLE
from martech_pipelines_spark.sources import load_table


# =============================================================================
# mart13: RFM segmentation.
# Reference scope: §2.J north-star — the segment labels the reference's
# user-profile exports (tasks/user_profile/*) ship to engagement tools;
# here the scoring itself runs inside the engine.
# =============================================================================

_MART13_ORACLE = """
    WITH anchor AS (
        SELECT max(o_orderdate) AS mx FROM orders
    ), per_cust AS (
        SELECT o_custkey AS custkey,
               date_diff('day', max(o_orderdate), anchor.mx) AS recency_days,
               count(*) AS frequency,
               CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                               AS DOUBLE), 2) AS DOUBLE) AS monetary
        FROM orders, anchor GROUP BY o_custkey, anchor.mx
    ), scored AS (
        SELECT custkey, recency_days, frequency, monetary,
               ntile(5) OVER (ORDER BY recency_days DESC, custkey)
                   AS r_score,
               ntile(5) OVER (ORDER BY frequency ASC, custkey) AS f_score,
               ntile(5) OVER (ORDER BY monetary ASC, custkey) AS m_score
        FROM per_cust
    )
    SELECT custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CASE
               WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                   THEN 'champion'
               WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
               WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
               WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
               ELSE 'regular'
           END AS segment
    FROM scored
"""


@q("mart13_rfm", _MART13_ORACLE)
def mart13_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM scoring: per customer, days since last order (vs the table's
    own max date — a broadcast 1-row scalar, no wall clock), order
    count, and DECIMAL-exact lifetime spend from ONE keyed aggregation;
    quintile scores via ntile over (metric, custkey) — the tiebreak
    makes bucket boundaries deterministic across engines — and the
    classic segment labels as a plain CASE.  The three ntiles run as
    two-phase ranged scans (operators.scan, one per metric order): the
    per-customer table grows with the data, so the round-10 spine audit
    retired the old single-partition ntile windows here — exact global
    row numbers from range-partitioned local ranks + P-row offsets,
    then the bucket arithmetic with |customers| as a broadcast 1-row
    scalar."""
    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    per_cust = (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(F.max("mx"), F.max("o_orderdate")).alias(
                "recency_days"
            ),
            F.count("*").alias("frequency"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("monetary"),
        )
    )
    from martech_pipelines_spark.operators.scan import (
        ntile_from_rn,
        ranged_row_number,
    )

    n_cust = per_cust.agg(F.count("*").alias("__n"))
    scored = per_cust.join(F.broadcast(n_cust))
    for col, order in (
        ("r_score", [F.desc("recency_days"), F.asc("custkey")]),
        ("f_score", [F.asc("frequency"), F.asc("custkey")]),
        ("m_score", [F.asc("monetary"), F.asc("custkey")]),
    ):
        scored = ranged_row_number(scored, order, "__rn").withColumn(
            col, ntile_from_rn(F.col("__rn"), F.col("__n"), 5)
        )
    scored = scored.drop("__rn", "__n")
    seg = (
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating"
        )
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg)


# =============================================================================
# h15: incrementally-maintained basket affinity (shares mart10's oracle and
# its state/merge/readout, operators/transforms.py).
# =============================================================================


@q("h15_incremental_baskets", _MART10_ORACLE)
def h15_incremental_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the basket-affinity state across three order-key-split
    batches: per-batch pair/item/order counts fold into the state with
    keyed sums (splitting BY ORDER keeps every pair inside one batch —
    the contract a basket feed naturally satisfies, since an order's
    lines arrive together).  The top-50 rule read over the maintained
    state must equal mart10's full recompute (shared oracle): support,
    confidence and lift all derive from the three additive tables, so
    incremental maintenance is exact, not approximate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p")
    )
    state = basket_state(li.where(F.col("k") % 3 == 0))
    for i in (1, 2):
        state = basket_merge(state, basket_state(li.where(F.col("k") % 3 == i)))
    return basket_readout(state)
