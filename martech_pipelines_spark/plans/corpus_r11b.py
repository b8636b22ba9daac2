"""Round-11 corpus, wave 2: curation/retrieval/DQ operators extending
the LLM-data-pipeline surface — every entry with a full DuckDB oracle.

- ``s35_kcenter_greedy_det`` — greedy farthest-point (k-center) coreset
  selection: the standard diversity-sampling primitive for training-
  data subset selection (Sener & Savarese 2018's active-learning core
  loop), made engine-exact with quantized-integer distances and
  deterministic tie-breaks.
- ``s36_mutual_sparse_knn`` — reciprocal top-k pairs from the t54
  sparse retrieval kernel: the mutual-kNN verification lane a near-dup
  pipeline runs AFTER candidate generation (a pair both of whose ends
  rank each other is far stronger evidence than one-directional rank).
- ``t58_contamination_curve`` — dd9's 8-gram decontamination swept over
  window widths {4, 8, 12}: the contamination-strength curve that picks
  the audit width (short windows over-flag boilerplate, long windows
  under-flag paraphrase — the GPT-3/PaLM reports tabulate exactly this).
- ``mart29_markov_top1`` — the top-1 next-event predictor readout off
  mart28's transition matrix, with per-state accuracy: the baseline any
  sequence model must beat, and the mart28 consumer that proves the
  matrix composes.
- ``h34_incremental_feature_hashing`` — fe6 maintained incrementally
  (signed slot cells are additive; SHARES fe6's oracle).
- ``h35_incremental_completeness`` — dq18 maintained incrementally
  (counter cells additive; the lang-cardinality column folds through a
  distinct-cell state; SHARES dq18's oracle).
- ``dq19_iqr_outlier_days`` — Tukey-fence outlier days per event type
  with integer order-statistic quartiles (doubled-fence trick keeps the
  1.5x IQR arithmetic in BIGINT end to end).

Reference anchor: extensions beyond the reference's compute surface
(martech_pipelines/tasks/user_profile/clevertap.py:30-53 is the
flagship's scope); SURVEY.md §7.3 north-star lanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from martech_pipelines_spark.operators.text import (
    completeness_readout,
    completeness_state,
    feature_hash_readout,
    feature_hash_state,
)
from martech_pipelines_spark.operators.transforms import sum_merge
from martech_pipelines_spark.operators.windows import (
    daily_count_state,
    outlier_days_readout,
    transition_cells,
)
from martech_pipelines_spark.plans.corpus import ORACLE, q
from martech_pipelines_spark.plans.corpus_extended import _DUCK_NORM
from martech_pipelines_spark.plans.corpus_r10 import (
    _DUCK_TOKENS,
    _t54_ctes,
    sparse_topk_readout,
    trigram_tf_state,
)
from martech_pipelines_spark.sources import load_table

# =============================================================================
# s35: greedy farthest-point (k-center) coreset selection
# =============================================================================
#
# Quantized-integer geometry (the s2e/_QVEC idiom): xq = floor(x*1e6+0.5),
# ||a-b||^2 computed as an exact BIGINT (per-dim diffs <= ~2e6, squared
# and summed over 64 dims < 3e14 — inside both BIGINT and double-exact
# range, so the oracle's list_dot_product identity matches bit for bit).
# Seeds/ties deterministic: c1 = min vec_id; each next center = argmax
# min-distance-to-chosen, ties to the lowest vec_id.  Three rounds
# unrolled (the s2j/s13b fixed-iteration discipline).

_S35_K = 3

_S35_QVEC = (
    "list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x*1000000 + 0.5))"
)


def _s35_dist(a: str, b: str) -> str:
    return (
        f"CAST(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        f" - 2*list_dot_product({a}, {b}) AS BIGINT)"
    )


def _s35_oracle() -> str:
    d_c = _s35_dist("x.q", "c.cq")
    return f"""
WITH x AS (SELECT vec_id, {_S35_QVEC} AS q FROM embeddings),
c1 AS (SELECT vec_id AS cid, q AS cq FROM x ORDER BY vec_id LIMIT 1),
d1 AS (SELECT x.vec_id, x.q, {d_c} AS d FROM x, c1 c),
c2 AS (SELECT vec_id AS cid, q AS cq FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
d2 AS (SELECT d1.vec_id, d1.q, least(d1.d, {_s35_dist('d1.q', 'c.cq')}) AS d
       FROM d1, c2 c),
c3 AS (SELECT vec_id AS cid, q AS cq FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
cents AS (
    SELECT 1 AS crank, cid, cq FROM c1
    UNION ALL SELECT 2, cid, cq FROM c2
    UNION ALL SELECT 3, cid, cq FROM c3
),
scored AS (
    SELECT x.vec_id, c.crank, c.cid, {d_c} AS d
    FROM x CROSS JOIN cents c
)
SELECT vec_id, CAST(crank AS BIGINT) AS center_rank,
       cid AS center_id, d AS d2
FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY d, crank) AS rn
      FROM scored)
WHERE rn = 1
"""


def _kcenter_int_points(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(1000000.0) + F.lit(0.5))
            .cast("long"),
        ).alias("q"),
    )


def _kcenter_d2(qa, qb):
    return F.aggregate(
        F.zip_with(qa, qb, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def kcenter_greedy_det(emb: DataFrame, k: int = _S35_K) -> DataFrame:
    """Greedy farthest-point selection over quantized-integer vectors:
    k unrolled rounds, each = one broadcast 1-row center join + a
    global top-1 (TakeOrderedAndProject — never a full sort), exactly
    the k-passes-over-data shape production k-center runs.  Returns
    every point's (vec_id, center_rank, center_id, d2) assignment with
    argmin ties to the earlier-chosen center."""
    pts = _kcenter_int_points(emb)
    centers = []  # 1-row frames (crank, cid, cq)
    c = pts.orderBy("vec_id").limit(1).select(
        F.lit(1).alias("crank"),
        F.col("vec_id").alias("cid"),
        F.col("q").alias("cq"),
    )
    centers.append(c)
    dmin = None  # running min distance to the chosen set: (vec_id, q, __d)
    for rank in range(2, k + 1):
        cur = pts.crossJoin(F.broadcast(c.select("cq"))).select(
            "vec_id", "q", _kcenter_d2(F.col("q"), F.col("cq")).alias("__d")
        )
        if dmin is not None:
            dmin = dmin.select(
                "vec_id", "q", F.col("__d").alias("__dprev")
            ).join(cur.select("vec_id", "__d"), "vec_id").select(
                "vec_id", "q", F.least("__dprev", "__d").alias("__d")
            )
        else:
            dmin = cur
        c = dmin.orderBy(F.desc("__d"), F.asc("vec_id")).limit(1).select(
            F.lit(rank).alias("crank"),
            F.col("vec_id").alias("cid"),
            F.col("q").alias("cq"),
        )
        centers.append(c)
    cents = centers[0]
    for extra in centers[1:]:
        cents = cents.unionByName(extra)
    scored = pts.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "crank",
        "cid",
        _kcenter_d2(F.col("q"), F.col("cq")).alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("crank"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("crank").cast("long").alias("center_rank"),
            F.col("cid").alias("center_id"),
            F.col("d").alias("d2"),
        )
    )


@q("s35_kcenter_greedy_det", _s35_oracle())
def s35_kcenter_greedy_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (diversity sampling), fully
    value-checked: 3 farthest-point rounds over exact integer distances
    with deterministic seed (min vec_id) and ties (lowest vec_id /
    earliest center).  This is the subset-selection primitive of
    active-learning/coreset curation — pick the K most mutually-distant
    exemplars, assign everything to its nearest pick.  Scale shape: k
    passes over the corpus, each one broadcast 1-row join + a top-1
    reduce; the final assignment is one broadcast k-row join.  No
    all-pairs stage anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_greedy_det(emb, k=_S35_K)


# =============================================================================
# s36: mutual (reciprocal) sparse kNN pairs
# =============================================================================

_S36_ORACLE = f"""
WITH {_t54_ctes()}
SELECT a.doc_id AS doc_a, a.nbr_id AS doc_b, a.dot, a.cos2_e6
FROM sp5 a JOIN sp5 b
  ON b.doc_id = a.nbr_id AND b.nbr_id = a.doc_id
WHERE a.doc_id < a.nbr_id
"""


@q("s36_mutual_sparse_knn", _S36_ORACLE)
def s36_mutual_sparse_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal top-k pairs over the t54 sparse index: a pair
    survives only if EACH doc ranks the other inside its own top-5 —
    the mutual-kNN filter that turns one-directional rank (hub docs
    rank everyone) into symmetric near-dup evidence.  Composes the
    oracle-checked t54 kernel with one keyed self-join on the (doc,
    nbr) edge set (top-k-bounded: at most 5|docs| rows in, never the
    corpus).  Output is the undirected candidate edge list a
    verification pass (dd5 n-gram Jaccard) consumes."""
    docs = load_table(spark, sf_dir, "documents")
    topk = sparse_topk_readout(trigram_tf_state(docs)).select(
        "doc_id", "nbr_id", "dot", "cos2_e6"
    )
    rev = topk.select(
        F.col("doc_id").alias("nbr_id"), F.col("nbr_id").alias("doc_id")
    )
    return (
        topk.join(rev, ["doc_id", "nbr_id"])
        .where(F.col("doc_id") < F.col("nbr_id"))
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("nbr_id").alias("doc_b"),
            "dot",
            "cos2_e6",
        )
    )


# =============================================================================
# t58: contamination-strength curve over window widths
# =============================================================================

_T58_WIDTHS = (4, 8, 12)


def _t58_block(w: int) -> str:
    return f"""
    SELECT CAST({w} AS BIGINT) AS w,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST((sum(CASE WHEN hit THEN 1 ELSE 0 END) * 2000000 + count(*))
                // (2 * count(*)) AS BIGINT) AS frac_e6
    FROM (
        SELECT d.doc_id,
               d.doc_id IN (
                   SELECT DISTINCT t.doc_id
                   FROM win{w} t
                   WHERE t.doc_id % 10 <> 3
                     AND t.h IN (SELECT h FROM win{w} WHERE doc_id % 10 = 3)
               ) AS hit
        FROM documents d WHERE d.doc_id % 10 <> 3
    )"""


def _t58_oracle() -> str:
    wins = []
    for w in _T58_WIDTHS:
        wins.append(f"""
win{w} AS (
    SELECT doc_id,
           md5(array_to_string(
               t[CAST(i AS INTEGER):CAST(i + {w - 1} AS INTEGER)], ' '
           )) AS h
    FROM toks, unnest(range(1, len(t) - {w - 2})) u(i)
    WHERE len(t) >= {w}
)""")
    blocks = " UNION ALL ".join(_t58_block(w) for w in _T58_WIDTHS)
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex({_DUCK_NORM.format(col='text')},
               '[^a-z0-9'']+'), x -> x <> '') AS t
    FROM documents
),
{",".join(wins)}
{blocks}
"""


@q("t58_contamination_curve", _t58_oracle())
def t58_contamination_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd9's decontamination audit swept over window widths {4, 8, 12}:
    per width, how many training docs (doc_id%10!=3, the dd9 eval-set
    convention) share at least one w-token window with the eval set,
    as count + half-up e6 fraction.  This is the curve that CHOOSES the
    audit width — 4-grams over-flag boilerplate, 13-grams under-flag
    paraphrase; the knee is the operating point.  Scale shape: per
    width one broadcast of the (small-by-nature) eval hash set and one
    map-side-filtered train scan — the dd9 plan three times, never a
    corpus shuffle."""
    from martech_pipelines_spark.operators import dedup as DD

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 3)
    eval_docs = docs.where(F.col("doc_id") % 10 == 3)
    per_w = []
    for w in _T58_WIDTHS:
        flagged = DD.decontaminate(train, eval_docs, w=w)
        per_w.append(
            flagged.agg(
                F.lit(w).cast("long").alias("w"),
                F.count("*").cast("long").alias("n_train"),
                F.sum(F.col("contaminated").cast("int"))
                .cast("long")
                .alias("n_contaminated"),
            ).select(
                "w",
                "n_train",
                "n_contaminated",
                F.expr(
                    "(n_contaminated * 2000000 + n_train) div (2 * n_train)"
                ).cast("long").alias("frac_e6"),
            )
        )
    out = per_w[0]
    for nxt in per_w[1:]:
        out = out.unionByName(nxt)
    return out


# =============================================================================
# mart29: Markov top-1 next-event predictor readout
# =============================================================================

_MART29_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ), cells AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(count(*) AS BIGINT) AS n_trans
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ), rowtot AS (
        SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS row_total
        FROM cells GROUP BY 1
    ), best AS (
        SELECT from_type, to_type AS predicted_to, n_trans AS n_correct
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY from_type
                  ORDER BY n_trans DESC, to_type) AS rn FROM cells)
        WHERE rn = 1
    )
    SELECT b.from_type, b.predicted_to, b.n_correct, r.row_total,
           CAST((b.n_correct * 2000000 + r.row_total) // (2 * r.row_total)
                AS BIGINT) AS acc_e6
    FROM best b JOIN rowtot r USING (from_type)
"""


@q("mart29_markov_top1", _MART29_ORACLE)
def mart29_markov_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-1 Markov next-event predictor off mart28's transition
    matrix, with per-state accuracy (the n_trans share its argmax row
    captures): the baseline every sequence model must beat, and the
    downstream consumer that proves the transition cells compose.
    Ties to the lexicographically-first event type (total order).
    Scale shape: mart28's one keyed window + count, then event-type-
    bounded spine work only."""
    ev = load_table(spark, sf_dir, "events")
    cells = transition_cells(ev)
    rowtot = cells.groupBy("from_type").agg(
        F.sum("n_trans").cast("long").alias("row_total")
    )
    w = Window.partitionBy("from_type").orderBy(
        F.desc("n_trans"), F.asc("to_type")
    )
    best = (
        cells.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "from_type",
            F.col("to_type").alias("predicted_to"),
            F.col("n_trans").alias("n_correct"),
        )
    )
    return best.join(F.broadcast(rowtot), "from_type").select(
        "from_type",
        "predicted_to",
        "n_correct",
        "row_total",
        F.expr(
            "(n_correct * 2000000 + row_total) div (2 * row_total)"
        ).cast("long").alias("acc_e6"),
    )


# =============================================================================
# h34: incremental feature hashing (fe6's IVM twin)
# =============================================================================


@q("h34_incremental_feature_hashing", ORACLE["fe6_feature_hashing"])
def h34_incremental_feature_hashing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """fe6 maintained INCREMENTALLY (SHARES fe6's oracle — the IVM
    proof): docs split by parity into two ingest batches, each reduced
    to ``feature_hash_state`` cells, summed by ``sum_merge`` and
    rendered by ``feature_hash_readout`` — the cheapest IVM family, the one a
    feature store maintains under streaming ingest.  Only the delta
    batch is ever tokenized."""
    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    cells = sum_merge(
        ["doc_id", "slot"], feature_hash_state(b1), feature_hash_state(b2)
    )
    return feature_hash_readout(cells)


# =============================================================================
# h35: incremental completeness matrix (dq18's IVM twin)
# =============================================================================


@q("h35_incremental_completeness", ORACLE["dq18_completeness_matrix"])
def h35_incremental_completeness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dq18 maintained INCREMENTALLY (SHARES dq18's oracle): docs split
    by parity, each batch reduced to ``completeness_state``, the cells
    merged and rendered by ``completeness_readout`` identical to the
    full recompute — how an intake dashboard absorbs a new crawl slice
    without re-scanning history."""
    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    cells = sum_merge(
        ["source", "lang"], completeness_state(b1), completeness_state(b2)
    )
    return completeness_readout(cells)


# =============================================================================
# dq19: Tukey-fence (IQR) outlier days per event type
# =============================================================================

_DQ19_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT event_type, d, c,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY c, d) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ), quart AS (
        SELECT q1.event_type, q1.n, q1.c AS q1, q3.c AS q3
        FROM (SELECT event_type, n, c FROM ranked
              WHERE rn = (n + 3) // 4) q1
        JOIN (SELECT event_type, c FROM ranked
              WHERE rn = (3 * n + 3) // 4) q3 USING (event_type)
    )
    SELECT r.event_type, CAST(q.n AS BIGINT) AS n_days, q.q1, q.q3,
           CAST(sum(CASE WHEN 2 * r.c < 2 * q.q1 - 3 * (q.q3 - q.q1)
                           OR 2 * r.c > 2 * q.q3 + 3 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_days
    FROM ranked r JOIN quart q USING (event_type)
    GROUP BY 1, 2, 3, 4
"""


@q("dq19_iqr_outlier_days", _DQ19_ORACLE)
def dq19_iqr_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence anomaly days per event type — the robust companion
    to dq2's rolling z-score (fences from order statistics survive the
    very outliers a mean/stddev monitor absorbs): quartiles as exact
    order statistics (ceil-rank convention, integer (n+3) div 4), and
    the 1.5x IQR fences kept in BIGINT by doubling both sides (2c vs
    2q1 - 3*IQR — no .5 ever materializes).  Scale shape: events reduce
    map-side to the (type, day) spine; ranks and fences run per type
    over ~30-row keyed windows."""
    ev = load_table(spark, sf_dir, "events")
    return outlier_days_readout(daily_count_state(ev))
