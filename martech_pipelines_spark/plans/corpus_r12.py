"""Round-12 corpus: the r11 VERDICT directives as oracle-checked queries.

- ``s32b_lexical_dense_agreement_fixedq`` — s32's fixed-|Q| scale twin
  (VERDICT r11 "What's wrong" #1 / "Next round" #2): s32's query set is
  10% of the corpus (``vec_id % 10 == 0``) feeding brute-force dense
  cosine, i.e. |Q|*corpus pair work that is workload-quadratic BY
  CONSTRUCTION — the exact pattern the s8c3/s2i3 fixed-|Q| twins exist
  to kill — and its sparse side ran at the inactive df cap.  This twin
  pins |Q| = 500 at every sf (``vec_id < 500`` — sequential ids from 0
  at every shipped tier, sf1 synthesis keeps copy 0's ids) and runs the
  sparse side at the PINNED df cap (50, the lever the live sf1 gate
  measured at 1.95x capped pair work vs 109x uncapped).  Oracle derived
  from s32's by predicate swap only, assert-guarded (the s8c3 pattern).
  s32 stays registered as the correctness anchor.

- ``h7b_incremental_hll_registers`` — the HLL register algebra itself,
  value-checked (VERDICT r11 "Next round" #4): h7/r3b/r31b are
  rows-only because production HLL state is engine-specific; r3c/h24
  oracled the KMV *estimator* family but the HLL family's own state
  algebra was still pytest-only.  This twin builds deterministic HLL
  registers (m=32, md5-derived 32-bit hashes, rho via exact bit-length
  — no floats anywhere), maintains them incrementally (watermark split,
  elementwise-max merge), and hash-checks the full register table plus
  an integer raw-estimate column against a DuckDB recompute from the
  whole log.  merge(sketch(A), sketch(B)) == sketch(A∪B) is now
  engine-exact, not just pytest-gated.

Reference anchor: both extend SURVEY.md §2.J/§7.3 north-star surface
(hybrid-retrieval eval, streaming distinct-count maintenance); the
reference's compute layer (martech_pipelines/tasks/user_profile/
clevertap.py) has no analog — these are the LLM-data-pipeline
extensions the build plan prescribes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from martech_pipelines_spark.operators.sketches import (
    _HLL_M,
    _HLL_WBITS,
    hll_merge,
    hll_registers,
)
from martech_pipelines_spark.plans.corpus import q
from martech_pipelines_spark.plans.corpus_r10 import (
    _DUCK_TOKENS,
    _S32_ORACLE,
    sparse_topk_readout,
    trigram_tf_state,
)
from martech_pipelines_spark.sources import load_table

# =============================================================================
# s32b: lexical-vs-dense agreement, fixed |Q| + pinned df cap
# =============================================================================

_S32B_FIXQ = 500     # |Q| at EVERY sf (s8c3's pinning: ids sequential from 0)
_S32B_DF_CAP = 50    # the pinned posting-prune lever (posting_pair_count's
                     # live sf1 gate: 1.95x capped pair work vs 109x uncapped)

_S32B_ORACLE = (
    _S32_ORACLE
    .replace("vec_id % 10 = 0", f"vec_id < {_S32B_FIXQ}")
    .replace("doc_id % 10 = 0", f"doc_id < {_S32B_FIXQ}")
    .replace("df BETWEEN 2 AND 1000", f"df BETWEEN 2 AND {_S32B_DF_CAP}")
)
# Each replace MUST have fired on exactly the expected occurrences, or
# the twin would silently share the original's scaling query set / cap.
assert _S32_ORACLE.count("vec_id % 10 = 0") == 1
assert _S32_ORACLE.count("doc_id % 10 = 0") == 2
assert _S32_ORACLE.count("df BETWEEN 2 AND 1000") == 1
assert f"df BETWEEN 2 AND {_S32B_DF_CAP}" in _S32B_ORACLE


@q("s32b_lexical_dense_agreement_fixedq", _S32B_ORACLE)
def s32b_lexical_dense_agreement_fixedq(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """s32's fixed-|Q| scale twin: the identical lexical-vs-dense
    overlap@5 histogram with the query set pinned at 500 ids at every
    sf and the sparse posting join running at the pinned df cap (50),
    so BENCH_sf1 growth reads ENGINE behavior — the dense side is a
    bounded-|Q| broadcast scan (linear in corpus), the sparse side's
    pair work is df-capped (the measured 1.95x-at-10x lever) — not the
    |Q|∝corpus brute-force quadratic s32 bakes in.  Same oracle family;
    only the query predicate and cap differ (assert-guarded swap).
    The dense side uses the ARROW brute-force kernel (s1b's, oracle-
    exact vs s1): map-side top-k means the final rank shuffles
    |batches|*|Q|*k candidate rows, not |Q|*N scored pairs — the
    100-TB exchange shape, and ~3x faster at bench scale."""
    from pyspark.sql import Window

    from martech_pipelines_spark.operators import similarity as SIM

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sp5 = sparse_topk_readout(
        trigram_tf_state(docs), df_cap=_S32B_DF_CAP
    ).where(F.col("doc_id") < _S32B_FIXQ)
    queries = emb.where(F.col("vec_id") < _S32B_FIXQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    d6 = SIM.brute_force_topk_arrow(queries, emb, k=6)
    w = Window.partitionBy("query_id").orderBy("rnk")
    d5 = (
        d6.where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("query_id", "vec_id")
    )
    base = sp5.select("doc_id").distinct()
    ov = (
        sp5.join(
            d5,
            (d5["query_id"] == sp5["doc_id"]) & (d5["vec_id"] == sp5["nbr_id"]),
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return (
        base.join(ov, "doc_id", "left")
        .select(F.coalesce("c", F.lit(0)).cast("long").alias("overlap"))
        .groupBy("overlap")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


# =============================================================================
# h7b: deterministic HLL registers, incrementally maintained + full oracle
# =============================================================================
#
# Register state and merge: operators/sketches.py (``hll_registers`` /
# ``hll_merge``).  Absent registers report 0 via a generated
# (type x 0..31) frame.  Raw estimate (per type, repeated on each
# register row for one-table hashing): alpha_m * m^2 / sum_j 2^(-M_j)
# with alpha_32 = 0.697 carried as 697/1000 and the register sum
# carried exactly as N = sum_j 2^(28 - M_j) over 2^28 — so
#   est = floor((697 * 32 * 32 * 2^28 * 2 + 1000 * N) / (2 * 1000 * N))
# (half-up), pure BIGINT (697*1024*2^28*2 ≈ 3.8e17 < 2^63; N <= 32*2^28).
# No small/large-range corrections: this is the RAW HLL estimator,
# value-checked; the production datasketches path (h7) keeps its pytest
# error gates.

_HLL_ALPHA_E3 = 697  # alpha_32 = 0.697 (Flajolet et al., m = 32)
_HLL_POW = 2 ** (_HLL_WBITS + 1)                       # 2^28, the N scale
_HLL_EST_NUM = _HLL_ALPHA_E3 * _HLL_M * _HLL_M * _HLL_POW * 2  # ~3.8e17

_H7B_ORACLE = f"""
    WITH hx AS (
        SELECT event_type,
               ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT AS h
        FROM events GROUP BY 1, 2
    ), rho AS (
        SELECT event_type,
               h // {2 ** _HLL_WBITS} AS reg_idx,
               CASE WHEN h % {2 ** _HLL_WBITS} = 0 THEN {_HLL_WBITS + 1}
                    ELSE {_HLL_WBITS + 1}
                         - length(bin(h % {2 ** _HLL_WBITS}))
               END AS r
        FROM hx
    ), regs AS (
        SELECT event_type, reg_idx, CAST(max(r) AS BIGINT) AS reg_val
        FROM rho GROUP BY 1, 2
    ), frame AS (
        SELECT t.event_type, CAST(i.reg_idx AS BIGINT) AS reg_idx
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(range(0, {_HLL_M})) AS reg_idx) i
    ), full_regs AS (
        SELECT f.event_type, f.reg_idx,
               coalesce(r.reg_val, 0) AS reg_val
        FROM frame f LEFT JOIN regs r USING (event_type, reg_idx)
    ), est AS (
        SELECT event_type,
               CAST(({_HLL_EST_NUM}::BIGINT
                     + 1000 * sum({_HLL_POW}::BIGINT
                                  // (1::BIGINT << CAST(reg_val AS INT))))
                    // (2 * 1000 * sum({_HLL_POW}::BIGINT
                                       // (1::BIGINT << CAST(reg_val AS INT))))
                    AS BIGINT) AS hll_raw_est
        FROM full_regs GROUP BY 1
    )
    SELECT fr.event_type, fr.reg_idx, fr.reg_val, e.hll_raw_est
    FROM full_regs fr JOIN est e USING (event_type)
"""


@q("h7b_incremental_hll_registers", _H7B_ORACLE)
def h7b_incremental_hll_registers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """h7's value-checkable twin: per-event-type distinct-user HLL
    registers maintained incrementally — the event log split at an
    integer-micros watermark, each batch reduced to ``hll_registers``,
    folded by ``hll_merge`` — and the merged state hash-checked
    register-for-register against a DuckDB recompute from the full
    log, plus the raw HLL estimate in pure BIGINT arithmetic.  h7 keeps
    the production datasketches path (rows-only, pytest error gates)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id", "ts")
    cut_us = 1705276800000000  # 2024-01-15T00:00:00Z (integer micros, tz-proof)
    state = hll_merge(
        hll_registers(ev.where(F.unix_micros("ts") < F.lit(cut_us))),
        hll_registers(ev.where(F.unix_micros("ts") >= F.lit(cut_us))),
    )
    frame = (
        ev.select("event_type")
        .distinct()
        .crossJoin(spark.range(_HLL_M).select(F.col("id").alias("reg_idx")))
    )
    full_regs = (
        frame.join(state, ["event_type", "reg_idx"], "left")
        .select(
            "event_type",
            F.col("reg_idx").cast("long").alias("reg_idx"),
            F.coalesce("reg_val", F.lit(0)).cast("long").alias("reg_val"),
        )
    )
    # N = sum_j 2^(W+1 - M_j): exact integers (reg_val <= 28 = W+1)
    pow_term = F.expr(
        f"CAST({_HLL_POW} AS BIGINT)"
        f" div shiftleft(CAST(1 AS BIGINT), CAST(reg_val AS INT))"
    )
    est = (
        full_regs.groupBy("event_type")
        .agg(F.sum(pow_term).alias("__n"))
        .select(
            "event_type",
            F.expr(
                f"CAST(({_HLL_EST_NUM}L + 1000 * __n)"
                f" div (2 * 1000 * __n) AS BIGINT)"
            ).alias("hll_raw_est"),
        )
    )
    return full_regs.join(est, "event_type").select(
        "event_type", "reg_idx", "reg_val", "hll_raw_est"
    )


# =============================================================================
# r41 / h39: KMV theta-sketch set operations (+ incremental maintenance)
# =============================================================================
#
# mart11 computes |A ∩ B| / Jaccard EXACTLY from the (user, type)
# distinct table and noted its sketch twin (union + inclusion-
# exclusion) was pytest-only.  These two promote the sketch path to a
# full oracle: deterministic KMV sketches (r3c's md5 hashes) per
# audience, theta = min of the pair's k-th-smallest hashes (M+1 in the
# exact regime), retained-below-theta counts scaled by M/theta — the
# Theta-Sketch estimator with every cell in BIGINT arithmetic, plus the
# exact anchors recomputed from the log (the dd19 calibration-report
# pattern).  h39 reads the SAME report off incrementally-maintained
# sketches (watermark split + kmv_merge fold, h24's proof shape) —
# sketch-of-union == merge-of-sketches makes it oracle-identical.

_R41_K = 64
_R41_M = 4_294_967_296

_R41_ORACLE = f"""
    WITH hx AS (
        SELECT event_type,
               ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               + 1 AS h
        FROM events GROUP BY 1, 2
    ), sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM hx
        ) WHERE rn <= {_R41_K}
    ), st AS (
        SELECT event_type,
               CASE WHEN count(*) < {_R41_K} THEN {_R41_M + 1}
                    ELSE max(h) END AS theta
        FROM sk GROUP BY 1
    ), pr AS (
        SELECT a.event_type AS t1, b.event_type AS t2,
               least(a.theta, b.theta) AS theta
        FROM st a JOIN st b ON a.event_type < b.event_type
    ), alt AS (
        SELECT p.t1, p.t2, CAST(count(*) AS BIGINT) AS a_lt
        FROM pr p JOIN sk s ON s.event_type = p.t1 AND s.h < p.theta
        GROUP BY 1, 2
    ), blt AS (
        SELECT p.t1, p.t2, CAST(count(*) AS BIGINT) AS b_lt
        FROM pr p JOIN sk s ON s.event_type = p.t2 AND s.h < p.theta
        GROUP BY 1, 2
    ), cm AS (
        SELECT p.t1, p.t2, CAST(count(*) AS BIGINT) AS c
        FROM pr p
        JOIN sk sa ON sa.event_type = p.t1 AND sa.h < p.theta
        JOIN sk sb ON sb.event_type = p.t2 AND sb.h = sa.h
        GROUP BY 1, 2
    ), ut AS (SELECT DISTINCT event_type, user_id FROM events),
    ex AS (
        SELECT a.event_type AS t1, b.event_type AS t2,
               CAST(count(*) AS BIGINT) AS exact_inter
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    ), sz AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n
        FROM events GROUP BY 1
    ), base AS (
        SELECT p.t1, p.t2, p.theta,
               coalesce(cm.c, 0) AS c,
               coalesce(alt.a_lt, 0) + coalesce(blt.b_lt, 0)
                   - coalesce(cm.c, 0) AS u,
               coalesce(ex.exact_inter, 0) AS exact_inter,
               sa.n + sb.n - coalesce(ex.exact_inter, 0) AS exact_union
        FROM pr p
        LEFT JOIN alt USING (t1, t2)
        LEFT JOIN blt USING (t1, t2)
        LEFT JOIN cm USING (t1, t2)
        LEFT JOIN ex USING (t1, t2)
        JOIN sz sa ON sa.event_type = p.t1
        JOIN sz sb ON sb.event_type = p.t2
    )
    SELECT t1, t2, exact_inter, exact_union,
           CAST(CASE WHEN theta = {_R41_M + 1} THEN c
                ELSE (2 * c * {_R41_M}::BIGINT + theta) // (2 * theta)
                END AS BIGINT) AS kmv_inter_est,
           CAST(CASE WHEN theta = {_R41_M + 1} THEN u
                ELSE (2 * u * {_R41_M}::BIGINT + theta) // (2 * theta)
                END AS BIGINT) AS kmv_union_est,
           CAST(CASE WHEN u > 0 THEN (2 * c * 1000000 + u) // (2 * u)
                ELSE 0 END AS BIGINT) AS sample_jaccard_e6
    FROM base
"""


def _r41_readout(spark: SparkSession, sf_dir: str, sk: DataFrame) -> DataFrame:
    """Shared r41/h39 readout: theta set-op estimates from sketch state
    + exact anchors recomputed from the full log."""
    from martech_pipelines_spark.operators import sketches as SK

    ev = load_table(spark, sf_dir, "events")
    est = SK.kmv_theta_setops(sk, "event_type", k=_R41_K)
    ut = ev.select("event_type", "user_id").distinct()
    a = ut.select(F.col("event_type").alias("t1"), "user_id")
    b = ut.select(F.col("event_type").alias("t2"), "user_id")
    ex = (
        a.join(b, "user_id")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("long").alias("exact_inter"))
    )
    sz = ut.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    out = (
        est.join(ex, ["t1", "t2"], "left")
        .join(sz.select(F.col("event_type").alias("t1"), F.col("n").alias("__na")), "t1")
        .join(sz.select(F.col("event_type").alias("t2"), F.col("n").alias("__nb")), "t2")
    )
    inter = F.coalesce("exact_inter", F.lit(0)).cast("long")
    return out.select(
        "t1",
        "t2",
        inter.alias("exact_inter"),
        (F.col("__na") + F.col("__nb") - inter).cast("long").alias("exact_union"),
        "kmv_inter_est",
        "kmv_union_est",
        "sample_jaccard_e6",
    )


@q("r41_kmv_setops", _R41_ORACLE)
def r41_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set operations from KMV sketch state, value-checked:
    per event-type pair, the Theta-Sketch intersection/union estimates
    (retained-below-theta counts scaled M/theta, half-up BIGINT) next
    to the exact anchors — the calibration report a 100-TB deployment
    reads before trusting daily sketch overlaps (mart11 keeps the exact
    audit form; dd19 is the MinHash analog of this report).  Scale
    shape: the only corpus-sized work is the sketch build (map-side
    distinct + WindowGroupLimit top-k) and the exact anchor's bounded
    per-user fan-out; the theta readout self-joins k-row-per-key state
    with the pair table broadcast."""
    from martech_pipelines_spark.operators import sketches as SK

    ev = load_table(spark, sf_dir, "events")
    sk = SK.kmv_sketch_table(ev, "event_type", "user_id", k=_R41_K)
    return _r41_readout(spark, sf_dir, sk)


@q("h39_incremental_kmv_setops", _R41_ORACLE)
def h39_incremental_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r41 read off incrementally-maintained sketches (SHARES r41's
    oracle — the IVM proof): the event log split at the h24 integer-
    micros watermark, each batch sketched independently, folded with
    ``kmv_merge`` (k smallest of a union = k smallest of the unions'
    k-smallest), then the identical theta readout.  History is never
    re-sketched; per-pair set-op reports stay current off k-row state —
    the daily-audience-overlap maintenance shape at 100 TB.  (Exact
    anchor columns are recomputed from the full log, as in h24: they
    are the report's reference fields, not maintained state.)"""
    from martech_pipelines_spark.operators import sketches as SK

    ev = load_table(spark, sf_dir, "events")
    cut_us = 1705276800000000  # 2024-01-15T00:00:00Z
    b1 = ev.where(F.unix_micros("ts") < F.lit(cut_us))
    b2 = ev.where(F.unix_micros("ts") >= F.lit(cut_us))
    sk = SK.kmv_merge(
        SK.kmv_sketch_table(b1, "event_type", "user_id", k=_R41_K),
        SK.kmv_sketch_table(b2, "event_type", "user_id", k=_R41_K),
        "event_type",
        k=_R41_K,
    )
    return _r41_readout(spark, sf_dir, sk)


# =============================================================================
# t61: per-document tf-idf keywords (linear idf, integer-exact)
# =============================================================================
#
# Keyword extraction — the per-document salience readout a curation
# pipeline uses for topic tagging and stratified sampling.  Score is
# tf * (N / df) in half-up e6 fixed point (LINEAR idf: the log is an
# engine-varying float, and for a fixed document the linear form ranks
# MORE df-sensitively than log — documented divergence from the
# textbook formula, value-exact on both engines).  Top-3 terms per doc,
# ties broken term-asc.  Scale shape: one tf shuffle (doc, term), the
# df table is vocab-sized and joins broadcast, top-k is a
# WindowGroupLimit — no corpus-sized second shuffle.

_T61_K = 3

_DUCK_TOKENS_T61 = _DUCK_TOKENS.format(col="text")

_T61_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKENS_T61} AS t FROM documents
    ), tf AS (
        SELECT doc_id, u.w, CAST(count(*) AS BIGINT) AS tf
        FROM toks, unnest(t) AS u(w) GROUP BY 1, 2
    ), df AS (
        SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT doc_id, term, tfidf_e6, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT tf.doc_id, tf.w AS term,
               CAST((2 * tf.tf * n.n * 1000000 + df.df) // (2 * df.df)
                    AS BIGINT) AS tfidf_e6,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY (2 * tf.tf * n.n * 1000000 + df.df)
                            // (2 * df.df) DESC, tf.w ASC) AS rnk
        FROM tf JOIN df USING (w) CROSS JOIN n
    ) WHERE rnk <= {_T61_K}
"""


def word_tf_state(docs: DataFrame) -> DataFrame:
    """t61's inverted-index STATE from a document batch: (doc_id, term,
    tf) word term frequencies.  Doc-partitioned batches compose by plain
    union (h31's fold contract at word granularity)."""
    from martech_pipelines_spark.operators import text as TX

    return (
        docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def _t61_readout(tf: DataFrame, n: int) -> DataFrame:
    """Shared t61/h40 readout: df prune-free linear-idf scoring over tf
    state (df and the scores are READOUT-time derivations, so they stay
    correct as term document-frequencies drift across ingest batches)."""
    from pyspark.sql import Window

    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.expr(f"CAST((2 * tf * {n}L * 1000000 + df) div (2 * df) AS BIGINT)")
        .alias("tfidf_e6"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_e6"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _T61_K)
        .select("doc_id", "term", "tfidf_e6", "rnk")
    )


@q("t61_tfidf_keywords", _T61_ORACLE)
def t61_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per document (linear idf, half-up e6 —
    float-free, see the module comment for the documented divergence
    from log idf).  Plan: explode-tokens -> one (doc, term) tf shuffle;
    the vocab-sized df table and the 1-row N broadcast back; per-doc
    top-k pushes down as WindowGroupLimit."""
    docs = load_table(spark, sf_dir, "documents")
    return _t61_readout(word_tf_state(docs), docs.count())


@q("h40_incremental_tfidf", _T61_ORACLE)
def h40_incremental_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t61 maintained INCREMENTALLY (SHARES t61's oracle — the IVM
    proof, h31's shape at word granularity): the corpus split by doc-id
    parity into two ingest batches, each reduced to its own (doc, term,
    tf) state, composed by union; the doc count folds additively.  df
    and the idf scores are readout-time derivations over merged state,
    so keyword rankings stay correct as document frequencies drift
    across crawl slices — history is never re-tokenized."""
    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    state = word_tf_state(b1).unionByName(word_tf_state(b2))
    n = b1.count() + b2.count()  # additive per-batch fold of the doc count
    return _t61_readout(state, n)


# =============================================================================
# r31c: rolling 7-day active users from KMV sketch state (full oracle)
# =============================================================================
#
# The r31 family's value-checked promotion: r31 is the exact rolling
# distinct (7x|user-days| fan-out), r31b the production HLL form
# (rows-only, 5%-of-exact pytest gate) — this twin runs the SAME
# fixed-size-state plan shape as r31b on deterministic KMV sketches, so
# the whole rolling-sketch pipeline (per-day sketch -> 7-day fan-out ->
# k-smallest merge -> estimate) is hash-checked against a DuckDB
# recompute, with r31's exact curve carried as the anchor column.

_R31C_K = 64

_R31C_ORACLE = f"""
    WITH ud AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ), days AS (SELECT DISTINCT day FROM ud),
    hx AS (
        SELECT day,
               ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               + 1 AS h
        FROM ud
    ), sk AS (
        SELECT day, h FROM (
            SELECT day, h, row_number() OVER (
                PARTITION BY day ORDER BY h) AS rn
            FROM (SELECT DISTINCT day, h FROM hx)
        ) WHERE rn <= {_R31C_K}
    ), win AS (
        SELECT d.day, s.h FROM days d
        JOIN sk s ON s.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1, 2
    ), merged AS (
        SELECT day, h FROM (
            SELECT day, h, row_number() OVER (
                PARTITION BY day ORDER BY h) AS rn
            FROM win
        ) WHERE rn <= {_R31C_K}
    ), est AS (
        SELECT day, CAST(count(*) AS BIGINT) AS cnt, max(h) AS hk
        FROM merged GROUP BY 1
    ), ex AS (
        SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS active_users
        FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1
    )
    SELECT strftime(e.day, '%Y-%m-%d') AS day, x.active_users,
           CAST(CASE WHEN e.cnt < {_R31C_K} THEN e.cnt
                ELSE (2 * {_R31C_K - 1} * 4294967296::BIGINT + e.hk)
                     // (2 * e.hk) END AS BIGINT) AS kmv_active_est
    FROM est e JOIN ex x USING (day)
"""


@q("r31c_rolling_active_kmv", _R31C_ORACLE)
def r31c_rolling_active_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users off KMV sketch state, value-checked
    (r31b's plan shape with an engine-exact sketch): per-day k-smallest
    hash sketches, each fanned out to the <=7 report days it covers,
    re-merged by one keyed k-smallest pass, estimated (k-1)/h_(k) —
    next to r31's exact curve as the anchor.  The windowed shuffle
    carries 7*|days|*k rows of fixed-size state, independent of user
    count — the 100-TB rolling-distinct form; the HLL twin (r31b) keeps
    the production datasketches path behind its pytest gate."""
    from pyspark.sql import Window

    from martech_pipelines_spark.operators import sketches as SK
    from martech_pipelines_spark.operators.transforms import (
        rolling_active_users,
    )

    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "user_id"
    ).distinct()
    sk = SK.kmv_sketch_table(ud, "day", "user_id", k=_R31C_K)
    days = ud.select("day").distinct()
    fan = (
        sk.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("__i"), "day", "h"
        )
        .select(F.date_add("day", F.col("__i")).alias("day"), "h")
        .join(days, "day", "left_semi")
        .distinct()
    )
    w = Window.partitionBy("day").orderBy(F.col("h").asc())
    merged = (
        fan.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= _R31C_K)
        .drop("__rn")
    )
    est = SK.kmv_estimate(merged, "day", k=_R31C_K, out_col="kmv_active_est")
    exact = rolling_active_users(ev, window_days=7)
    return exact.join(
        est.select(F.date_format("day", "yyyy-MM-dd").alias("day"), "kmv_active_est"),
        "day",
    ).select("day", "active_users", "kmv_active_est")


# =============================================================================
# s37: embedding-cell centroid shift (the reindex trigger report)
# =============================================================================
#
# The ANN index-lifecycle gap between s2h (delta probes on a FROZEN
# quantizer) and a full retrain: when has the embedding distribution
# drifted enough that the frozen quantizer should be re-trained?  This
# report compares, per deterministic 4-bit sign cell (s33's fixed-axis
# cells — no trained state), the OLD index batch vs the NEW ingest
# batch (vec-id parity split; embeddings carry no timestamp): counts,
# and the per-dimension |mean shift| in half-up e6.  All integer: xq =
# floor(x*1e6 + 0.5) (the s12 moments contract), and the mean-shift
# division |s_new*n_old - s_old*n_new| / (n_old*n_new) keeps the
# numerator NON-NEGATIVE so half-up div is engine-exact (signed means
# never divide).  reindex_flag fires at shift > 0.05 per dim — the
# threshold a 100-TB deployment tunes against its recall SLO.

_S37_SHIFT_E6 = 50_000  # 0.05 mean shift per dimension

_S37_ORACLE = f"""
    WITH q AS (
        SELECT vec_id % 2 AS half,
               CAST(embedding[1] > 0 AS INT) + 2 * CAST(embedding[2] > 0 AS INT)
               + 4 * CAST(embedding[3] > 0 AS INT)
               + 8 * CAST(embedding[4] > 0 AS INT) AS cell,
               u.dim,
               CAST(floor(CAST(embedding[u.dim] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS xq
        FROM embeddings, unnest([1, 2, 3, 4]) AS u(dim)
    ), agg AS (
        SELECT half, cell, dim, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xq) AS BIGINT) AS s
        FROM q GROUP BY 1, 2, 3
    ), old AS (SELECT cell, dim, n, s FROM agg WHERE half = 0),
    new AS (SELECT cell, dim, n, s FROM agg WHERE half = 1)
    SELECT CAST(o.cell AS BIGINT) AS cell, CAST(o.dim AS BIGINT) AS dim,
           o.n AS n_old, nw.n AS n_new,
           CAST((2 * abs(nw.s * o.n - o.s * nw.n) + o.n * nw.n)
                // (2 * o.n * nw.n) AS BIGINT) AS mshift_e6,
           CAST((2 * abs(nw.s * o.n - o.s * nw.n) + o.n * nw.n)
                // (2 * o.n * nw.n) > {_S37_SHIFT_E6} AS BOOLEAN)
               AS reindex_flag
    FROM old o JOIN new nw ON o.cell = nw.cell AND o.dim = nw.dim
"""


@q("s37_centroid_shift", _S37_ORACLE)
def s37_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell per-dimension embedding centroid shift between the old
    index batch and the new ingest batch — the deterministic reindex
    trigger an ANN deployment reads before deciding whether the frozen
    quantizer (s2h's delta lifecycle) still represents the corpus.
    Scale shape: one map-side-combined agg over each half (16 cells x 4
    dims of (n, sum) state), a 64-row join, integer arithmetic end to
    end."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    cell = (
        (F.element_at(e, 1) > 0).cast("int")
        + (F.element_at(e, 2) > 0).cast("int") * 2
        + (F.element_at(e, 3) > 0).cast("int") * 4
        + (F.element_at(e, 4) > 0).cast("int") * 8
    )
    q = (
        emb.select(
            (F.col("vec_id") % 2).alias("half"),
            cell.cast("long").alias("cell"),
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("dim"),
            "embedding",
        )
        .select(
            "half",
            "cell",
            F.col("dim").cast("long").alias("dim"),
            F.floor(
                F.element_at("embedding", F.col("dim").cast("int")).cast("double")
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("xq"),
        )
    )
    agg = q.groupBy("half", "cell", "dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xq").cast("long").alias("s"),
    )
    old = agg.where(F.col("half") == 0).select(
        "cell", "dim", F.col("n").alias("n_old"), F.col("s").alias("__so")
    )
    new = agg.where(F.col("half") == 1).select(
        "cell", "dim", F.col("n").alias("n_new"), F.col("s").alias("__sn")
    )
    shift = F.expr(
        "CAST((2 * abs(__sn * n_old - __so * n_new) + n_old * n_new)"
        " div (2 * n_old * n_new) AS BIGINT)"
    )
    return (
        old.join(new, ["cell", "dim"])
        .withColumn("mshift_e6", shift)
        .select(
            "cell",
            "dim",
            "n_old",
            "n_new",
            "mshift_e6",
            (F.col("mshift_e6") > _S37_SHIFT_E6).alias("reindex_flag"),
        )
    )


# =============================================================================
# pipe16: topic-stratified holdout (t61 keywords -> exact-quota split)
# =============================================================================
#
# The composition this round's keyword extractor exists for: stratify
# the corpus by each document's top-1 tf-idf keyword (its "topic") and
# hold out an exact 20% quota PER TOPIC — the eval-set construction
# that keeps rare topics represented (a plain random split starves
# them).  Oracle fully assembled from t61's CTEs feeding pipe15's
# md5-ranked quota machinery; determinism end to end (linear-idf rank,
# term-asc ties; md5 rank, doc-id ties).

_PIPE16_PCT = 20

_PIPE16_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKENS_T61} AS t FROM documents
    ), tf AS (
        SELECT doc_id, u.w, CAST(count(*) AS BIGINT) AS tf
        FROM toks, unnest(t) AS u(w) GROUP BY 1, 2
    ), df AS (
        SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    topic AS (
        SELECT doc_id, term AS topic FROM (
            SELECT tf.doc_id, tf.w AS term,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY (2 * tf.tf * n.n * 1000000 + df.df)
                                // (2 * df.df) DESC, tf.w ASC) AS rnk
            FROM tf JOIN df USING (w) CROSS JOIN n
        ) WHERE rnk = 1
    ), ranked AS (
        SELECT topic, doc_id,
               row_number() OVER (
                   PARTITION BY topic
                   ORDER BY md5(topic || ':' || CAST(doc_id AS VARCHAR)),
                            doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY topic) AS nt
        FROM topic
    )
    SELECT topic,
           CAST(max(nt) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rn <= nt * {_PIPE16_PCT} // 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
           CAST(sum(CASE WHEN rn > nt * {_PIPE16_PCT} // 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN rn <= nt * {_PIPE16_PCT} // 100
                         THEN doc_id ELSE 0 END) AS BIGINT) AS val_id_sum
    FROM ranked GROUP BY 1
"""


@q("pipe16_topic_stratified_holdout", _PIPE16_ORACLE)
def pipe16_topic_stratified_holdout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end topic-stratified eval split: t61's top-1 keyword
    assigns each document a topic, then an exact 20% quota per topic is
    held out by deterministic md5 rank (pipe15's machinery on a DERIVED
    stratum instead of the stored source column).  Per-topic counts and
    the val-id checksum are the report.  Scale shape: t61's tf shuffle
    + WindowGroupLimit, one keyed rank per topic, map-side-combined
    aggregation — no corpus-sized second pass."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    topic = (
        _t61_readout(word_tf_state(docs), docs.count())
        .where(F.col("rnk") == 1)
        .select("doc_id", F.col("term").alias("topic"))
    )
    w = Window.partitionBy("topic").orderBy(
        F.md5(F.concat(F.col("topic"), F.lit(":"), F.col("doc_id").cast("string"))),
        F.col("doc_id").asc(),
    )
    wn = Window.partitionBy("topic")
    ranked = topic.withColumn("rn", F.row_number().over(w)).withColumn(
        "nt", F.count("*").over(wn)
    )
    quota = F.expr(f"nt * {_PIPE16_PCT} div 100")
    is_val = F.col("rn") <= quota
    return ranked.groupBy("topic").agg(
        F.max("nt").cast("long").alias("n_docs"),
        F.sum(is_val.cast("long")).cast("long").alias("n_val"),
        F.sum((~is_val).cast("long")).cast("long").alias("n_train"),
        F.sum(F.when(is_val, F.col("doc_id")).otherwise(F.lit(0)))
        .cast("long")
        .alias("val_id_sum"),
    )
