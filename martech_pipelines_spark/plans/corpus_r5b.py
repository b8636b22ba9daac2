"""Round-5b corpus additions (second half of round 5).

Four new first-class operators, each with a full DuckDB oracle:

- ``mart8_time_decay_attribution`` — completes the attribution family
  (last-touch mart3 / linear mart5 / time-decay mart8) with integer
  halving-per-day weights so credit is summation-order-proof.
- ``dq3_referential_integrity`` — dbt-style ``relationships`` tests over
  the whole TPC-H FK graph in one frame.
- ``t28_stratified_sample`` — exact per-stratum quota sampling
  (WindowGroupLimit partial top-k; complements the pct-based filter).
- ``t29_quality_classifier`` — hashed bag-of-words linear scoring
  (fastText-style model application as one codegen projection).

Registers into the shared QUERIES/ORACLE dicts at import time, exactly
like corpus_r5; names are prepended to plans/__init__._WINDOW_PRIORITY so
the driver's 50-slot correctness window verifies them this round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from martech_pipelines_spark.operators import text as TX
from martech_pipelines_spark.operators.transforms import referential_check
from martech_pipelines_spark.plans.corpus import ORACLE, QUERIES, q  # noqa: F401
from martech_pipelines_spark.plans.corpus_extended import _DUCK_TOKENS
from martech_pipelines_spark.sources import load_table


# =============================================================================
# mart8: time-decay multi-touch attribution
# Completes the attribution family: mart3 (last-touch, no join) ->
# mart5 (linear, equal split) -> mart8 (exponential time-decay).
# Reference scope: extension operator (SURVEY.md §7 north star — marts the
# reference's downstream marketing stack computes from the exported
# profiles); same events surface as mart3/mart5.
# =============================================================================

_MART8_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback, strict


_MART8_ORACLE = f"""
    WITH conv AS (
        SELECT user_id, event_id AS conv_id, epoch_us(ts) AS conv_us,
               CAST(trunc(value * 100) AS BIGINT) AS value_paise
        FROM events WHERE event_type = 'purchase'
    ), touch AS (
        SELECT user_id, event_type AS touch_type, epoch_us(ts) AS touch_us
        FROM events WHERE event_type IN ('view', 'click')
    ), j AS (
        SELECT c.conv_id, c.value_paise, t.touch_type,
               (c.conv_us - t.touch_us) // 86400000000 AS age_days
        FROM conv c JOIN touch t ON c.user_id = t.user_id
        WHERE t.touch_us < c.conv_us
          AND c.conv_us - t.touch_us < {_MART8_WINDOW_US}
    ), wts AS (
        SELECT conv_id, value_paise, touch_type,
               CAST(power(2, 6 - age_days) AS BIGINT) AS w
        FROM j
    ), cr AS (
        SELECT conv_id, touch_type,
               (value_paise * w) // sum(w) OVER (PARTITION BY conv_id)
                   AS credit_paise
        FROM wts
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
           CAST(sum(credit_paise) AS BIGINT) AS credit_paise_total
    FROM cr GROUP BY touch_type
    """


@q("mart8_time_decay_attribution", _MART8_ORACLE)
def mart8_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: a purchase's value is split
    across its view/click touches in a strict 7-day lookback with weight
    halving per whole day of age — weight ``2^(6 - age_days)`` in
    {64,...,1}, so a same-day touch earns 64x a six-day-old one.

    Integer end-to-end: weights are exact powers of two and credit is
    floor-division of ``value_paise * w`` by the per-conversion weight
    sum, so results are bit-exact under any partitioning (no float decay
    factors to accumulate in arbitrary order).

    Scale shape: identical to mart5 — ONE user-keyed equi-join (both
    sides shuffle once on user_id; per-user fan-out bounded by session
    length), one window keyed on conv_id for the weight sum, one tiny
    final agg. The decay weight itself is a free codegen expression on
    the joined row; time-decay costs nothing over linear."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.unix_micros("ts").alias("conv_us"),
        F.floor(F.col("value") * 100).cast("long").alias("value_paise"),
    )
    touch = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("touch_type"),
        F.unix_micros("ts").alias("touch_us"),
    )
    j = conv.join(touch, "user_id").where(
        (F.col("touch_us") < F.col("conv_us"))
        & (F.col("conv_us") - F.col("touch_us") < F.lit(_MART8_WINDOW_US))
    )
    wts = j.select(
        "conv_id",
        "value_paise",
        "touch_type",
        F.expr(
            "shiftleft(1, cast(6 - (conv_us - touch_us) div 86400000000 as int))"
        )
        .cast("long")
        .alias("w"),
    )
    cr = wts.withColumn(
        "credit_paise",
        F.expr("(value_paise * w) div sum(w) over (partition by conv_id)"),
    )
    return cr.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.count_distinct("conv_id").cast("long").alias("n_convs"),
        F.sum("credit_paise").cast("long").alias("credit_paise_total"),
    )


# =============================================================================
# dq3: referential integrity over the full TPC-H FK graph
# dbt `relationships` test semantics (NULL child keys pass), one summary
# row per constraint. Extends dq1 (column constraints) to cross-table
# constraints.
# =============================================================================

_DQ3_FKS = [
    # (name, child, child_key, parent, parent_key, broadcast)
    ("lineitem_orderkey_fk", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem_partkey_fk", "lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem_suppkey_fk", "lineitem", "l_suppkey", "supplier", "s_suppkey", True),
    ("orders_custkey_fk", "orders", "o_custkey", "customer", "c_custkey", False),
    ("customer_nationkey_fk", "customer", "c_nationkey", "nation", "n_nationkey", True),
    ("supplier_nationkey_fk", "supplier", "s_nationkey", "nation", "n_nationkey", True),
    ("nation_regionkey_fk", "nation", "n_regionkey", "region", "r_regionkey", True),
]


def _dq3_oracle_block(name, child, ck, parent, pk):
    return f"""
    SELECT '{name}' AS constraint_name,
           CAST(count(*) AS BIGINT) AS child_rows,
           CAST(sum(CASE WHEN c.{ck} IS NOT NULL AND p.__pk IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pk} AS __pk FROM {parent}) p
           ON c.{ck} = p.__pk
    """


_DQ3_ORACLE = "\nUNION ALL\n".join(
    _dq3_oracle_block(n, c, ck, p, pk) for n, c, ck, p, pk, _ in _DQ3_FKS
)


@q("dq3_referential_integrity", _DQ3_ORACLE)
def dq3_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All seven TPC-H foreign keys audited in one frame: per constraint,
    total child rows and orphan rows (non-null child key with no parent).

    Scale shape: each check reduces the parent to its DISTINCT key column
    first (one-column join payload), then LEFT-joins + conditionally
    aggregates — total AND orphan counts from a single join, not two
    jobs. Dimension-sized parents (nation, region, supplier) are
    broadcast, so the three biggest fact scans (lineitem x2, customer)
    shuffle only for the fact-sized parents where co-partitioning is
    genuinely required. The seven summary rows union AFTER aggregation —
    the union moves 7 rows, not 7 tables."""
    frames = []
    for name, child, ck, parent, pk, bcast in _DQ3_FKS:
        frames.append(
            referential_check(
                load_table(spark, sf_dir, child),
                load_table(spark, sf_dir, parent),
                ck,
                pk,
                name,
                broadcast_parent=bcast,
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# =============================================================================
# t28: exact per-stratum quota sampling
# =============================================================================


_T28_QUOTA = 5


@q(
    "t28_stratified_sample",
    f"""
    WITH ranked AS (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY ('0x' || substr(
                       md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8
                   ))::BIGINT ASC, doc_id ASC
               ) AS rnk
        FROM documents
    )
    SELECT doc_id, lang, source FROM ranked WHERE rnk <= {_T28_QUOTA}
    """,
)
def t28_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly ``{quota}`` docs per (lang, source) stratum, chosen by the
    portable md5 order — the deterministic, engine-reproducible,
    input-order-independent eval-set builder.

    Scale shape (see ``stratified_sample_exact``): the rank filter lowers
    to WindowGroupLimit, so map tasks pre-truncate to the quota before
    the stratum exchange — shuffle volume is quota-bounded, never corpus-
    proportional. Plan-asserted in tests."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.stratified_sample_exact(
        docs.select("doc_id", "lang", "source"),
        ["lang", "source"],
        _T28_QUOTA,
    )


t28_stratified_sample.__doc__ = t28_stratified_sample.__doc__.replace(
    "{quota}", str(_T28_QUOTA)
)


# =============================================================================
# t29: hashed linear quality classifier (fastText-style model application)
# =============================================================================


@q(
    "t29_quality_classifier",
    f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS tok
        FROM documents
    )
    SELECT doc_id,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           CAST(coalesce(list_sum(list_transform(tok, t ->
               (('0x' || substr(md5('qc:' || t), 1, 8))::BIGINT
                % {TX.QC_BUCKETS}) * {TX.QC_WEIGHT_MULT}
                % {TX.QC_WEIGHT_MOD} - {(TX.QC_WEIGHT_MOD - 1) // 2}
           )), 0) AS BIGINT) AS score_milli,
           CAST(coalesce(list_sum(list_transform(tok, t ->
               (('0x' || substr(md5('qc:' || t), 1, 8))::BIGINT
                % {TX.QC_BUCKETS}) * {TX.QC_WEIGHT_MULT}
                % {TX.QC_WEIGHT_MOD} - {(TX.QC_WEIGHT_MOD - 1) // 2}
           )), 0) AS BIGINT) > 0 AS label
    FROM toks
    """,
)
def t29_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear classifier applied to every document —
    the fastText-quality-model pattern (tokenize, hash into a fixed
    feature space, dot with a weight vector, threshold) as ONE codegen
    projection: zero shuffles, zero Python, exact integer score. See
    ``text.hashed_linear_score`` for the scale rationale."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.hashed_linear_score(docs)


# =============================================================================
# w4: watermark late-data admission, replayed in batch
# =============================================================================


@q(
    "w4_late_data_admission",
    """
    WITH b AS (
        SELECT user_id, ts, epoch_us(ts) AS ts_us,
               event_id // 1000 AS batch_id
        FROM events
    ), s AS (
        SELECT batch_id, max(ts_us) AS mx FROM b GROUP BY batch_id
    ), wmt AS (
        SELECT batch_id,
               max(mx) OVER (ORDER BY batch_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS wm
        FROM s
    ), adm AS (
        SELECT b.user_id, b.ts
        FROM b JOIN wmt USING (batch_id)
        WHERE wmt.wm IS NULL
           OR epoch_us(date_trunc('hour', b.ts) + INTERVAL 1 HOUR)
              > wmt.wm - 5401000000
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM adm GROUP BY 1
    """,
)
def w4_late_data_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermark semantics replayed over a batch table: chunk
    the arrival order into 1000-row micro-batches, drop each row exactly
    when the real stream would (its hour-window's end not strictly after
    the prior-batches watermark, delay 5401s), then tumbling-count the
    admitted rows. Pinned against a REAL one-file-per-batch streaming run
    in tests/test_r5b_ops.py. See ``windows.late_data_admission`` for why
    the replay is scale-safe (ordered work only on the per-batch summary)."""
    from martech_pipelines_spark.operators.windows import late_data_admission

    ev = load_table(spark, sf_dir, "events")
    adm = late_data_admission(ev)
    return (
        adm.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "n_users",
        )
    )


# =============================================================================
# s10: k-NN graph over the embedding corpus (exact + LSH self-join twin)
# =============================================================================

_S10_EXACT_ORACLE = """
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), scored AS (
        SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
               round(
                   list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
        FROM base a JOIN base b ON a.vec_id <> b.vec_id
    )
    SELECT src_id, nbr_id, cos_sim, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY src_id ORDER BY cos_sim DESC, nbr_id ASC
        ) AS rnk
        FROM scored WHERE cos_sim IS NOT NULL
    ) WHERE rnk <= 3
    """


@q("s10_knn_graph", _S10_EXACT_ORACLE)
def s10_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-NN graph over the whole embedding table (self excluded) —
    the neighbor structure SemDeDup-style embedding dedup, label
    propagation, and kNN curation build on. Exact baseline (corpus as
    a brute-force top-(k+1) query set on the Arrow matmul lane); the
    shuffle-only scale form is s10b, recall-gated against this in
    pytest. See ``similarity.knn_graph``."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_graph(emb, k=3)


def _s10b_oracle() -> str:
    from martech_pipelines_spark.plans.corpus_extended import (
        _banded_sql,
        _rp_sig_sql,
    )

    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sig AS (
        SELECT vec_id, v, {_rp_sig_sql('v', 64, 32)} AS sig FROM base
    ), banded AS ({_banded_sql('sig', 4, 8)}),
    cand AS (
        SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS nbr_id
        FROM banded a JOIN banded b USING (band, band_val)
        WHERE a.vec_id <> b.vec_id
    ), scored AS (
        SELECT c.src_id, c.nbr_id,
               round(
                   list_dot_product(x.v, y.v)
                   / (sqrt(list_dot_product(x.v, x.v))
                      * sqrt(list_dot_product(y.v, y.v))), 4) AS cos_sim
        FROM cand c
        JOIN base x ON x.vec_id = c.src_id
        JOIN base y ON y.vec_id = c.nbr_id
    )
    SELECT src_id, nbr_id, cos_sim, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY src_id ORDER BY cos_sim DESC, nbr_id ASC
        ) AS rnk
        FROM scored WHERE cos_sim IS NOT NULL
    ) WHERE rnk <= 3
    """


@q("s10b_knn_graph_lsh", _s10b_oracle())
def s10b_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s10's 100-TB form: candidate pairs from a banded hyperplane-
    signature SELF-join — a plain keyed shuffle on (band, band_val), no
    corpus-sized broadcast anywhere — then exact cosine re-rank of the
    collided pairs only. Deterministic md5-derived hyperplanes make even
    this approximate form fully oracle-checkable (the oracle computes
    the identical signatures); graph recall vs exact s10 additionally
    gated in pytest. See ``similarity.knn_graph_lsh``.

    Band geometry is THE scale knob: candidate pairs grow with
    sum-of-squared-bucket-sizes per band, so the band value space must
    track corpus size. 4 bands x 8 bits (256 buckets/band) holds the
    sf1 50k-vector graph at ~6.6s where 8 x 4-bit bands (16 buckets/
    band) took 133s — same recall gate, ~30x fewer candidate pairs."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_graph_lsh(emb, dim=64, k=3, bits=32, bands=4)


# =============================================================================
# h11: incremental heavy-hitters maintenance (IVM applied to word counts)
# =============================================================================


@q(
    "h11_incremental_topk",
    f"""
    SELECT token, count(*) AS cnt
    FROM (
        SELECT unnest({_DUCK_TOKENS.format(col='text')}) AS token FROM documents
    )
    GROUP BY token
    ORDER BY cnt DESC, token ASC
    LIMIT 100
    """,
)
def h11_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM proof for the token-frequency surface: build counts from a
    base third of the corpus, fold in two delta batches with
    ``merge_token_counts``, read the top-100 — and the oracle is the
    FULL-corpus recompute (t1's query), so the incremental path must be
    exactly equivalent. Each merge shuffles only vocab-sized partial
    counts; the corpus is scanned once per batch, never re-scanned."""
    docs = load_table(spark, sf_dir, "documents")
    counts = TX.word_count_table(docs.where(F.col("doc_id") % 3 == 0))
    counts = TX.merge_token_counts(counts, docs.where(F.col("doc_id") % 3 == 1))
    counts = TX.merge_token_counts(counts, docs.where(F.col("doc_id") % 3 == 2))
    return counts.orderBy(F.desc("cnt"), F.asc("token")).limit(100)


# =============================================================================
# dq4: source freshness / completeness monitor
# =============================================================================


@q(
    "dq4_source_freshness",
    """
    WITH g AS (SELECT max(epoch_us(ts)) AS mx FROM events),
    per AS (
        SELECT event_type, max(ts) AS last_ts,
               count(*) AS n_events,
               CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
           (g.mx - epoch_us(last_ts)) // 3600000000 AS lag_hours,
           n_events,
           n_days,
           n_events // n_days AS events_per_day,
           (g.mx - epoch_us(last_ts)) // 3600000000 >= 24 AS stale
    FROM per, g
    """,
)
def dq4_source_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness/completeness audit per event source: last-seen, integer
    lag-hours vs the newest event anywhere, active days, events per
    active day, stale flag. See ``transforms.source_freshness`` (one
    keyed agg + broadcast 1-row global max)."""
    from martech_pipelines_spark.operators.transforms import source_freshness

    ev = load_table(spark, sf_dir, "events")
    return source_freshness(ev)
