"""Round-4 corpus: paragraph-level dedup (CCNet), contamination-overlap
scoring, BM25 retrieval, SCD2 dimension build, linear multi-touch
attribution, deterministic weighted sampling, and length-bucketed batch
assembly — each with a full DuckDB oracle.

Same oracle-portability ground rules as corpus.py: md5 hashing, exact
integer arithmetic wherever determinism matters (paise credits use
integer floor-division so double summation order can't drift), rounded
ratios, formatted timestamps, rank-on-rounded-score with id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from martech_pipelines_spark.operators import cdc
from martech_pipelines_spark.operators import dedup as DD
from martech_pipelines_spark.operators import text as TX
from martech_pipelines_spark.plans.corpus import q
from martech_pipelines_spark.plans.corpus_extended import _DUCK_NORM, _DUCK_TOKENS
from martech_pipelines_spark.sources import load_table

_DUCK_NORM_TOKS = (
    f"list_filter(string_split_regex({_DUCK_NORM.format(col='text')},"
    " '[^a-z0-9'']+'), x -> x <> '')"
)

# =============================================================================
# dd11: CCNet-style paragraph dedup
# =============================================================================

_DD11_K = 10

_DD11_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_NORM_TOKS} AS t FROM documents
    ), par AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS para_idx,
               array_to_string(
                   t[CAST(u.i * {_DD11_K} + 1 AS INTEGER)
                     :CAST(u.i * {_DD11_K} + {_DD11_K} AS INTEGER)], ' '
               ) AS para
        FROM toks, unnest(range(0, (len(t) + {_DD11_K - 1}) // {_DD11_K})) u(i)
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY md5(para) ORDER BY doc_id, para_idx
        ) AS rnk
        FROM par
    ), kept AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(para, ' ' ORDER BY para_idx) AS text_kept
        FROM ranked WHERE rnk = 1 GROUP BY doc_id
    ), totals AS (
        SELECT doc_id,
               CAST((len(t) + {_DD11_K - 1}) // {_DD11_K} AS BIGINT) AS n_paras
        FROM toks
    )
    SELECT t.doc_id, t.n_paras,
           coalesce(k.n_kept, 0) AS n_kept,
           coalesce(k.text_kept, '') AS text_kept
    FROM totals t LEFT JOIN kept k USING (doc_id)
    """


@q("dd11_paragraph_dedup", _DD11_ORACLE)
def dd11_paragraph_dedup(spark, sf_dir):
    """CCNet paragraph dedup (Wenzek et al. 2020): corpus-wide
    first-occurrence keep per distinct paragraph, doc text rebuilt from
    survivors. The generator's near-dup docs share most paragraphs, so
    the pass removes real volume (not just planted noise). One shuffle
    keyed on the paragraph hash + one per-doc agg — exact_dedup's shape
    at paragraph granularity."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.paragraph_dedup(docs, k=_DD11_K)


# =============================================================================
# dd9b: contamination overlap fraction
# =============================================================================

_DD9B_W = 8

_DD9B_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_NORM_TOKS} AS t FROM documents
    ), win AS (
        SELECT doc_id,
               md5(array_to_string(
                   t[CAST(i AS INTEGER):CAST(i + {_DD9B_W - 1} AS INTEGER)], ' '
               )) AS h
        FROM toks, unnest(range(1, len(t) - {_DD9B_W - 2})) u(i)
        WHERE len(t) >= {_DD9B_W}
    ), eval_h AS (
        SELECT DISTINCT h FROM win WHERE doc_id % 10 = 3
    ), agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN h IN (SELECT h FROM eval_h)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_windows
        FROM win WHERE doc_id % 10 <> 3 GROUP BY doc_id
    )
    SELECT doc_id, n_windows, n_hit_windows,
           round(n_hit_windows / n_windows, 4) AS overlap_frac
    FROM agg
    """


@q("dd9b_contamination_overlap", _DD9B_ORACLE)
def dd9b_contamination_overlap(spark, sf_dir):
    """dd9's scoring twin: per-train-doc FRACTION of 8-token windows
    hitting the eval set (doc_id%10==3) — the tunable the published
    decontamination thresholds act on. Broadcast eval hash set, one
    train-corpus scan, one per-doc agg."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 3)
    eval_docs = docs.where(F.col("doc_id") % 10 == 3)
    return DD.contamination_overlap(train, eval_docs, w=_DD9B_W)


# =============================================================================
# t19: BM25 ranked retrieval
# =============================================================================

_T19_TERMS = ("dup", "fast", "scan")
_T19_K1 = 1.2
_T19_B = 0.75
_T19_TOPK = 20

_T19_TERMS_SQL = ", ".join(f"'{t}'" for t in _T19_TERMS)

_T19_ORACLE = f"""
    WITH ld AS (
        SELECT doc_id, {_DUCK_TOKENS.format(col='text')} AS t FROM documents
    ), posting AS (
        SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM ld
    ), tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM posting WHERE term IN ({_T19_TERMS_SQL})
        GROUP BY doc_id, dl, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), stats AS (
        SELECT CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl,
               count(*) AS n_docs
        FROM ld
    ), scored AS (
        SELECT tf.doc_id,
               ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * (tf.tf * {_T19_K1 + 1.0})
                 / (tf.tf + {_T19_K1} * (1.0 - {_T19_B}
                     + {_T19_B} * tf.dl / s.avgdl)) AS term_score
        FROM tf JOIN df USING (term) CROSS JOIN stats s
    ), agg AS (
        SELECT doc_id, round(sum(term_score), 4) AS bm25,
               CAST(count(*) AS BIGINT) AS n_terms_hit
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, bm25, n_terms_hit, rnk FROM (
        SELECT *, CAST(row_number() OVER (
            ORDER BY bm25 DESC, doc_id ASC
        ) AS INTEGER) AS rnk
        FROM agg
    ) WHERE rnk <= {_T19_TOPK}
    """


@q("t19_bm25", _T19_ORACLE)
def t19_bm25(spark, sf_dir):
    """BM25 top-20 for a fixed term set (one rare planted marker + two
    common terms, so idf separation is real). Postings filtered to the
    query terms BEFORE the shuffle; df/corpus stats broadcast; rank on
    the rounded score with doc_id tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.bm25_topk(
        docs, _T19_TERMS, k1=_T19_K1, b=_T19_B, k=_T19_TOPK
    )


# =============================================================================
# mart4: SCD2 dimension build
# =============================================================================

_MART4_ORACLE = """
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(
               coalesce(
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   TIMESTAMP '9999-12-31 00:00:00'),
               '%Y-%m-%d %H:%M:%S') AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               IS NULL AS is_current
    FROM events
    """


@q("mart4_scd2", _MART4_ORACLE)
def mart4_scd2(spark, sf_dir):
    """Type-2 SCD build from the change log: every change becomes a
    version row with [valid_from, valid_to) bounds and an is_current
    flag — point-in-time joins without self-joining history. One keyed
    shuffle + lead(); see cdc.scd2_from_changes."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    scd = cdc.scd2_from_changes(
        ev, "user_id", "ts", tiebreak_cols=["event_id"]
    )
    return scd.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


# =============================================================================
# mart5: linear multi-touch attribution
# =============================================================================

_MART5_WINDOW_US = 7 * 86400 * 1_000_000

_MART5_ORACLE = f"""
    WITH conv AS (
        SELECT user_id, event_id AS conv_id, epoch_us(ts) AS conv_us,
               CAST(trunc(value * 100) AS BIGINT) AS value_paise
        FROM events WHERE event_type = 'purchase'
    ), touch AS (
        SELECT user_id, event_id AS touch_id, event_type AS touch_type,
               epoch_us(ts) AS touch_us
        FROM events WHERE event_type IN ('view', 'click')
    ), j AS (
        SELECT c.conv_id, c.value_paise, t.touch_type
        FROM conv c JOIN touch t ON c.user_id = t.user_id
        WHERE t.touch_us < c.conv_us
          AND c.conv_us - t.touch_us <= {_MART5_WINDOW_US}
    ), cr AS (
        SELECT *, value_paise // count(*) OVER (PARTITION BY conv_id)
                   AS credit_paise
        FROM j
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
           CAST(sum(credit_paise) AS BIGINT) AS credit_paise_total
    FROM cr GROUP BY touch_type
    """


@q("mart5_linear_attribution", _MART5_ORACLE)
def mart5_linear_attribution(spark, sf_dir):
    """Linear multi-touch attribution: each purchase's value split
    equally (integer paise floor-division — summation-order-proof)
    across its view/click touches in a 7-day lookback.

    Scale shape: the conv-x-touch pairing is a user-keyed equi-join with
    the range as a post-join filter (both sides shuffle once on user_id;
    per-user fan-out is bounded by session length, not corpus size),
    then one window keyed on conv_id for the touch count and a tiny
    final agg. Contrast mart3 (last-touch), which needs no join at all —
    linear credit genuinely requires the pairs."""
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
        & (F.col("conv_us") - F.col("touch_us") <= _MART5_WINDOW_US)
    )
    cr = j.withColumn(
        "credit_paise",
        F.expr("value_paise div count(*) over (partition by conv_id)"),
    )
    return cr.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.count_distinct("conv_id").cast("long").alias("n_convs"),
        F.sum("credit_paise").cast("long").alias("credit_paise_total"),
    )


# =============================================================================
# t20: deterministic weighted sampling (A-Res)
# =============================================================================

_T20_K = 50

_T20_ORACLE = f"""
    WITH keyed AS (
        SELECT doc_id, n_chars AS weight,
               -ln((('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
                                    1, 8))::BIGINT + 1.0) / 4294967297.0)
                 / n_chars AS k
        FROM documents
    )
    SELECT doc_id, weight, rnk FROM (
        SELECT doc_id, weight,
               CAST(row_number() OVER (ORDER BY k ASC, doc_id ASC)
                    AS INTEGER) AS rnk
        FROM keyed
    ) WHERE rnk <= {_T20_K}
    """


@q("t20_weighted_sample", _T20_ORACLE)
def t20_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement, made
    deterministic by drawing the uniform from the engine's md5 primitive
    — run/partitioning/engine-reproducible subset selection weighted by
    doc length. TakeOrdered top-k, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.weighted_sample_topk(docs, "n_chars", k=_T20_K, salt="wsample")


# =============================================================================
# t21: length-bucketed batch assembly
# =============================================================================

_T21_BATCH = 8

_T21_ORACLE = f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len({_DUCK_TOKENS.format(col='text')}) AS BIGINT)
                   AS n_tokens
        FROM documents
    ), b AS (
        SELECT doc_id, n_tokens,
               CAST(length(bin(n_tokens)) - 1 AS INTEGER) AS bucket
        FROM base WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, bucket,
           CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
                // {_T21_BATCH} AS BIGINT) AS batch_idx
    FROM b
    """


@q("t21_length_buckets", _T21_ORACLE)
def t21_length_buckets(spark, sf_dir):
    """Length-bucketed training-batch assembly: power-of-two token-count
    buckets (integer bin-length, no float log2 boundaries) and
    deterministic batch ids within each bucket — pad waste bounded at 2x
    per batch. One window keyed on ~7 buckets."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.length_bucket_batches(docs, batch_size=_T21_BATCH)


@q("t19b_bm25_materialized", _T19_ORACLE)
def t19b_bm25_materialized(spark, sf_dir):
    """Two-stage BM25 (the dd3c/s2c materialized-index pattern applied to
    text retrieval): stage 1 writes the inverted index ONCE — postings
    partitioned by term + a 1-row stats table; stage 2 answers the query
    reading ONLY the index, with the term IN-list partition-pruning the
    postings scan (PartitionFilters, plan-asserted in test_plans). Bit-
    equal to the inline t19, hence the SHARED oracle."""
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    index_path = tempfile.mkdtemp(prefix="bm25_idx_")
    TX.bm25_build_index(docs, index_path)
    return TX.bm25_query_index(
        spark, index_path, _T19_TERMS, k1=_T19_K1, b=_T19_B, k=_T19_TOPK
    )


# =============================================================================
# r18: MAD-based robust outlier flags
# =============================================================================

_R18_ORACLE = """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ), j AS (
        SELECT e.event_id, e.event_type, e.value,
               abs(e.value - m.med) AS absdev
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(absdev, 0.5) AS mad
        FROM j GROUP BY event_type
    )
    SELECT j.event_id, j.event_type,
           round(j.value, 2) AS value_r,
           j.absdev > 3 * d.mad AS is_outlier
    FROM j JOIN mad d USING (event_type)
    """


@q("r18_mad_outliers", _R18_ORACLE)
def r18_mad_outliers(spark, sf_dir):
    """Robust per-group outlier flags: median absolute deviation (the
    estimator that survives the outliers it hunts — unlike stddev-based
    z-scores, which the r16/f12 family covers). Two exact-percentile
    aggregations over the SAME group key + two broadcast joins back; the
    group cardinality (event types) is tiny, so both medians are
    broadcastable 5-row tables and the event scan stays the only big
    input. Exact ``percentile`` interpolates identically to DuckDB's
    ``quantile_cont`` (same (n-1)*p linear rule on identical doubles)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    j = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = j.groupBy("event_type").agg(
        F.expr("percentile(absdev, 0.5)").alias("mad")
    )
    return j.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 2).alias("value_r"),
        (F.col("absdev") > 3 * F.col("mad")).alias("is_outlier"),
    )


# =============================================================================
# dq1: declarative data-quality constraint gate
# =============================================================================

_DQ1_ORACLE = """
    WITH agg AS (
        SELECT
            CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS c_nn_user,
            CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS c_nn_ts,
            CAST(sum(CASE WHEN event_type IS NULL
                          OR event_type NOT IN
                             ('view','click','purchase','signup','error')
                     THEN 1 ELSE 0 END) AS BIGINT) AS c_av_type,
            CAST(sum(CASE WHEN value IS NULL OR value < 0 OR value > 1000
                     THEN 1 ELSE 0 END) AS BIGINT) AS c_rng_value,
            CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT)
                AS c_uq_event
        FROM events
    )
    SELECT u.check_name, u.n_violations, u.n_violations = 0 AS ok
    FROM agg, LATERAL (VALUES
        ('not_null(user_id)', c_nn_user),
        ('not_null(ts)', c_nn_ts),
        ('accepted_values(event_type)', c_av_type),
        ('range(value)', c_rng_value),
        ('unique(event_id)', c_uq_event)
    ) AS u(check_name, n_violations)
    """


@q("dq1_constraint_check", _DQ1_ORACLE)
def dq1_constraint_check(spark, sf_dir):
    """Declarative DQ gate over the change log: five constraints
    (not-null x2, accepted-values, range, uniqueness) evaluated in ONE
    aggregation pass — the pre-load assertion step of a warehouse
    pipeline (see transforms.constraint_check)."""
    from martech_pipelines_spark.operators import transforms as TR

    ev = load_table(spark, sf_dir, "events")
    return TR.constraint_check(
        ev,
        not_null=["user_id", "ts"],
        accepted_values={
            "event_type": ["view", "click", "purchase", "signup", "error"]
        },
        ranges={"value": (0, 1000)},
        unique=["event_id"],
    )


# =============================================================================
# z1: Z-order (Morton) clustering key
# =============================================================================

_Z1_INTERLEAVE = " + ".join(
    f"(((ba >> {i}) & 1) << {2 * i + 1}) + (((bb >> {i}) & 1) << {2 * i})"
    for i in range(16)
)

_Z1_ORACLE = f"""
    WITH stats AS (
        SELECT CAST(min(user_id) AS DOUBLE) AS mna,
               CAST(max(user_id) AS DOUBLE) AS mxa,
               min(value) AS mnb, max(value) AS mxb
        FROM events
    ), keyed AS (
        SELECT event_id,
               CASE WHEN mxa > mna
                    THEN CAST(floor((CAST(user_id AS DOUBLE) - mna) * 65535.0
                                    / (mxa - mna)) AS BIGINT)
                    ELSE 0 END AS ba,
               CASE WHEN mxb > mnb
                    THEN CAST(floor((value - mnb) * 65535.0 / (mxb - mnb))
                              AS BIGINT)
                    ELSE 0 END AS bb
        FROM events, stats
    )
    SELECT event_id, CAST({_Z1_INTERLEAVE} AS BIGINT) AS zkey FROM keyed
    """


@q("z1_zorder_key", _Z1_ORACLE)
def z1_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (user_id, value): min/max
    rank buckets bit-interleaved with unrolled shift/and arithmetic —
    the sort key behind multi-dimensional data skipping (Delta
    ``OPTIMIZE ZORDER BY``). Key computation is one codegen projection
    + a broadcast 1-row stats join; the measured skipping win lives in
    tests/test_r4_ops.py (files touched by a 2-D box query, z-ordered
    vs natural layout)."""
    from martech_pipelines_spark.operators import layout as LY

    ev = load_table(spark, sf_dir, "events")
    return LY.with_zorder_key(ev, "user_id", "value").select("event_id", "zkey")


# =============================================================================
# h6: incremental aggregate maintenance (IVM)
# =============================================================================

_H6_ORACLE = """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_value
    FROM events
    GROUP BY user_id
    """


@q("h6_incremental_agg", _H6_ORACLE)
def h6_incremental_agg(spark, sf_dir):
    """Incremental view maintenance, proven against the full recompute:
    the per-user (count, sum) table is built from the pre-watermark
    history, then the post-watermark change batch is folded in with
    ``incremental_agg_update`` — and the oracle is the DIRECT aggregation
    over all events, so the equality IS the IVM correctness proof.
    DECIMAL partial sums keep the merge exact under any fold order.
    Only the delta shuffles at update time; that asymmetry is the entire
    value of maintaining the view."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    cutoff = "2024-01-15 00:00:00"
    history = ev.where(F.col("ts") < cutoff)
    batch = ev.where(F.col("ts") >= cutoff)
    base = history.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    updated = cdc.incremental_agg_update(base, batch, "user_id")
    return updated.select(
        "user_id",
        "n_events",
        F.round("total_value", 2).cast("double").alias("total_value"),
    )


# =============================================================================
# pipe4: leakage-safe train/val/test split (cluster-consistent)
# =============================================================================

from martech_pipelines_spark.plans.corpus_extended import (  # noqa: E402
    _CLUSTER_CORPUS_SQL,
    _minhash_oracle,
)

_PIPE4_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle(_CLUSTER_CORPUS_SQL)}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
        SELECT id, id AS label FROM verts
        UNION
        SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    clus AS (
        SELECT id, CAST(min(label) AS BIGINT) AS cluster FROM reach GROUP BY id
    ),
    corpus AS ({_CLUSTER_CORPUS_SQL}),
    allc AS (
        SELECT c.doc_id AS id, coalesce(cl.cluster, c.doc_id) AS cluster
        FROM corpus c LEFT JOIN clus cl ON cl.id = c.doc_id
    )
    SELECT id, cluster,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT id, cluster,
               ('0x' || substr(md5('split:' || CAST(cluster AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 AS b
        FROM allc
    )
    """


@q("pipe4_leakage_safe_split", _PIPE4_ORACLE)
def pipe4_leakage_safe_split(spark, sf_dir):
    """Leakage-safe splitting: assign train/val/test by NEAR-DUP CLUSTER,
    not by document — a doc-level hash split leaks because a test doc's
    near-duplicate can land in train (exactly what decontamination then
    has to claw back). Composes three oracle-checked stages end to end:
    MinHash-LSH pairs -> connected-component clusters (singletons keep
    their own id) -> deterministic md5 split of the CLUSTER id, so every
    member of a cluster inherits the same split by construction.

    Oracle = the composed SQL of all three stages (recursive CTE
    reachability included). The no-straddling property is additionally
    pinned as a direct pytest assertion over the pair table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 5 == 0)
    exact = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = base.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" zz yy xx")).alias("text"),
    )
    corpus = base.unionByName(exact).unionByName(near)
    pairs = DD.minhash_near_duplicates(
        corpus, threshold=0.5, num_perm=16, bands=4, shingle_n=3
    )
    clusters = DD.dup_clusters(pairs)
    assigned = (
        corpus.select(F.col("doc_id").alias("id"))
        .join(clusters, "id", "left")
        .select(
            "id", F.coalesce("cluster", F.col("id")).cast("long").alias("cluster")
        )
    )
    bucket = TX.md5_bucket32(F.col("cluster").cast("string"), "split") % 100
    return assigned.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )


# =============================================================================
# h7: incremental distinct maintenance via mergeable HLL sketches
# =============================================================================


@q("h7_incremental_distinct")  # rows-only: sketch estimate (error+merge gates in pytest)
def h7_incremental_distinct(spark, sf_dir):
    """Incremental DISTINCT maintenance: per-event-type distinct-user
    counts kept as mergeable HLL sketches — the pre-watermark history is
    sketched once, the new batch's sketches are unioned in, and history
    is never re-scanned (h6's IVM asymmetry for a NON-distributive
    aggregate). Deterministic sketches => union-of-batches equals the
    full-corpus sketch bit-for-bit (pinned in tests); the estimate is
    approximate by design, hence rows-only here with a 5%% error gate
    in pytest."""
    from martech_pipelines_spark.operators import sketches as SK

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "user_id")
    cutoff = "2024-01-15 00:00:00"
    base = SK.distinct_sketch_table(
        ev.where(F.col("ts") < cutoff), "event_type", "user_id"
    )
    delta = SK.distinct_sketch_table(
        ev.where(F.col("ts") >= cutoff), "event_type", "user_id"
    )
    merged = SK.merge_sketch_tables(base, delta, "event_type")
    return SK.estimate_distinct(merged).orderBy("event_type")


# =============================================================================
# mart4b: SCD2 point-in-time snapshot (the read side of mart4)
# =============================================================================

_MART4B_TS = "2024-01-15 00:00:00"

_MART4B_ORACLE = f"""
    WITH scd AS (
        SELECT user_id, event_id, event_type,
               ts AS valid_from,
               coalesce(lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                        TIMESTAMP '9999-12-31 00:00:00') AS valid_to
        FROM events
    )
    SELECT user_id, event_id, event_type,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from
    FROM scd
    WHERE valid_from <= TIMESTAMP '{_MART4B_TS}'
      AND valid_to > TIMESTAMP '{_MART4B_TS}'
    """


@q("mart4b_scd2_snapshot", _MART4B_ORACLE)
def mart4b_scd2_snapshot(spark, sf_dir):
    """SCD2 read side: the dimension AS OF a timestamp — one row per key
    whose [valid_from, valid_to) interval covers T. Exactly-one-row-per-
    key is structural (intervals partition each key's timeline), pinned
    in test_r4_ops. Same single keyed shuffle as the build; the snapshot
    filter is a codegen predicate over the versioned table — at scale
    you'd partition the materialized SCD2 table by valid_from date and
    prune."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    scd = cdc.scd2_from_changes(ev, "user_id", "ts", tiebreak_cols=["event_id"])
    snap = scd.where(
        (F.col("valid_from") <= _MART4B_TS) & (F.col("valid_to") > _MART4B_TS)
    )
    return snap.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
    )


# =============================================================================
# mart6: point-in-time (temporal) join of facts to dimension versions
# =============================================================================

_MART6_ORACLE = """
    WITH scd AS (
        SELECT user_id, event_id AS version_id, event_type AS state_at_purchase,
               ts AS valid_from,
               coalesce(lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                        TIMESTAMP '9999-12-31 00:00:00') AS valid_to
        FROM events
    )
    SELECT p.event_id AS purchase_id, p.user_id,
           s.version_id, s.state_at_purchase
    FROM events p
    JOIN scd s ON s.user_id = p.user_id
              AND s.valid_from <= p.ts AND s.valid_to > p.ts
    WHERE p.event_type = 'purchase'
    """


@q("mart6_pit_join", _MART6_ORACLE)
def mart6_pit_join(spark, sf_dir):
    """Point-in-time join — the classic warehouse temporal join: each
    purchase picks up the dimension version valid AT its own timestamp
    (the SCD2 version with ``valid_from <= t < valid_to``), never a later
    one (no leakage of future state into training features). Distinct
    from r6's self-stream as-of: this joins FACTS against a versioned
    DIMENSION.

    Computed join-free: union the version stream with the fact stream,
    sort once per user, and carry the last version forward (the mart3
    last-touch trick applied to SCD2). Tie discipline at equal ts:
    versions sort before facts (a purchase must see its OWN version),
    and later same-ts versions overwrite earlier ones, exactly like the
    half-open interval's exclusion of an empty version. Each purchase
    gets exactly one version (pinned in test_r4_ops).

    Why this form is the one kept: the equi-join on user with the
    interval as a post-join filter fans out versions x purchases per
    user before filtering. In an interleaved same-session A/B it lost
    at sf0.1 (0.71 vs 0.60 s median, the window form won 5/6 rounds)
    and on a planted hot user holding 20% of the events (1.55 vs
    0.89 s, 4/4); rows were identical on both inputs."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    versions = ev.select(
        "user_id",
        F.col("ts").alias("ev_ts"),
        F.lit(1).alias("is_version"),
        F.col("event_id").alias("version_id"),
        F.col("event_type").alias("state"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ev_ts"),
        F.lit(0).alias("is_version"),
        F.lit(None).cast("long").alias("version_id"),
        F.lit(None).cast("string").alias("state"),
        F.col("event_id").alias("purchase_id"),
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc("ev_ts"), F.desc("is_version"), F.asc("version_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = versions.unionByName(facts).select(
        "user_id",
        "is_version",
        "purchase_id",
        F.last(F.when(F.col("is_version") == 1, F.col("version_id")), True)
        .over(w)
        .alias("version_id_c"),
        F.last(F.when(F.col("is_version") == 1, F.col("state")), True)
        .over(w)
        .alias("state_c"),
    )
    return merged.where(F.col("is_version") == 0).select(
        "purchase_id",
        "user_id",
        F.col("version_id_c").alias("version_id"),
        F.col("state_c").alias("state_at_purchase"),
    )


# =============================================================================
# h8: snapshot-diff change feed (CDC outward)
# =============================================================================

_H8_ORACLE = """
    WITH old_s AS (
        SELECT user_id, event_id, value FROM (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rnk
            FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        ) WHERE rnk = 1
    ), new_s AS (
        SELECT user_id, event_id, value FROM (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rnk
            FROM events
        ) WHERE rnk = 1
    )
    SELECT coalesce(n.user_id, o.user_id) AS user_id,
           CASE WHEN n.user_id IS NOT NULL THEN n.event_id
                ELSE o.event_id END AS event_id,
           round(CASE WHEN n.user_id IS NOT NULL THEN n.value
                      ELSE o.value END, 2) AS value_r,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN n.user_id IS NULL THEN 'delete'
                WHEN o.event_id IS DISTINCT FROM n.event_id
                  OR o.value IS DISTINCT FROM n.value THEN 'update'
           END AS change_type
    FROM old_s o FULL OUTER JOIN new_s n ON o.user_id = n.user_id
    WHERE (o.user_id IS NULL) OR (n.user_id IS NULL)
       OR (o.event_id IS DISTINCT FROM n.event_id
           OR o.value IS DISTINCT FROM n.value)
    """


@q("h8_snapshot_diff", _H8_ORACLE)
def h8_snapshot_diff(spark, sf_dir):
    """CDC in the OUTWARD direction: manufacture a change feed by
    diffing two snapshots (latest-per-user state before the watermark vs
    now) — what a pipeline does when the upstream has no change log.
    Inserts (new users), updates (latest event moved), deletes (none
    here, structurally: users never vanish); unchanged users dropped.
    One co-partitioned full-outer join + codegen classifier (null-safe
    comparison); bucketing both snapshots makes it exchange-free."""
    ev = load_table(spark, sf_dir, "events")
    old_snap = cdc.latest_per_key(
        ev.where(F.col("ts") < "2024-01-15 00:00:00"),
        "user_id",
        "ts",
        tiebreak_cols=["event_id"],
    ).select("user_id", "event_id", "value")
    new_snap = cdc.latest_per_key(
        ev, "user_id", "ts", tiebreak_cols=["event_id"]
    ).select("user_id", "event_id", "value")
    diff = cdc.snapshot_diff(old_snap, new_snap, "user_id")
    return diff.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value_r"),
        "change_type",
    )


# =============================================================================
# t22: per-source distribution drift (Jensen-Shannon divergence)
# =============================================================================

_T22_ORACLE = f"""
    WITH toks AS (
        SELECT source, unnest({_DUCK_TOKENS.format(col='text')}) AS term
        FROM documents
    ), src_counts AS (
        SELECT source, term, count(*) AS c FROM toks GROUP BY source, term
    ), src_tot AS (
        SELECT source, CAST(sum(c) AS DOUBLE) AS tot FROM src_counts GROUP BY source
    ), corpus_counts AS (
        SELECT term, count(*) AS c FROM toks GROUP BY term
    ), corpus_tot AS (
        SELECT CAST(sum(c) AS DOUBLE) AS tot FROM corpus_counts
    ), probs AS (
        SELECT sc.source,
               sc.c / st.tot AS p,
               cc.c / ct.tot AS q
        FROM src_counts sc
        JOIN src_tot st USING (source)
        JOIN corpus_counts cc USING (term)
        CROSS JOIN corpus_tot ct
    )
    SELECT source,
           round(sum(
               0.5 * p * ln(p / ((p + q) / 2.0))
             + 0.5 * q * ln(q / ((p + q) / 2.0))
           ) + 0.5 * ln(2.0) * (1.0 - sum(q)), 4) AS jsd
    FROM probs GROUP BY source
    """


@q("t22_source_drift", _T22_ORACLE)
def t22_source_drift(spark, sf_dir):
    """Per-source distribution drift: Jensen-Shannon divergence between
    each source's token distribution and the corpus-wide one — the
    monitoring signal a mixture pipeline (t16/pipe3) alarms on when a
    source's content shifts. One exploded-token pass feeds both the
    per-source and corpus distributions (vocab-keyed aggregates, both
    broadcastable); the JSD sum runs over vocabulary-sized rows.
    This is the FULL JSD (nats): the explicit sum covers terms present
    in the source; each corpus term ABSENT from the source (p=0, q>0)
    contributes exactly 0.5*q*ln(2), which per source telescopes to the
    closed form 0.5*ln(2)*(1 - sum_present(q)) — added without ever
    materializing the absent (source, term) pairs, so no dense
    source x vocabulary cross join is needed."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    src_counts = toks.groupBy("source", "term").agg(F.count("*").alias("c"))
    src_tot = src_counts.groupBy("source").agg(
        F.sum("c").cast("double").alias("tot")
    )
    corpus_counts = toks.groupBy("term").agg(F.count("*").alias("cc"))
    corpus_tot = corpus_counts.agg(F.sum("cc").cast("double").alias("ctot"))
    probs = (
        src_counts.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus_counts), "term")
        .crossJoin(F.broadcast(corpus_tot))
        .select(
            "source",
            (F.col("c") / F.col("tot")).alias("p"),
            (F.col("cc") / F.col("ctot")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2.0
    term = 0.5 * F.col("p") * F.log(F.col("p") / m) + 0.5 * F.col("q") * F.log(
        F.col("q") / m
    )
    absent = 0.5 * F.log(F.lit(2.0)) * (F.lit(1.0) - F.sum("q"))
    return probs.groupBy("source").agg(
        F.round(F.sum(term) + absent, 4).alias("jsd")
    )


# =============================================================================
# r19: grouped equi-width histogram
# =============================================================================

_R19_ORACLE = """
    SELECT event_type,
           CAST(floor(value / 50.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, CAST(floor(value / 50.0) AS BIGINT)
    """


@q("r19_histogram", _R19_ORACLE)
def r19_histogram(spark, sf_dir):
    """Grouped equi-width histogram (bin = floor(value/50)): the
    dashboard-distribution query, one keyed agg with map-side combine;
    identical float division + floor in both engines."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 50.0).cast("long").alias("bin"),
    ).agg(F.count("*").cast("long").alias("n"))
