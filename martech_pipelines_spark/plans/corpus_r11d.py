"""Round-11 corpus, wave 4: intake/eval governance operators — every
entry with a full DuckDB oracle.

- ``t60_langid_confusion`` — the confusion matrix between the corpus's
  declared ``lang`` tags and t3's marker-token language ID, with
  per-tag agreement shares: the audit that decides whether the lang-ID
  heuristic (or the upstream tags) can be trusted before language
  filtering drops half a crawl.
- ``dq20_key_uniqueness`` — the primary-key audit across the whole
  star schema (the dbt `unique` + `not_null` test pair, run as one
  query): per table, row count vs distinct key count vs null keys.
- ``h37_incremental_outlier_days`` — dq19's IVM twin: daily counter
  cells are additive, so the Tukey-fence readout off merged per-batch
  state equals the full recompute (SHARES dq19's oracle).
- ``pipe15_stratified_holdout`` — exact-count leakage-safe holdout:
  per source, rank docs by the md5(source:id) hash (t12's
  reproducible-membership idiom) and hold out exactly
  floor(20% * n_source) — the EXACT-quota variant of t12's
  fixed-bucket sample (which leaves per-stratum counts binomial).

Reference anchor: SURVEY.md §7.3 governance lanes; the reference's
compute layer has no analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from martech_pipelines_spark.operators import text as TX
from martech_pipelines_spark.operators.transforms import sum_merge
from martech_pipelines_spark.operators.windows import (
    daily_count_state,
    outlier_days_readout,
)
from martech_pipelines_spark.plans.corpus import ORACLE, q
from martech_pipelines_spark.plans.corpus_extended import _lang_score_sql
from martech_pipelines_spark.sources import load_table

# =============================================================================
# t60: declared-tag vs predicted-language confusion matrix
# =============================================================================

_T60_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_lang_score_sql('de')} AS score_de,
               {_lang_score_sql('en')} AS score_en,
               {_lang_score_sql('es')} AS score_es,
               {_lang_score_sql('fr')} AS score_fr
        FROM documents
    ), pred AS (
        SELECT lang,
               CASE
                   WHEN greatest(score_de, score_en, score_es, score_fr) = 0
                       THEN 'und'
                   WHEN score_de = greatest(score_de, score_en, score_es,
                                            score_fr) THEN 'de'
                   WHEN score_en = greatest(score_de, score_en, score_es,
                                            score_fr) THEN 'en'
                   WHEN score_es = greatest(score_de, score_en, score_es,
                                            score_fr) THEN 'es'
                   ELSE 'fr'
               END AS lang_pred
        FROM scored
    ), cells AS (
        SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ), rowtot AS (
        SELECT lang, CAST(sum(n) AS BIGINT) AS n_tagged FROM cells GROUP BY 1
    )
    SELECT c.lang, c.lang_pred, c.n, r.n_tagged,
           CAST((c.n * 2000000 + r.n_tagged) // (2 * r.n_tagged) AS BIGINT)
               AS share_e6
    FROM cells c JOIN rowtot r USING (lang)
"""


@q("t60_langid_confusion", _T60_ORACLE)
def t60_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix between the corpus's declared ``lang`` tags and
    t3's marker-token language ID, with per-tag half-up e6 shares — the
    trust audit run before language filtering acts on either signal
    (diagonal mass = agreement; a hot off-diagonal cell names exactly
    which tag/predictor pair disagrees).  One codegen scoring pass +
    one |langs|^2-bounded agg; row totals broadcast back."""
    from martech_pipelines_spark.operators.parallelism import spread

    # lang_id is a heavy per-doc token-voting expression; evaluated on
    # the 1-2 partition scan it ran as ONE 4.7 s task (profiled r12) —
    # spread the narrow (lang, text) projection first (no-op at scale).
    docs = spread(load_table(spark, sf_dir, "documents").select("lang", "text"))
    pred = docs.select(
        "lang", TX.lang_id(F.col("text")).alias("lang_pred")
    )
    cells = pred.groupBy("lang", "lang_pred").agg(
        F.count("*").cast("long").alias("n")
    )
    rowtot = cells.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_tagged")
    )
    return cells.join(F.broadcast(rowtot), "lang").select(
        "lang",
        "lang_pred",
        "n",
        "n_tagged",
        F.expr("(n * 2000000 + n_tagged) div (2 * n_tagged)")
        .cast("long")
        .alias("share_e6"),
    )


# =============================================================================
# dq20: primary-key uniqueness audit across the star schema
# =============================================================================

# (table, duckdb key expr, spark key expr) — lineitem's key is the
# composite (orderkey, linenumber) as a canonical string (the string
# type spells differently per engine: VARCHAR vs STRING); everything
# else is a single BIGINT column, identical on both sides.
_LI_KEY_DUCK = (
    "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
)
_LI_KEY_SPARK = (
    "CAST(l_orderkey AS STRING) || ':' || CAST(l_linenumber AS STRING)"
)
_DQ20_KEYS = [
    ("region", "r_regionkey", "r_regionkey"),
    ("nation", "n_nationkey", "n_nationkey"),
    ("customer", "c_custkey", "c_custkey"),
    ("supplier", "s_suppkey", "s_suppkey"),
    ("part", "p_partkey", "p_partkey"),
    ("orders", "o_orderkey", "o_orderkey"),
    ("lineitem", _LI_KEY_DUCK, _LI_KEY_SPARK),
    ("events", "event_id", "event_id"),
    ("documents", "doc_id", "doc_id"),
    ("embeddings", "vec_id", "vec_id"),
]


def _dq20_oracle() -> str:
    blocks = []
    for t, k, _sk in _DQ20_KEYS:
        blocks.append(f"""
    SELECT '{t}' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT {k}) AS BIGINT) AS n_distinct_keys,
           CAST(sum(CASE WHEN ({k}) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_keys,
           count(*) = count(DISTINCT {k})
               AND sum(CASE WHEN ({k}) IS NULL THEN 1 ELSE 0 END) = 0
               AS key_ok
    FROM {t}""")
    return " UNION ALL ".join(blocks)


@q("dq20_key_uniqueness", _dq20_oracle())
def dq20_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key audit across every registered table — the dbt
    ``unique`` + ``not_null`` test pair as ONE report (rows vs distinct
    keys vs null keys, with a pass flag): the referential ground every
    join in the corpus stands on, checked instead of assumed.
    Lineitem's key is the composite (orderkey, linenumber), audited as
    a canonical string on both engines — and on the shipped synthetic
    data the audit FINDS a real defect: the generator does not enforce
    that key (4599 distinct of 6000 rows at sf0.001), pinned in pytest
    so a generator change surfaces here.  Scale shape: one
    count/count-distinct agg per table (partial-aggregated), 10 rows
    out."""
    outs = []
    for t, _dk, k in _DQ20_KEYS:
        df = load_table(spark, sf_dir, t)
        key = F.expr(k)
        outs.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count("*").cast("long").alias("n_rows"),
                F.count_distinct(key).cast("long").alias("n_distinct_keys"),
                F.sum(key.isNull().cast("int")).cast("long").alias(
                    "n_null_keys"
                ),
            ).select(
                "table_name",
                "n_rows",
                "n_distinct_keys",
                "n_null_keys",
                (
                    (F.col("n_rows") == F.col("n_distinct_keys"))
                    & (F.col("n_null_keys") == 0)
                ).alias("key_ok"),
            )
        )
    out = outs[0]
    for nxt in outs[1:]:
        out = out.unionByName(nxt)
    return out


# =============================================================================
# h37: incremental Tukey-fence outlier days (dq19's IVM twin)
# =============================================================================


@q("h37_incremental_outlier_days", ORACLE["dq19_iqr_outlier_days"])
def h37_incremental_outlier_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dq19 maintained INCREMENTALLY (SHARES dq19's oracle — the IVM
    proof): events split by event_id parity — so both batches
    contribute cells to the SAME (type, day) keys, the hard merge case
    — each reduced to ``daily_count_state``, summed and rendered by
    ``outlier_days_readout``."""
    ev = load_table(spark, sf_dir, "events")
    b1 = ev.where(F.col("event_id") % 2 == 0)
    b2 = ev.where(F.col("event_id") % 2 == 1)
    daily = sum_merge(
        ["event_type", "d"], daily_count_state(b1), daily_count_state(b2)
    )
    return outlier_days_readout(daily)


# =============================================================================
# pipe15: exact-quota stratified holdout split
# =============================================================================

_PIPE15_PCT = 20  # holdout percent (exact per-stratum quota)

_PIPE15_ORACLE = f"""
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)),
                            doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT source,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rn <= n * {_PIPE15_PCT} // 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
           CAST(sum(CASE WHEN rn > n * {_PIPE15_PCT} // 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN rn <= n * {_PIPE15_PCT} // 100
                         THEN doc_id ELSE 0 END) AS BIGINT) AS val_id_sum
    FROM ranked GROUP BY 1
"""


@q("pipe15_stratified_holdout", _PIPE15_ORACLE)
def pipe15_stratified_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified holdout: per source, docs rank by the
    md5(source:id) hash (t12's reproducible-membership idiom — stable
    across runs, engines, partitionings) and exactly floor(20% * n)
    land in validation.  t12's fixed-bucket sample leaves per-stratum
    counts binomial; a mixture-controlled eval needs the QUOTA exact,
    which is what this computes.  ``val_id_sum`` pins the exact
    membership (not just the counts) in the hash.  Scale shape: one
    source-keyed window (strata are the partition keys) + one agg."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat_ws(":", F.col("source"), F.col("doc_id"))),
        F.col("doc_id"),
    )
    wn = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    is_val = F.col("rn") <= F.expr(f"n * {_PIPE15_PCT} div 100")
    return ranked.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.sum(is_val.cast("int")).cast("long").alias("n_val"),
        F.sum((~is_val).cast("int")).cast("long").alias("n_train"),
        F.sum(F.when(is_val, F.col("doc_id")).otherwise(F.lit(0)))
        .cast("long")
        .alias("val_id_sum"),
    )
