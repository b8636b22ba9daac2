"""The oracle-checked query corpus — one named query per SURVEY.md §2 row.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an ANSI-SQL oracle string DuckDB runs on the same parquet tables. The
driver compares row-count + schema + order-insensitive value hash, sorting
columns by name — so every computed column is aliased identically on both
sides, doubles are rounded to fixed decimals, and timestamps that carry
sub-second noise are emitted as formatted strings.

Determinism rules used throughout:
- no wall-clock functions inside compared queries (IST date functions are
  exercised against a fixed anchor timestamp);
- top-k / ranked outputs always carry a unique tiebreak column;
- double aggregates rounded (2dp money, 4dp ratios/similarities).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from martech_pipelines_spark.functions import profile as P
from martech_pipelines_spark.operators import cdc
from martech_pipelines_spark.sources import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    """Register a corpus query (and its DuckDB oracle, when expressible)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# =============================================================================
# Flagship: E2 CDC latest-per-key compaction (+C4, C5, E1, H2, F6, F10)
# Reference: martech_pipelines/tasks/user_profile/clevertap.py:30-53.
# =============================================================================

_FLAGSHIP_ORACLE = """
WITH filtered AS (
    SELECT * FROM events WHERE event_type IN ('purchase', 'signup')
), ranked AS (
    SELECT *,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rnk
    FROM filtered
)
SELECT user_id,
       event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       event_type,
       CAST(trunc(value * 100) AS BIGINT) AS value_paise,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM ranked WHERE rnk = 1
"""


@q("flagship_cdc_dedup", _FLAGSHIP_ORACLE)
def flagship_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-filtered change log -> pass-list filter -> newest row per
    key -> export projection. One keyed shuffle; all filters pushed to scan."""
    ev = load_table(spark, sf_dir, "events")
    compact = cdc.cdc_compact(
        ev,
        key_cols="user_id",
        ts_col="ts",
        since=None,  # cold start (H4)
        change_type_col="event_type",
        pass_types=("purchase", "signup"),
        tiebreak_cols=["event_id"],
    )
    return compact.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "event_type",
        P.modify_reward(F.col("value")).alias("value_paise"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


_SQL_CTE_TEXT = """
WITH latest_updates_time AS (
    SELECT user_id, ts FROM (
        SELECT user_id, ts,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC
               ) AS rank
        FROM changes
        WHERE event_type IN ('purchase', 'signup')
    ) ranked
    WHERE rank = 1
)
SELECT c.user_id, c.event_id, c.event_type
FROM changes c
JOIN latest_updates_time lut
  ON c.user_id = lut.user_id AND c.ts = lut.ts
WHERE c.event_type IN ('purchase', 'signup')
"""


@q(
    "sql_cte_dedup",
    _SQL_CTE_TEXT.replace("changes", "events"),
)
def sql_cte_dedup(spark, sf_dir):
    """The reference's dedup as a literal SQL string over a temp view —
    the ``createOrReplaceTempView`` + ``spark.sql`` surface (reference:
    martech_pipelines/tasks/user_profile/clevertap.py:29-53, CTE + rank +
    join-back verbatim shape). Catalyst plans it identically to the
    DataFrame form; the oracle runs the same text against DuckDB."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("changes")
    return spark.sql(_SQL_CTE_TEXT)


# =============================================================================
# A. Sources
# =============================================================================


@q("a1_scan_project", "SELECT r_regionkey, r_name FROM region")
def a1_scan_project(spark, sf_dir):
    """A1+C1: full scan of a small dim with explicit projection."""
    return load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@q("a6_range", "SELECT range AS id FROM range(0, 1000)")
def a6_range(spark, sf_dir):
    """A6: synthetic integer range (reference: martech_pipelines/tasks/sample/entrypoint.py:14)."""
    return spark.range(0, 1000).select(F.col("id"))


# =============================================================================
# C. Projection / filter / predicates
# =============================================================================


@q(
    "c2_filter_eq",
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def c2_filter_eq(spark, sf_dir):
    """C2: string-equality predicate, pushed to the parquet scan."""
    return (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@q(
    "c4_in_list",
    """
    SELECT event_id, user_id, event_type FROM events
    WHERE event_type IN ('purchase', 'signup')
    """,
)
def c4_in_list(spark, sf_dir):
    """C4: IN-list predicate (the reference's change-type pass-list)."""
    return (
        cdc.filter_change_types(
            load_table(spark, sf_dir, "events"), "event_type", ("purchase", "signup")
        )
        .select("event_id", "user_id", "event_type")
    )


@q(
    "c3_dynamic_flag_filter",
    """
    SELECT property_name FROM (
        SELECT p_name AS property_name,
               p_size % 2 = 0 AS clevertap,
               p_size % 3 = 0 AS netcore
        FROM part
    ) WHERE clevertap = TRUE
    """,
)
def c3_dynamic_flag_filter(spark, sf_dir):
    """C3: filter on a boolean column whose NAME comes from config — the
    reference's per-platform attribute routing (reference:
    martech_pipelines/tasks/user_profile/clevertap.py:57,
    ``.where(f"{platform} = True")``). The mapping table is synthesized
    from `part` so the oracle sees identical data."""
    platform = "clevertap"  # conf["platform"] in the reference
    mapping = load_table(spark, sf_dir, "part").select(
        F.col("p_name").alias("property_name"),
        (F.col("p_size") % 2 == 0).alias("clevertap"),
        (F.col("p_size") % 3 == 0).alias("netcore"),
    )
    return mapping.where(F.col(platform) == True).select("property_name")  # noqa: E712


@q(
    "c6_c7_project_rename",
    """
    SELECT c_custkey AS identity, c_name AS customer_name,
           round(c_acctbal, 2) AS balance
    FROM customer
    """,
)
def c6_c7_project_rename(spark, sf_dir):
    """C6+C7: attribute-subset projection (missing attrs silently dropped —
    reference: martech_pipelines/utils/data_sanity_helpers.py:31-39) + rename map
    (:42-53). ``no_such_col`` in the attr list is dropped, not an error."""
    df = load_table(spark, sf_dir, "customer")
    attrs = ["c_custkey", "c_name", "c_acctbal", "no_such_col"]
    present = [c for c in attrs if c in df.columns]
    renames = {"c_custkey": "identity", "c_name": "customer_name"}
    out = df.select(*present)
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.withColumn("balance", F.round("c_acctbal", 2)).drop("c_acctbal")


@q(
    "c8_null_rejection",
    """
    SELECT count(*) AS valid_cnt,
           (SELECT count(*) FROM events WHERE user_id IS NULL) AS invalid_cnt
    FROM events WHERE user_id IS NOT NULL
    """,
)
def c8_null_rejection(spark, sf_dir):
    """C8+E4: identity-null rejection with an invalid-record metric
    (reference: martech_pipelines/operators/clevertap_user_profile.py:93-98)."""
    ev = load_table(spark, sf_dir, "events")
    valid = ev.where(F.col("user_id").isNotNull()).count()
    invalid = ev.where(F.col("user_id").isNull()).count()
    return spark.createDataFrame(
        [(valid, invalid)], "valid_cnt long, invalid_cnt long"
    )


# =============================================================================
# D. Joins
# =============================================================================


@q(
    "d1_join_back_dedup",
    """
    WITH filtered AS (
        SELECT * FROM events WHERE event_type IN ('purchase', 'signup')
    ), ranked AS (
        SELECT user_id, ts,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC
               ) AS rnk
        FROM filtered
    ), latest AS (
        SELECT user_id, ts FROM ranked WHERE rnk = 1
    )
    SELECT e.user_id, e.event_id, e.event_type
    FROM filtered e
    JOIN latest l ON e.user_id = l.user_id AND e.ts = l.ts
    """,
)
def d1_join_back_dedup(spark, sf_dir):
    """D1: the reference's literal dedup shape — rank CTE + composite-key
    join-back on (key, ts) (reference: martech_pipelines/tasks/user_profile/clevertap.py:44-50).
    Kept alongside the idiomatic single-pass form to pin that both agree
    when timestamps are unique; the join side demonstrates composite-key
    equi-join (AQE turns it into a broadcast join at this scale)."""
    ev = cdc.filter_change_types(
        load_table(spark, sf_dir, "events"), "event_type", ("purchase", "signup")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"))
    latest = (
        ev.select("user_id", "ts")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .drop("rnk")
    )
    return ev.join(latest, ["user_id", "ts"], "inner").select(
        "user_id", "event_id", "event_type"
    )


@q(
    "d2_semi_join_dim",
    """
    SELECT c_custkey, c_nationkey FROM customer
    WHERE c_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_regionkey = 1
    )
    """,
)
def d2_semi_join_dim(spark, sf_dir):
    """D2: small-dim-driven row selection — the relational form of the
    reference's collect-the-mapping-table pattern (reference:
    martech_pipelines/tasks/user_profile/clevertap.py:56-58). Broadcast
    left-semi join; the dim never shuffles the fact side."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").where(F.col("n_regionkey") == 1)
    return cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "left_semi"
    ).select("c_custkey", "c_nationkey")


# =============================================================================
# E. Aggregation / windows / dedup
# =============================================================================


@q(
    "e1_rank_window",
    """
    SELECT user_id, event_id, rnk FROM (
        SELECT user_id, event_id,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rnk
        FROM events
    ) WHERE rnk <= 3
    """,
)
def e1_rank_window(spark, sf_dir):
    """E1: ranking window + rank predicate (C5) — top-3 newest per user."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.select("user_id", "event_id", F.row_number().over(w).cast("long").alias("rnk"))
        .where(F.col("rnk") <= 3)
    )


@q(
    "e2_latest_per_key_agg",
    """
    SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
    FROM (
        SELECT user_id, event_id, ts,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rnk
        FROM events
    ) WHERE rnk = 1
    """,
)
def e2_latest_per_key_agg(spark, sf_dir):
    """E2 over the whole change log (no change-type filter): the newest
    row per user through ``cdc.latest_per_key``. The name stays because
    benchmark workloads and tools refer to the query by it."""
    ev = load_table(spark, sf_dir, "events")
    out = cdc.latest_per_key(ev, "user_id", "ts", tiebreak_cols=["event_id"])
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


@q("e3_count", "SELECT count(*) AS n FROM lineitem")
def e3_count(spark, sf_dir):
    """E3: count aggregate (parquet row-group metadata makes this a
    metadata-only scan with aggregate pushdown)."""
    n = load_table(spark, sf_dir, "lineitem").count()
    return spark.createDataFrame([(n,)], "n long")


@q(
    "e5_identity_coalesce",
    """
    SELECT c_custkey,
           CASE
               WHEN cand1 IS NOT NULL AND cand1 <> 0 THEN CAST(cand1 AS VARCHAR)
               WHEN cand2 IS NOT NULL AND cand2 <> '' THEN cand2
           END AS identity
    FROM (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 0 THEN 0 ELSE c_custkey END AS cand1,
               CASE WHEN c_custkey % 20 = 0 THEN '' ELSE c_name END AS cand2
        FROM customer
    )
    """,
)
def e5_identity_coalesce(spark, sf_dir):
    """E5/F1: first-truthy identity coalesce — numeric 0 and empty string
    count as missing (reference: martech_pipelines/utils/data_sanity_helpers.py:10-28)."""
    df = (
        load_table(spark, sf_dir, "customer")
        .withColumn(
            "cand1",
            F.when(F.col("c_custkey") % 10 == 0, F.lit(0).cast("long")).otherwise(
                F.col("c_custkey")
            ),
        )
        .withColumn(
            "cand2",
            F.when(F.col("c_custkey") % 20 == 0, F.lit("")).otherwise(F.col("c_name")),
        )
    )
    return df.select(
        "c_custkey", P.identity_coalesce(df, ["cand1", "cand2"]).alias("identity")
    )


# =============================================================================
# F. Scalar function library
# =============================================================================


@q(
    "f5_mobile_sanity",
    """
    SELECT c_custkey,
           CASE WHEN length(m_full) = 10 THEN m_full END AS mobile_ok,
           CASE WHEN length(m_short) = 10 THEN m_short END AS mobile_short,
           CAST(NULL AS VARCHAR) AS mobile_bad
    FROM (
        SELECT c_custkey,
               right(CAST(9000000000 + c_custkey AS VARCHAR), 10) AS m_full,
               right(CAST(c_custkey AS VARCHAR), 10) AS m_short
        FROM customer
    )
    """,
)
def f5_mobile_sanity(spark, sf_dir):
    """F5: last-10-digit mobile normalization; <10 digits or non-numeric ->
    null (reference: martech_pipelines/utils/data_sanity_helpers.py:96-110)."""
    df = load_table(spark, sf_dir, "customer")
    full = (F.lit(9000000000) + F.col("c_custkey")).cast("string")
    short = F.col("c_custkey").cast("string")
    return df.select(
        "c_custkey",
        P.mobile_sanity(full).alias("mobile_ok"),
        P.mobile_sanity(short).alias("mobile_short"),
        P.mobile_sanity(F.lit("not-a-number")).alias("mobile_bad"),
    )


@q(
    "f6_modify_reward",
    """
    SELECT o_orderkey, CAST(trunc(o_totalprice * 100) AS BIGINT) AS paise
    FROM orders
    """,
)
def f6_modify_reward(spark, sf_dir):
    """F6: rupees->paise with int() truncation-toward-zero semantics."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", P.modify_reward(F.col("o_totalprice")).alias("paise")
    )


_DOB_SYNTH_DUCK = """
    SELECT o_orderkey,
           CASE o_orderkey % 7
               WHEN 0 THEN '1899-05-02'
               WHEN 1 THEN '0044-01-01 BC'
               WHEN 2 THEN 'garbage'
               WHEN 3 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
               WHEN 4 THEN NULL
               WHEN 5 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '.789'
               ELSE strftime(o_orderdate, '%Y-%m-%d')
           END AS dob_raw
    FROM orders
"""


def _dob_synth_spark(spark, sf_dir):
    od = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 7
    dob_raw = (
        F.when(k == 0, F.lit("1899-05-02"))
        .when(k == 1, F.lit("0044-01-01 BC"))
        .when(k == 2, F.lit("garbage"))
        .when(k == 3, F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .when(k == 4, F.lit(None).cast("string"))
        .when(
            k == 5,
            F.concat(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"), F.lit(".789")),
        )
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    )
    return od.select("o_orderkey", dob_raw.alias("dob_raw"))


@q(
    "f7_f9_fix_dob",
    f"""
    WITH synth AS ({_DOB_SYNTH_DUCK}),
    parsed AS (
        SELECT o_orderkey, dob_raw,
               coalesce(
                   try_strptime(stripped, '%Y-%m-%d %H:%M:%S'),
                   try_strptime(stripped, '%Y-%m-%d'),
                   try_strptime(stripped, '%Y-%m-%d %H:%M:%S.%f')
               ) AS ts
        FROM (
            SELECT *,
                   CASE WHEN dob_raw LIKE '%BC'
                        THEN dob_raw[1:length(dob_raw) - 3]
                        ELSE dob_raw END AS stripped
            FROM synth
        )
    )
    SELECT o_orderkey, dob_raw,
           strftime(fixed, '%Y-%m-%d') AS dob_fixed,
           strftime(fixed, '%b-%d') AS birth_date
    FROM (
        SELECT *,
               CASE WHEN year(ts) < 1900
                    THEN make_date(1952, month(ts), day(ts))
                    ELSE CAST(ts AS DATE) END AS fixed
        FROM parsed
    )
    """,
)
def f7_f9_fix_dob(spark, sf_dir):
    """F7+F9: dob sanitation — " BC" strip, 3-format trial parse, the
    year<1900 -> 1952 quirk, MMM-dd birth_date rendering."""
    df = _dob_synth_spark(spark, sf_dir)
    return df.select(
        "o_orderkey",
        "dob_raw",
        P.fix_dob(F.col("dob_raw")).alias("dob_fixed"),
        P.get_birth_date(F.col("dob_raw")).alias("birth_date"),
    )


@q(
    "f8_unix_epoch",
    """
    SELECT o_orderkey,
           '$D_' || CAST(
               CAST(epoch(CAST(strftime(o_orderdate, '%Y-%m-%d') AS TIMESTAMP)) AS BIGINT)
               - 19800 AS VARCHAR
           ) AS ct_epoch
    FROM orders
    """,
)
def f8_unix_epoch(spark, sf_dir):
    """F8: CleverTap ``$D_<sec>`` epoch-date encoding, pinned to IST
    midnight (epoch_utc(date) - 19800) regardless of session timezone."""
    od = load_table(spark, sf_dir, "orders")
    dob_str = F.date_format("o_orderdate", "yyyy-MM-dd")
    return od.select("o_orderkey", P.unix_epoch(dob_str).alias("ct_epoch"))


@q(
    "f10_gender_implicit",
    """
    SELECT event_id,
           CAST(coalesce(json_extract(j, '$.last7days.men'), '0') AS INTEGER) AS gender_men_dp,
           CAST(coalesce(json_extract(j, '$.last7days.women'), '0') AS INTEGER) AS gender_women_dp,
           CAST(coalesce(json_extract(j, '$.last7days.kids'), '0') AS INTEGER) AS gender_kids_dp,
           CAST(coalesce(json_extract(j, '$.last7days.home'), '0') AS INTEGER) AS gender_home_dp
    FROM (
        SELECT event_id,
               CASE WHEN user_id % 4 = 3 THEN NULL
                    WHEN user_id % 4 = 2 THEN '{"other": 1}'
                    ELSE '{"last7days": {"men": ' || CAST(user_id % 5 AS VARCHAR)
                         || ', "women": ' || CAST(event_id % 3 AS VARCHAR) || '}}'
               END AS j
        FROM events
    )
    """,
)
def f10_gender_implicit(spark, sf_dir):
    """F10: JSON signal blob -> four int columns with 0 defaults; null and
    signal-less JSON both collapse to all-zero (reference:
    martech_pipelines/utils/data_sanity_helpers.py:165-177)."""
    ev = load_table(spark, sf_dir, "events")
    m = F.col("user_id") % 4
    j = (
        F.when(m == 3, F.lit(None).cast("string"))
        .when(m == 2, F.lit('{"other": 1}'))
        .otherwise(
            F.concat(
                F.lit('{"last7days": {"men": '),
                (F.col("user_id") % 5).cast("string"),
                F.lit(', "women": '),
                (F.col("event_id") % 3).cast("string"),
                F.lit("}}"),
            )
        )
    )
    df = ev.select("event_id", j.alias("j"))
    cols = P.gender_implicit_columns(F.col("j"))
    return df.select("event_id", *[c.alias(n) for n, c in cols.items()])


@q(
    "f4_lenient_cast",
    """
    SELECT c_custkey,
           CASE WHEN raw IS NULL THEN NULL
                ELSE coalesce(CAST(TRY_CAST(raw AS BIGINT) AS VARCHAR), raw)
           END AS as_int_lenient,
           TRY_CAST(raw AS BIGINT) AS as_int_strict
    FROM (
        SELECT c_custkey,
               CASE c_custkey % 3
                   WHEN 0 THEN CAST(c_custkey AS VARCHAR)
                   WHEN 1 THEN 'not-a-number'
                   ELSE NULL
               END AS raw
        FROM customer
    )
    """,
)
def f4_lenient_cast(spark, sf_dir):
    """F4: the lenient-cast dispatcher's two pinned resolutions — keep-
    original-as-string (faithful) and strict-null typed (SURVEY.md §7.4.3)."""
    df = load_table(spark, sf_dir, "customer")
    m = F.col("c_custkey") % 3
    raw = (
        F.when(m == 0, F.col("c_custkey").cast("string"))
        .when(m == 1, F.lit("not-a-number"))
        .otherwise(F.lit(None).cast("string"))
    )
    df = df.select("c_custkey", raw.alias("raw"))
    return df.select(
        "c_custkey",
        P.lenient_cast(F.col("raw"), "long").alias("as_int_lenient"),
        P.try_cast_col(F.col("raw"), "long").alias("as_int_strict"),
    )


# =============================================================================
# Export pipeline (C6+C7+C8+E5+F4+F5+F7+F10 composed — the reference's
# operator layer end-to-end, reference:
# martech_pipelines/operators/clevertap_user_profile.py:93-111)
# =============================================================================


@q(
    "export_profile_pipeline",
    """
    WITH synth AS (
        SELECT c_custkey,
               CAST(9000000000 + c_custkey AS VARCHAR) AS mobile,
               CASE c_custkey % 3
                   WHEN 0 THEN '1988-07-01'
                   WHEN 1 THEN '1899-05-02'
                   ELSE 'garbage'
               END AS dob,
               c_acctbal,
               CASE WHEN c_custkey % 2 = 0
                    THEN '{"last7days": {"men": ' || CAST(c_custkey % 5 AS VARCHAR) || '}}'
               END AS v1__json
        FROM customer
    )
    SELECT CAST(c_custkey AS VARCHAR) AS identity,
           CASE WHEN length(right(CAST(9000000000 + c_custkey AS BIGINT)::VARCHAR, 10)) = 10
                THEN right(CAST(9000000000 + c_custkey AS BIGINT)::VARCHAR, 10)
           END AS phone,
           CASE c_custkey % 3
               WHEN 0 THEN '1988-07-01'
               WHEN 1 THEN '1952-05-02'
               ELSE NULL
           END AS dob,
           CAST(trunc(c_acctbal * 100) AS BIGINT) AS c_acctbal,
           CAST(coalesce(json_extract(v1__json, '$.last7days.men'), '0') AS INTEGER)
               AS gender_men_dp
    FROM synth
    WHERE c_custkey IS NOT NULL AND c_custkey <> 0
    """,
)
def export_profile_pipeline(spark, sf_dir):
    """The reference operator's full transform as one narrow codegen stage:
    identity coalesce + falsy rejection -> named transformation -> type map
    (mobile_sanity / fix_dob / modify_reward) -> attribute subset -> rename."""
    from martech_pipelines_spark.operators.transforms import (
        ProfileExportConfig,
        profile_export_pipeline,
    )

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    df = (
        cust.withColumn("mobile", (F.lit(9000000000) + k).cast("string"))
        .withColumn(
            "dob",
            F.when(k % 3 == 0, F.lit("1988-07-01"))
            .when(k % 3 == 1, F.lit("1899-05-02"))
            .otherwise(F.lit("garbage")),
        )
        .withColumn(
            "v1__json",
            F.when(
                k % 2 == 0,
                F.concat(
                    F.lit('{"last7days": {"men": '),
                    (k % 5).cast("string"),
                    F.lit("}}"),
                ),
            ),
        )
    )
    cfg = ProfileExportConfig(
        identity_fields=["c_custkey"],
        transformation_fn="get_gender_implicit_data",
        transformation_params={"data_col": "v1__json"},
        data_type_map={
            "mobile": "mobile_sanity",
            "dob": "date",
            "c_acctbal": "modify_reward",
        },
        attributes=["mobile", "dob", "c_acctbal", "gender_men_dp"],
        swap_key_map={"mobile": "phone"},
    )
    return profile_export_pipeline(df, cfg)


# =============================================================================
# G. IST date functions (fixed anchor => deterministic oracle)
# =============================================================================


@q(
    "g1_g2_ist_dates",
    """
    SELECT strftime(ist, '%Y-%m-%d') AS today_ist,
           strftime(CAST(ist AS DATE) - 1, '%Y-%m-%d') AS yesterday_ist,
           strftime(ist, '%H') AS hour_ist,
           strftime(ist, '%M') AS min_ist
    FROM (
        SELECT TIMESTAMP '2024-06-01 22:00:00' + INTERVAL '330 minutes' AS ist
    )
    """,
)
def g1_g2_ist_dates(spark, sf_dir):
    """G1+G2: IST-anchored date parts, exercised on a fixed UTC anchor
    (2024-06-01 22:00 UTC = 2024-06-02 03:30 IST) so the oracle is
    deterministic; production uses current_timestamp via functions.datetime_fns."""
    anchor = F.to_timestamp(F.lit("2024-06-01 22:00:00"))
    ist = F.from_utc_timestamp(anchor, "Asia/Kolkata")
    return spark.range(1).select(
        F.date_format(ist, "yyyy-MM-dd").alias("today_ist"),
        F.date_format(F.date_sub(F.to_date(ist), 1), "yyyy-MM-dd").alias(
            "yesterday_ist"
        ),
        F.date_format(ist, "HH").alias("hour_ist"),
        F.date_format(ist, "mm").alias("min_ist"),
    )


# =============================================================================
# H. Incremental semantics (batch-expressible)
# =============================================================================


@q(
    "h3_incremental_scan",
    """
    SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
    FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def h3_incremental_scan(spark, sf_dir):
    """A2/H1: watermark-bounded incremental scan — the predicate reaches
    the parquet scan (PushedFilters) and prunes row groups by min/max."""
    ev = load_table(spark, sf_dir, "events")
    inc = cdc.incremental_scan(ev, "ts", "2024-01-15 00:00:00")
    return inc.select(
        "event_id", "user_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str")
    )


@q(
    "h5_change_feed_window",
    """
    SELECT event_type, count(*) AS n,
           min(event_id) AS min_id, max(event_id) AS max_id
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY event_type
    """,
)
def h5_change_feed_window(spark, sf_dir):
    """A2 (Delta-CDF-option-compatible form): the read_change_feed adapter
    with startingTimestamp/endingTimestamp — INCLUSIVE bounds per Delta
    semantics — lowered onto pushed scan filters, then a summary agg."""
    ev = load_table(spark, sf_dir, "events")
    window = cdc.read_change_feed(
        ev,
        ts_col="ts",
        startingTimestamp="2024-01-10 00:00:00",
        endingTimestamp="2024-01-20 00:00:00",
    )
    return window.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@q(
    "h4_cold_start_stats",
    """
    SELECT count(*) AS n,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM events
    """,
)
def h4_cold_start_stats(spark, sf_dir):
    """A3/H4: cold-start full-history scan with bounds — what the engine
    logs before compaction on a first run."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("n"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    )
