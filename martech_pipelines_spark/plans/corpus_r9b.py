"""Round-9 wave-2 corpus additions — new analysis families.

``mart23_ab_lift``    — A/B experiment readout (assignment, conversion
                        rates, lift, chi-square) with integer-exact
                        arithmetic: the experimentation surface every
                        martech stack runs next to RFM/attribution.
``h26_incremental_ab`` — the experiment readout maintained from
                        mergeable per-user state (IVM proof: two event
                        batches fold to the full-recompute answer).
``dq14_join_key_skew`` — per-key skew diagnostic on a join/shuffle key:
                        the measurement that DECIDES salting/AQE-skew
                        handling instead of guessing.

Reference parity: the reference repo (gauravkumar-ny/martech-pipelines)
computes none of these; they extend the martech-analytics and DQ
families per SURVEY.md's "beyond the reference" mandate, on the
driver-generated ``events`` table.

Determinism contract (memory: round-workflow #6/#8): half-up integer
ratios via ``div`` on both engines, DECIMAL(38,0)/HUGEINT intermediates
where a product can exceed int64, final columns CAST to BIGINT on the
oracle side (DuckDB ``//`` on HUGEINT stays HUGEINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from martech_pipelines_spark.operators.text import md5_bucket32
from martech_pipelines_spark.operators.windows import (
    _MART24_PATTERN,
    journey_readout,
    journey_state,
)
from martech_pipelines_spark.plans.corpus import ORACLE, QUERIES, q  # noqa: F401
from martech_pipelines_spark.sources import load_table

# ---------------------------------------------------------------------------
# mart23: A/B experiment readout — rates, lift, chi-square (integer-exact)
# ---------------------------------------------------------------------------

# Deterministic variant assignment: the engine's one portable hash
# primitive (md5_bucket32) over user_id, salt 'exp1' — reproducible
# across runs, engines, partitionings (the t12 split discipline applied
# to experiment bucketing, which is exactly how production assignment
# services work: hash(user, experiment) % arms).
_AB_SALT = "exp1"

_AB_ASSIGN_SQL = (
    "('0x' || substr(md5('" + _AB_SALT + ":' || CAST(user_id AS VARCHAR)), 1, 8))"
    "::BIGINT % 2"
)

# Shared oracle tail: from a per-user (variant, converted) table compute
# the 2x2 readout.  chi2_e6 = 1e6 * N*(ad-bc)^2 / (row and column margin
# product), half-up, in HUGEINT (DuckDB) / DECIMAL(38,0) (Spark) because
# (ad-bc)^2 * N * 2e6 exceeds int64 beyond toy populations.
_AB_TAIL_SQL = """
    agg AS (
        SELECT
            CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
            CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
            CAST(sum(CASE WHEN variant = 0 AND converted THEN 1 ELSE 0 END)
                 AS BIGINT) AS conv_c,
            CAST(sum(CASE WHEN variant = 1 AND converted THEN 1 ELSE 0 END)
                 AS BIGINT) AS conv_t
        FROM state
    )
    SELECT n_c, n_t, conv_c, conv_t,
           CAST((conv_c * 2000000 + n_c) // (2 * n_c) AS BIGINT) AS rate_c_e6,
           CAST((conv_t * 2000000 + n_t) // (2 * n_t) AS BIGINT) AS rate_t_e6,
           CAST((conv_t * 2000000 + n_t) // (2 * n_t)
                - (conv_c * 2000000 + n_c) // (2 * n_c) AS BIGINT) AS lift_e6,
           CAST(CASE WHEN n_c > 0 AND n_t > 0
                      AND (conv_c + conv_t) > 0
                      AND (n_c + n_t - conv_c - conv_t) > 0 THEN
               (2000000 * CAST(n_c + n_t AS HUGEINT)
                * CAST(conv_t * (n_c - conv_c)
                       - conv_c * (n_t - conv_t) AS HUGEINT)
                * CAST(conv_t * (n_c - conv_c)
                       - conv_c * (n_t - conv_t) AS HUGEINT)
                + CAST(n_t AS HUGEINT) * CAST(n_c AS HUGEINT)
                  * CAST(conv_c + conv_t AS HUGEINT)
                  * CAST(n_c + n_t - conv_c - conv_t AS HUGEINT))
               // (2 * CAST(n_t AS HUGEINT) * CAST(n_c AS HUGEINT)
                   * CAST(conv_c + conv_t AS HUGEINT)
                   * CAST(n_c + n_t - conv_c - conv_t AS HUGEINT))
           END AS BIGINT) AS chi2_e6
    FROM agg
"""

_MART23_ORACLE = f"""
    WITH state AS (
        SELECT user_id,
               {_AB_ASSIGN_SQL} AS variant,
               bool_or(event_type = 'purchase') AS converted
        FROM events GROUP BY 1, 2
    ),
    {_AB_TAIL_SQL}
"""


def _ab_user_state(events: DataFrame) -> DataFrame:
    """Mergeable per-user experiment state from an event batch: just the
    OR-mergeable converted flag — the variant is a pure function of the
    key and is re-derived at read, so it can never drift between
    batches."""
    return events.groupBy("user_id").agg(
        F.max(F.col("event_type") == "purchase").alias("converted"),
    )


def _ab_merge_state(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two per-user state tables: converted ORs."""
    return (
        a.unionByName(b)
        .groupBy("user_id")
        .agg(F.max("converted").alias("converted"))
    )


def _ab_readout(state: DataFrame) -> DataFrame:
    """The 2x2 experiment readout from per-user (variant, converted)
    state: arm sizes, conversions, half-up e6 rates, lift, and the
    chi-square statistic scaled e6.

    chi2 = N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) is exact integer
    arithmetic; the numerator reaches ~1e22 at sf0.1 so both engines
    compute it in wide integers (DECIMAL(38,0) here, HUGEINT in the
    oracle — the h23/mart21 recipe) and `div` (floor on non-negatives;
    the +den makes it half-up) keeps rounding identical.  At extreme
    populations (margins beyond ~1e6 users) DECIMAL(38,0) would
    overflow — there the statistic itself belongs in doubles computed
    FROM these exact counts; the counts/rates path is int64-safe to
    9e18 events either way."""
    variant = (md5_bucket32(F.col("user_id").cast("string"), _AB_SALT) % 2).cast(
        "long"
    )
    state = state.withColumn("variant", variant)
    agg = state.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_t"),
        F.sum(F.when((F.col("variant") == 0) & F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("conv_c"),
        F.sum(F.when((F.col("variant") == 1) & F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("conv_t"),
    )
    rate_c = F.expr("(conv_c * CAST(2000000 AS BIGINT) + n_c) div (2 * n_c)")
    rate_t = F.expr("(conv_t * CAST(2000000 AS BIGINT) + n_t) div (2 * n_t)")
    d38 = "decimal(38,0)"
    chi2 = F.expr(
        f"""
        CASE WHEN n_c > 0 AND n_t > 0 AND (conv_c + conv_t) > 0
                  AND (n_c + n_t - conv_c - conv_t) > 0 THEN
            (CAST(2000000 AS {d38}) * CAST(n_c + n_t AS {d38})
             * CAST(conv_t * (n_c - conv_c) - conv_c * (n_t - conv_t) AS {d38})
             * CAST(conv_t * (n_c - conv_c) - conv_c * (n_t - conv_t) AS {d38})
             + CAST(n_t AS {d38}) * CAST(n_c AS {d38})
               * CAST(conv_c + conv_t AS {d38})
               * CAST(n_c + n_t - conv_c - conv_t AS {d38}))
            div (2 * CAST(n_t AS {d38}) * CAST(n_c AS {d38})
                 * CAST(conv_c + conv_t AS {d38})
                 * CAST(n_c + n_t - conv_c - conv_t AS {d38}))
        END
        """
    )
    return agg.select(
        "n_c",
        "n_t",
        "conv_c",
        "conv_t",
        rate_c.cast("long").alias("rate_c_e6"),
        rate_t.cast("long").alias("rate_t_e6"),
        (rate_t - rate_c).cast("long").alias("lift_e6"),
        chi2.cast("long").alias("chi2_e6"),
    )


@q("mart23_ab_lift", _MART23_ORACLE)
def mart23_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — the experimentation analysis every
    martech stack runs beside RFM (mart22) and attribution (mart5/8):
    users assigned to arms by the portable md5 primitive (exactly how
    production assignment services bucket: hash(user, experiment) %
    arms — reproducible across engines and partitionings), conversion
    = any purchase event, and the 2x2 readout with half-up e6 rates,
    lift, and the chi-square independence statistic — the entire
    statistic exact-integer (DECIMAL(38,0)/HUGEINT) so both engines
    agree bit-for-bit, no float variance anywhere.  Scale shape: one
    map-side-combined per-user agg (the only shuffle is by user_id),
    then a single 1-row global fold — the same cost as a count(*)."""
    ev = load_table(spark, sf_dir, "events")
    return _ab_readout(_ab_user_state(ev))


# Split point for the IVM twin (an integer-micros constant, never a
# timestamp literal parsed through a session timezone — memory hinge b).
_H26_CUT_US = 1705276800000000  # 2024-01-15T00:00:00Z


@q("h26_incremental_ab", _MART23_ORACLE)
def h26_incremental_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mart23's IVM proof: the experiment readout maintained from
    MERGEABLE per-user state.  The event log is split at an integer-
    micros cut into two batches (the nightly-delta shape); each batch
    reduces to per-user (variant, converted) state — variant a pure
    function of the key, converted OR-mergeable — and the fold of the
    two states must reproduce the full-recompute readout bit-for-bit
    (SHARES mart23's oracle).  This is how a live experiment dashboard
    stays current: each delta batch shuffles only its own users' rows,
    history is never re-scanned."""
    ev = load_table(spark, sf_dir, "events")
    early = ev.where(F.unix_micros("ts") < F.lit(_H26_CUT_US))
    late = ev.where(F.unix_micros("ts") >= F.lit(_H26_CUT_US))
    state = _ab_merge_state(_ab_user_state(late), _ab_user_state(early))
    return _ab_readout(state)


# ---------------------------------------------------------------------------
# dq14: join/shuffle-key skew diagnostic — the salting-decision report
# ---------------------------------------------------------------------------

_DQ14_TOP = 5

_DQ14_ORACLE = f"""
    WITH per_key AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys
        FROM per_key
    ), ranked AS (
        SELECT user_id, cnt,
               row_number() OVER (ORDER BY cnt DESC, user_id ASC) AS rnk
        FROM per_key
    )
    SELECT rnk, user_id, cnt, n_rows, n_keys,
           CAST((cnt * 2000000 + n_rows) // (2 * n_rows) AS BIGINT) AS share_e6,
           CAST((CAST(cnt AS HUGEINT) * CAST(n_keys AS HUGEINT) * 20000
                 + CAST(n_rows AS HUGEINT))
                // (2 * CAST(n_rows AS HUGEINT)) AS BIGINT) AS over_mean_e4
    FROM ranked, tot
    WHERE rnk <= {_DQ14_TOP}
"""


@q("dq14_join_key_skew", _DQ14_ORACLE)
def dq14_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostic on the event stream's join key
    (user_id): the top-{_DQ14_TOP} heaviest keys with their half-up e6
    row share and their multiple of the mean per-key load (half-up e4)
    — the report that DECIDES whether a key needs salting
    (flagship_cdc_dedup_skew), AQE skew-join (dd8b), or nothing, and
    that monitors whether one whale user is about to make every
    downstream groupBy lopsided.  Scale shape: one map-side-combined
    per-key count, a 1-row totals broadcast, and a TakeOrdered top-k
    (sort+limit fuses to TakeOrderedAndProject: per-partition heaps,
    no global sort shuffle); the unique key makes the cutoff tie-free.
    The over-mean product routes through DECIMAL(38,0)/HUGEINT —
    rows x keys exceeds int64 exactly on the clusters that need this
    report most."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("cnt"))
    tot = per_key.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
    )
    top = per_key.orderBy(F.desc("cnt"), F.asc("user_id")).limit(_DQ14_TOP)
    ranked = top.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("user_id"))),
    )
    d38 = "decimal(38,0)"
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rnk",
            "user_id",
            "cnt",
            "n_rows",
            "n_keys",
            F.expr("(cnt * CAST(2000000 AS BIGINT) + n_rows) div (2 * n_rows)")
            .cast("long")
            .alias("share_e6"),
            F.expr(
                f"(CAST(cnt AS {d38}) * CAST(n_keys AS {d38}) * 20000"
                f" + CAST(n_rows AS {d38})) div (2 * CAST(n_rows AS {d38}))"
            )
            .cast("long")
            .alias("over_mean_e4"),
        )
    )


# ---------------------------------------------------------------------------
# mart24: journey pattern matching (MATCH_RECOGNIZE-lite over event strings)
# ---------------------------------------------------------------------------

# Journey state/readout and the funnel pattern: operators/windows.py.

_MART24_ORACLE = f"""
    WITH j AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               string_agg(CASE event_type
                              WHEN 'view' THEN 'v'
                              WHEN 'click' THEN 'c'
                              WHEN 'purchase' THEN 'p'
                              WHEN 'signup' THEN 's'
                              ELSE 'e' END,
                          '' ORDER BY ts, event_id) AS journey
        FROM events GROUP BY 1
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(journey, '{_MART24_PATTERN}'))
                AS BIGINT) AS n_funnels,
           CAST(contains(journey, 'p') AS BIGINT) AS did_convert
    FROM j
"""


@q("mart24_journey_regex", _MART24_ORACLE)
def mart24_journey_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential PATTERN matching over per-user journeys — the
    MATCH_RECOGNIZE workload (how many times did this user travel
    view -> ... -> click -> ... -> purchase with no purchase in
    between?) that funnel counts (mart1/mart14, one conversion per
    user) and path histograms (mart12, whole-string equality) cannot
    express.  Each user's history compresses to a 1-byte-per-event
    code string in total (ts, event_id) order and one regexp_count per
    user does the matching; the [^p]* gaps anchor every match at the
    first purchase, so the count is engine-exact (leftmost
    non-overlapping scanning is common to Java regex and RE2).  Scale
    shape: ONE user-keyed shuffle whose fan-in is the user's own event
    count, then pure codegen — no self-joins, no window cascades; the
    classic SQL alternative is a quadratic chain of EXISTS subqueries."""
    ev = load_table(spark, sf_dir, "events")
    return journey_readout(journey_state(ev))


# ---------------------------------------------------------------------------
# r39: exponentially-weighted moving average (integer halving weights)
# ---------------------------------------------------------------------------

_R39_DEPTH = 8  # EWMA window: current event + 7 lags, weights 2^7 .. 2^0


def _r39_oracle() -> str:
    lag_cols = ",\n               ".join(
        f"lag(cents, {j}) OVER w AS l{j}" for j in range(1, _R39_DEPTH)
    )
    num_terms = " + ".join(
        f"coalesce(l{j} * {1 << (_R39_DEPTH - 1 - j)}, 0)"
        for j in range(1, _R39_DEPTH)
    )
    den_terms = " + ".join(
        f"(CASE WHEN l{j} IS NOT NULL THEN {1 << (_R39_DEPTH - 1 - j)} ELSE 0 END)"
        for j in range(1, _R39_DEPTH)
    )
    top = 1 << (_R39_DEPTH - 1)
    return f"""
    WITH ev AS (
        SELECT event_id, user_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, ts
        FROM events
    ), lagged AS (
        SELECT event_id, user_id, cents,
               {lag_cols}
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, cents,
           CAST((2 * (cents * {top} + {num_terms})
                 + ({top} + {den_terms}))
                // (2 * ({top} + {den_terms})) AS BIGINT) AS ewma_cents
    FROM lagged
"""


@q("r39_ewma_last8", _r39_oracle())
def r39_ewma_last8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user — the classic
    monitoring smoother (alpha = 1/2) in an exact-integer form: the
    newest event weighs 2^7, each older one half that, truncated at
    {depth} events so every weight is an integer power of two and the
    whole statistic is one half-up integer ratio (partial histories
    renormalize over the weights actually present — no warm-up bias).
    The infinite-history EWMA is a per-row recursion no engine's
    window algebra expresses; the power-of-two truncation is the form
    that IS expressible — 7 lag() reads in ONE user-keyed window
    pass (a single exchange), identical on both engines, and the tail
    it drops is bounded by 2^-8 of the signal.  Complements dq2's
    rolling z-score (alarm) with the smoothed level the alarm compares
    against."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    df = ev.select("event_id", "user_id", cents.alias("cents"), "ts")
    for j in range(1, _R39_DEPTH):
        df = df.withColumn(f"l{j}", F.lag("cents", j).over(w))
    top = 1 << (_R39_DEPTH - 1)
    num = " + ".join(
        f"coalesce(l{j} * {1 << (_R39_DEPTH - 1 - j)}, 0)"
        for j in range(1, _R39_DEPTH)
    )
    den = " + ".join(
        f"(CASE WHEN l{j} IS NOT NULL THEN {1 << (_R39_DEPTH - 1 - j)} ELSE 0 END)"
        for j in range(1, _R39_DEPTH)
    )
    ewma = F.expr(
        f"(2 * (cents * {top} + {num}) + ({top} + {den}))"
        f" div (2 * ({top} + {den}))"
    )
    return df.select(
        "event_id", "user_id", "cents", ewma.cast("long").alias("ewma_cents")
    )


# ---------------------------------------------------------------------------
# t51: classifier calibration bins (reliability diagram for t29's scorer)
# ---------------------------------------------------------------------------

_T51_BINS = 10


def _t51_oracle() -> str:
    from martech_pipelines_spark.plans.corpus_extended import _DUCK_TOKENS
    from martech_pipelines_spark.plans.corpus_r5d import _T31_SCORE

    return f"""
    WITH toks AS (
        SELECT (lang = 'en') AS pos,
               {_DUCK_TOKENS.format(col='text')} AS tok
        FROM documents
    ), scored AS (
        SELECT pos, {_T31_SCORE} AS score FROM toks
    ), rng AS (
        SELECT min(score) AS mn, max(score) AS mx FROM scored
    ), binned AS (
        SELECT CAST((score - mn) * {_T51_BINS} // (mx - mn + 1) AS BIGINT) AS bin,
               pos, score
        FROM scored, rng
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
           CAST((count(*) FILTER (WHERE pos) * 2000000 + count(*))
                // (2 * count(*)) AS BIGINT) AS pos_rate_e6,
           CAST(CASE WHEN sum(score) >= 0
                THEN (2 * sum(score) + count(*)) // (2 * count(*))
                ELSE -((2 * (-CAST(sum(score) AS BIGINT)) + count(*))
                       // (2 * count(*)))
           END AS BIGINT) AS mean_score_milli
    FROM binned GROUP BY 1
"""


@q("t51_calibration_bins", _t51_oracle())
def t51_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability-diagram) bins for the t29 hashed linear
    scorer against the t31 ground truth — the model-eval step AFTER
    discrimination (t31's AUC): does a higher score bucket actually
    contain more positives?  Scores bin into 10 equal-width integer
    buckets between the data min/max (a 1-row broadcast; the +1 keeps
    the max in the top bin with pure floor division), and each bin
    reports its size, positive count, half-up e6 positive rate, and
    round-half-away-from-zero mean score (the h23 signed recipe —
    scores go negative).  Scale shape: one scan scores every doc in a
    codegen projection (zero Python), one map-side-combined agg per
    bin; the global min/max is a second tiny agg, not a sort."""
    from martech_pipelines_spark.operators import text as TX

    docs = load_table(spark, sf_dir, "documents")
    scored = TX.hashed_linear_score(docs, extra_cols=("lang",)).select(
        F.col("score_milli").alias("score"), (F.col("lang") == "en").alias("pos")
    )
    rng = scored.agg(F.min("score").alias("mn"), F.max("score").alias("mx"))
    binned = scored.crossJoin(F.broadcast(rng)).select(
        F.expr(f"(score - mn) * {_T51_BINS} div (mx - mn + 1)")
        .cast("long")
        .alias("bin"),
        "pos",
        "score",
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.count(F.when(F.col("pos"), 1)).cast("long").alias("n_pos"),
        F.expr(
            "(count(CASE WHEN pos THEN 1 END) * CAST(2000000 AS BIGINT)"
            " + count(*)) div (2 * count(*))"
        )
        .cast("long")
        .alias("pos_rate_e6"),
        F.expr(
            "CASE WHEN sum(score) >= 0"
            " THEN (2 * sum(score) + count(*)) div (2 * count(*))"
            " ELSE -((2 * (-sum(score)) + count(*)) div (2 * count(*))) END"
        )
        .cast("long")
        .alias("mean_score_milli"),
    )
