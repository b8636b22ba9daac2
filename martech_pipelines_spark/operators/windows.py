"""Event-time windowing on the events table (SURVEY.md §7.3).

The reference has no event-time windows (SURVEY.md §2.H) — these extend
the surface with the three standard shapes, batch-first so the DuckDB
oracle can check them; operators/../streaming/ reuses the same expressions
under ``readStream``.

All built-in: ``F.window`` (tumbling/sliding) and ``F.session_window``
compile to Catalyst's native window-bucketing expressions — a projection
plus ordinary aggregation, one shuffle on (key, window).

Incremental capabilities (one ``state`` / ``merge`` / ``readout`` each;
the section comment above each states its contract once): the batch
query is ``readout(state(all))``, and its ``h*`` twin and the streaming
fold in ``streaming/stream.py`` call the same functions.  Here: journey
strings, journey transitions, daily-count trend/outlier statistics and
the error-budget (SLO) counters."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from martech_pipelines_spark.operators.transforms import sum_merge


def tumbling_agg(
    events: DataFrame,
    window_size: str = "1 day",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling window per key: count + rounded sum per (key, window).

    Output window bounds as formatted strings (oracle-stable)."""
    w = F.window(F.col(ts_col), window_size)
    return (
        events.groupBy(F.col(key_col), w.alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            # Sum as DECIMAL so cross-engine double summation-order drift
            # can't flip a 2dp rounding boundary (corpus DECIMAL-for-money
            # rule; same form as r4_rollup / q1_pricing_summary).
            F.round(
                F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .select(
            key_col,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    window_size: str = "1 day",
    slide: str = "6 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Sliding window per key: each event lands in size/slide windows.

    Spark materializes the window memberships via an internal explode —
    the output row count is |events| * (size/slide) pre-aggregation, which
    is why slide should divide size coarsely at scale."""
    w = F.window(F.col(ts_col), window_size, slide)
    return (
        events.groupBy(F.col(key_col), w.alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
        )
    )


def session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session window per key: events within ``gap`` of each other merge;
    session end = last event + gap (Spark's session_window semantics).

    In batch, Catalyst rewrites this to a sort-within-key + merge — the
    same gaps-and-islands computation the SQL oracle spells out."""
    w = F.session_window(F.col(ts_col), gap)
    return (
        events.groupBy(F.col(key_col), w.alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("sess_end"),
            "n_events",
        )
    )


def late_data_admission(
    events: DataFrame,
    ts_col: str = "ts",
    arrival_col: str = "event_id",
    batch_rows: int = 1000,
    window_size: str = "1 hour",
    delay_s: int = 5401,
) -> DataFrame:
    """Batch replay of Structured Streaming's watermark admission rule.

    Chunks the arrival order (``arrival_col``) into micro-batches of
    ``batch_rows`` rows and applies Spark's exact late-data rule to each
    row: the watermark in effect for batch N is ``max(event time seen in
    batches < N) - delay``, and a row is ADMITTED iff its tumbling
    window's end is strictly after that watermark (probe-verified on this
    Spark build: a window whose end EQUALS the watermark is already
    evicted, so its late rows drop; see
    tests/test_r5b_ops.py::test_late_admission_matches_real_stream, which
    pins this replay against a real one-file-per-batch streaming run).

    Why batch-granular and not per-row: that IS the engine's semantics —
    Spark advances the global watermark only between micro-batches — and
    it is what makes the replay scale-safe: the only ordered computation
    is a running max over the per-batch summary (one row per micro-batch,
    thousands at most), broadcast back to the corpus-sized side. No
    corpus-wide ordered window anywhere.

    Use cases: backfilling a streaming pipeline's historical output so
    batch and stream agree bit-for-bit, and auditing how much data a
    given watermark delay would discard.
    """
    delay_us = int(delay_s) * 1_000_000
    b = events.withColumn(
        "__batch_id", F.expr(f"{arrival_col} div {int(batch_rows)}")
    )
    summary = b.groupBy("__batch_id").agg(
        F.max(F.unix_micros(F.col(ts_col))).alias("__mx")
    )
    wm = summary.select(
        "__batch_id",
        F.max("__mx")
        .over(
            Window.orderBy("__batch_id").rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("__wm"),
    )
    win_end = F.unix_micros(F.window(F.col(ts_col), window_size)["end"])
    return (
        b.join(F.broadcast(wm), "__batch_id")
        .where(F.col("__wm").isNull() | (win_end > F.col("__wm") - F.lit(delay_us)))
        .drop("__batch_id")
    )


def session_conversion(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    view_type: str = "view",
    convert_type: str = "purchase",
) -> DataFrame:
    """Daily session-scoped conversion: sessionize per user (same
    ``session_window`` semantics as ``session_agg`` — end = last event
    + gap, a >=gap arrival starts a new session), flag each session for
    view/purchase presence IN THE SAME aggregation that builds the
    session (no second pass over events), assign the session to its
    start day, and report per-day session counts and the view->purchase
    conversion share among view-sessions.

    Two keyed shuffles total: the session aggregation (sort-within-key
    merge) and the tiny per-day rollup.  Presence flags are max-of-
    indicator — mergeable, so the session agg stays partial-aggregable.
    """
    w = F.session_window(F.col(ts_col), gap)
    sess = events.groupBy(F.col(key_col), w.alias("w")).agg(
        F.max((F.col(type_col) == view_type).cast("int")).alias("has_view"),
        F.max((F.col(type_col) == convert_type).cast("int")).alias("has_conv"),
    )
    by_day = sess.groupBy(
        F.to_date(F.col("w.start")).alias("day")
    ).agg(
        F.count("*").alias("n_sessions"),
        F.sum("has_view").cast("long").alias("view_sessions"),
        F.sum(F.col("has_view") * F.col("has_conv"))
        .cast("long")
        .alias("converting_sessions"),
    )
    return by_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_sessions",
        "view_sessions",
        "converting_sessions",
        F.round(
            F.col("converting_sessions")
            / F.nullif(F.col("view_sessions"), F.lit(0)),
            6,
        ).alias("session_cvr"),
    )


# --- mergeable session-interval state (incremental sessionization) ----------


def session_intervals(
    events: DataFrame,
    gap_s: int = 30 * 60,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Per-key session summaries as MERGEABLE interval state:
    (key, start_us, end_us, n_events).

    The state is closed under ``merge_session_intervals`` for an
    ARBITRARY split of the event stream (not just time-ordered
    batches): a session summary is the interval [min ts, max ts] whose
    internal gaps are all <= gap, and gaps-and-islands over a UNION of
    such intervals reproduces exactly the sessions of the combined
    event set (interval ends are real event times, so an island
    boundary in interval space is a > gap event gap and vice versa).
    That closure is what makes sessionization incrementally
    maintainable — late/out-of-order delta batches fold into state
    without reprocessing history.

    One keyed exchange: the lag flag and the running sum share a single
    (key, ts, tie) sort — the r35 plan shape reduced to summaries."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    us = F.unix_micros(F.col(ts_col))
    prev = F.lag(us).over(w)
    new_sess = F.when(
        prev.isNull() | ((us - prev) > gap_s * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = events.select(
        F.col(key_col),
        us.alias("__us"),
        F.sum(new_sess).over(run).alias("__sid"),
    )
    return flagged.groupBy(key_col, "__sid").agg(
        F.min("__us").alias("start_us"),
        F.max("__us").alias("end_us"),
        F.count("*").cast("long").alias("n_events"),
    ).drop("__sid")


def coalesce_session_intervals(
    both: DataFrame,
    gap_s: int = 30 * 60,
    key_col: str = "user_id",
) -> DataFrame:
    """Collapse ANY union of session-interval tables (see
    ``session_intervals`` for why this is lossless) in one pass:
    gaps-and-islands over the intervals — a new island starts iff the
    interval's start exceeds the running max end of earlier intervals
    by MORE than the gap (same strict-``>`` convention as the
    event-level flag).  N-way merges (streaming batch partitions) cost
    the same single keyed exchange as a 2-way fold."""
    run_end = F.max("end_us").over(
        Window.partitionBy(key_col)
        .orderBy("start_us", "end_us")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    new_isl = F.when(
        run_end.isNull()
        | ((F.col("start_us") - run_end) > gap_s * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy(key_col).orderBy("start_us", "end_us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    isl = both.select(
        key_col,
        "start_us",
        "end_us",
        "n_events",
        F.sum(new_isl).over(run).alias("__isl"),
    )
    return isl.groupBy(key_col, "__isl").agg(
        F.min("start_us").alias("start_us"),
        F.max("end_us").alias("end_us"),
        F.sum("n_events").cast("long").alias("n_events"),
    ).drop("__isl")


def merge_session_intervals(
    state: DataFrame,
    delta: DataFrame,
    gap_s: int = 30 * 60,
    key_col: str = "user_id",
) -> DataFrame:
    """EXACT fold of a delta interval table into session state — the
    2-way form of ``coalesce_session_intervals``.  Cost is one keyed
    exchange over |sessions| rows (already collapsed from events),
    which is what a 100-TB nightly session-maintenance job wants:
    deltas fold in at summary granularity."""
    return coalesce_session_intervals(
        state.unionByName(delta), gap_s, key_col
    )


def numbered_sessions(
    state: DataFrame, key_col: str = "user_id"
) -> DataFrame:
    """Read session-interval state as the user-facing session table:
    per-key session_seq in start order plus formatted bounds."""
    w = Window.partitionBy(key_col).orderBy("start_us", "end_us")
    return state.select(
        F.col(key_col),
        F.row_number().over(w).cast("long").alias("session_seq"),
        F.date_format(
            F.timestamp_micros(F.col("start_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("start_s"),
        F.date_format(
            F.timestamp_micros(F.col("end_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("end_s"),
        "n_events",
    )


# --- 2-D Pareto frontier (skyline) ------------------------------------------


def pareto_frontier_2d(
    df: DataFrame,
    cost_col: str,
    gain_col: str,
) -> DataFrame:
    """Skyline rows: no other row has (cost <=, gain >=) with at least
    one strict inequality.  Duplicated (cost, gain) points tie and ALL
    survive (neither dominates the other).

    Scale shape: the row set first collapses to a per-cost best-gain
    HISTOGRAM (map-side combine, |distinct costs| rows), the frontier
    is a running-max scan over that table, and survivors join back via
    broadcast.  |distinct costs| GROWS with the data (the round-10
    spine audit flagged the old single-partition window here), so the
    scan runs as the two-phase ranged prefix scan — range-partitioned,
    P-way parallel, exact (costs are distinct after the groupBy, a
    strict total order).  The full data is never sorted or shuffled
    beyond one keyed agg."""
    from martech_pipelines_spark.operators.scan import ranged_cummax_prev

    best = df.groupBy(cost_col).agg(F.max(gain_col).alias("__best"))
    frontier = ranged_cummax_prev(
        best, [F.asc(cost_col)], F.col("__best"), "__prev"
    ).where(F.col("__prev").isNull() | (F.col("__best") > F.col("__prev")))
    return df.join(
        F.broadcast(
            frontier.select(
                F.col(cost_col).alias("__fc"), F.col("__best").alias("__fg")
            )
        ),
        (F.col(cost_col) == F.col("__fc")) & (F.col(gain_col) == F.col("__fg")),
    ).drop("__fc", "__fg")


# ---------------------------------------------------------------------------
# Per-user journey strings (mart24 / h27 / the journey stream).  State:
# (user_id, n_events, journey) where journey is one code character per
# event in total (ts, event_id) order.  Merge: sum the counts and
# concatenate the strings in batch order — exact only for time-ordered
# batches (same-ts events never straddle a batch), which is why the
# stream checks its ``_range`` markers.  Readout: one regexp_count per
# user at READ time, so funnels that span a batch boundary are counted.
# ---------------------------------------------------------------------------

# "a view, then a click, then a purchase, with no intervening purchase":
# the [^p]* gaps anchor every match at the FIRST purchase, so greedy-vs-
# lazy engine differences cannot change the count.
_MART24_PATTERN = "v[^p]*c[^p]*p"


def journey_state(ev: DataFrame) -> DataFrame:
    """(user_id, n_events, journey) of an event batch — ``collect_list``
    of structs + ``array_sort`` (collect_list alone has no
    cross-partition order guarantee)."""
    code = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    return ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", code.alias("code")))
                ),
                lambda s: s["code"],
            ),
            "",
        ).alias("journey"),
    )


def journey_merge(parts: DataFrame) -> DataFrame:
    """Fold ``journey_state`` rows tagged with a ``batch_id`` (batch
    order = time order) into one state row per user."""
    return parts.groupBy("user_id").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("batch_id", "journey"))),
                lambda s: s["journey"],
            ),
            "",
        ).alias("journey"),
    )


def journey_readout(state: DataFrame) -> DataFrame:
    """(user_id, n_events, n_funnels, did_convert) of merged state."""
    return state.select(
        "user_id",
        "n_events",
        F.regexp_count("journey", F.lit(_MART24_PATTERN))
        .cast("long")
        .alias("n_funnels"),
        F.col("journey").contains("p").cast("long").alias("did_convert"),
    )


# ---------------------------------------------------------------------------
# First-order journey transitions (mart28 / h32 / the transitions
# stream).  State: (from_type, to_type, n_trans) cells of WITHIN-batch
# consecutive pairs, plus per-user (first_type, last_type) bounds.
# Merge: sum the cells and add one stitch transition (earlier.last_type
# -> later.first_type) per user per pair of consecutive appearances —
# exact for time-ordered batches.  Readout: per-source half-up e6
# transition probabilities.
# ---------------------------------------------------------------------------


def transition_cells(ev: DataFrame) -> DataFrame:
    """(from_type, to_type, n_trans) within-batch cells: one keyed lead
    window per user + a map-side-combined count."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return nxt.where(F.col("to_type").isNotNull()).groupBy(
        "from_type", "to_type"
    ).agg(F.count("*").cast("long").alias("n_trans"))


def transition_bounds(ev: DataFrame) -> DataFrame:
    """(user_id, first_type, last_type) in total (ts, event_id) order."""
    return ev.groupBy("user_id").agg(
        F.min_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("first_type"),
        F.max_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("last_type"),
    )


def transition_merge(cells: DataFrame, bounds: DataFrame) -> DataFrame:
    """Merged (from_type, to_type, n_trans) cells from per-batch cells
    and ``transition_bounds`` rows tagged with a ``batch_id`` (batch
    order = time order): each user's consecutive appearances, in batch
    order, add one stitch transition — users absent from intermediate
    batches included."""
    w = Window.partitionBy("user_id").orderBy("batch_id")
    stitch = (
        bounds.select(
            F.col("last_type").alias("from_type"),
            F.lead("first_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n_trans"))
    )
    return sum_merge(
        ["from_type", "to_type"],
        cells.select("from_type", "to_type", "n_trans"),
        stitch,
    )


def transition_readout(cells: DataFrame) -> DataFrame:
    """(from_type, to_type, n_trans, row_total, p_e6) of merged cells:
    row totals broadcast back over the |types|^2 spine."""
    rowtot = cells.groupBy("from_type").agg(
        F.sum("n_trans").cast("long").alias("row_total")
    )
    return (
        cells.join(F.broadcast(rowtot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_trans",
            "row_total",
            F.expr(
                "(n_trans * 2000000 + row_total) div (2 * row_total)"
            ).cast("long").alias("p_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Daily event-count spine statistics (dq16 / h33 Mann-Kendall trend,
# dq19 / h37 Tukey-fence outlier days).  State: (event_type, d, c) counter
# cells.  Merge: ``transforms.sum_merge`` on (event_type, d) — cells are
# additive, so time- or id-split batches may share (type, day) keys.
# Each readout takes merged (unique) cells; its quadratic or
# order-statistic work runs over the ~30-row-per-type day spine,
# whatever the data scale.
# ---------------------------------------------------------------------------


def daily_count_state(ev: DataFrame) -> DataFrame:
    """(event_type, d, c) per-day event counts of a batch."""
    return ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").cast("long").alias("c"))


def trend_readout(daily: DataFrame) -> DataFrame:
    """(event_type, n_days, s_stat, var18, trend): Mann-Kendall S over
    the day spine with the tie-corrected variance, in integers —
    9 * S^2 > 2 * var18 is exactly |z| > 2."""
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.c") > F.col("a.c"), 1)
                .when(F.col("b.c") < F.col("a.c"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    n = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days")
    )
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tie_term")
        )
    )
    var18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    ).cast("long")
    out = n.join(s, "event_type").join(ties, "event_type", "left")
    return out.select(
        "event_type",
        "n_days",
        "s_stat",
        var18.alias("var18"),
        F.when(
            9 * F.col("s_stat") * F.col("s_stat") > 2 * var18,
            F.when(F.col("s_stat") > 0, "up").otherwise("down"),
        )
        .otherwise("none")
        .alias("trend"),
    )


def outlier_days_readout(daily: DataFrame) -> DataFrame:
    """(event_type, n_days, q1, q3, n_outlier_days): order-statistic
    quartiles (ceil-rank, integer (n+3) div 4) and the 1.5x IQR Tukey
    fences doubled on both sides so no .5 ever materializes."""
    w = Window.partitionBy("event_type").orderBy("c", "d")
    wn = Window.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "c",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    q1 = ranked.where(F.col("rn") == F.expr("(n + 3) div 4")).select(
        "event_type", "n", F.col("c").alias("q1")
    )
    q3 = ranked.where(F.col("rn") == F.expr("(3 * n + 3) div 4")).select(
        "event_type", F.col("c").alias("q3")
    )
    quart = q1.join(q3, "event_type")
    return (
        ranked.select("event_type", "c")
        .join(F.broadcast(quart), "event_type")
        .withColumn(
            "__is_out",
            (
                (2 * F.col("c") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")))
                | (2 * F.col("c") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1")))
            ).cast("int"),
        )
        .groupBy("event_type", "n", "q1", "q3")
        .agg(F.sum("__is_out").cast("long").alias("n_outlier_days"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            "q1",
            "q3",
            "n_outlier_days",
        )
    )


# ---------------------------------------------------------------------------
# Error-budget / SLO burn (dq15 / the SLO stream).  State: per-day
# (day_s, n_events, n_errors) counter cells.  Merge:
# ``transforms.sum_merge`` on day_s — batches may arrive in any order.
# Readout: half-up e6 error share, a breach flag against ``budget_e6``
# and the running breach count over the day spine.
# ---------------------------------------------------------------------------

DQ15_BUDGET_E6 = 210_000  # 21% daily error-share budget (data mean ~20%)


def slo_state(ev: DataFrame) -> DataFrame:
    """(day_s, n_events, n_errors) per-day counters of an event batch."""
    return ev.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day_s")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    )


def slo_readout(daily: DataFrame, budget_e6: int = DQ15_BUDGET_E6) -> DataFrame:
    """(day_s, n_events, n_errors, err_share_e6, breach, breaches_cum)."""
    shared = daily.select(
        "day_s",
        "n_events",
        "n_errors",
        F.expr(
            "(n_errors * CAST(2000000 AS BIGINT) + n_events) div (2 * n_events)"
        )
        .cast("long")
        .alias("err_share_e6"),
    )
    breach = F.when(F.col("err_share_e6") > budget_e6, F.lit(1)).otherwise(
        F.lit(0)
    )
    w = Window.orderBy("day_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return shared.select(
        "day_s",
        "n_events",
        "n_errors",
        "err_share_e6",
        breach.cast("long").alias("breach"),
        F.sum(breach).over(w).cast("long").alias("breaches_cum"),
    )
