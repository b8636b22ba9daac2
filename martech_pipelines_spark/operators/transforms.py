"""Config-driven profile-export transform pipeline (SURVEY.md §2.C6-C9, §2.I).

The reference's export operator applies, per record dict, on the driver:
identity check -> optional named transformation_fn -> type map -> attribute
subset -> key rename (reference:
martech_pipelines/operators/clevertap_user_profile.py:93-111), resolving
``transformation_fn`` by name with getattr against the helpers module
(:50-59).

Spark-first re-expression: each stage is a DataFrame->DataFrame combinator
over Column expressions; the pipeline composes them declaratively from the
same config shape the reference's operator kwargs use (FIXTURES.md §1.5).
The getattr-by-name registry becomes an explicit dict of named builders —
same extensibility point, no reflection, and each entry is a *columnar*
transform rather than a per-row Python function.

At 100 TB this whole pipeline is a single narrow projection stage fused by
whole-stage codegen — zero shuffles, zero Python.

Incremental capabilities (one ``state`` / ``merge`` / ``readout`` each;
the section comment above each states its contract once): the batch
query is ``readout(state(all))``, and its ``h*`` twin and the streaming
fold in ``streaming/stream.py`` call the same functions.  Here: the
revenue Gini and the market-basket rules.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from martech_pipelines_spark.functions import profile as P

# --- named transformation registry (replaces getattr-by-name, §2.I) ----------

# Signature: (df, params) -> dict of new column name -> Column expression.
TransformFn = Callable[[DataFrame, dict], dict[str, Column]]

TRANSFORMATIONS: dict[str, TransformFn] = {}


def register_transformation(name: str) -> Callable[[TransformFn], TransformFn]:
    """Register a named columnar transformation (the engine's analog of the
    reference's ``transformation_fn`` config string)."""

    def deco(fn: TransformFn) -> TransformFn:
        TRANSFORMATIONS[name] = fn
        return fn

    return deco


@register_transformation("get_gender_implicit_data")
def _gender_implicit(df: DataFrame, params: dict) -> dict[str, Column]:
    """Reference: martech_pipelines/utils/data_sanity_helpers.py:165-177 via
    operator config (martech_pipelines/operators/clevertap_user_profile.py:50-59)."""
    col = F.col(params.get("data_col", "v1__json"))
    return P.gender_implicit_columns(col, params.get("signal_field", "last7days"))


@register_transformation("get_birth_date")
def _birth_date(df: DataFrame, params: dict) -> dict[str, Column]:
    """Reference: martech_pipelines/utils/data_sanity_helpers.py:156-162."""
    return {"birth_date": P.get_birth_date(F.col(params.get("dob_col", "dob")))}


# --- type-map dispatcher (F4) ------------------------------------------------

# Target-name -> Column builder, mirroring the reference's dispatch keys
# (reference: martech_pipelines/utils/data_sanity_helpers.py:56-93).
_TYPE_DISPATCH: dict[str, Callable[[Column], Column]] = {
    "string": lambda c: c.cast("string"),
    "int": lambda c: P.lenient_cast(c, "long"),
    "float": lambda c: P.lenient_cast(c, "double"),
    "date": P.generic_date,  # dob columns routed to fix_dob by apply_type_map
    "mobile_sanity": P.mobile_sanity,
    "modify_reward": P.modify_reward,
    "Unix_epoch": P.unix_epoch,
}


def apply_type_map(df: DataFrame, type_map: dict[str, str]) -> DataFrame:
    """F4: per-field lenient-cast dispatcher. Unknown target names raise at
    plan time (the reference silently ignores them — a foot-gun we drop).
    The dob special-case (date -> fix_dob) follows the reference's branch
    (martech_pipelines/utils/data_sanity_helpers.py:72-74)."""
    out = {}
    for name, target in type_map.items():
        if name not in df.columns:
            continue
        if target == "date" and name == "dob":
            out[name] = P.fix_dob(F.col(name))
        else:
            try:
                builder = _TYPE_DISPATCH[target]
            except KeyError as exc:
                raise ValueError(f"unknown type-map target {target!r} for {name!r}") from exc
            out[name] = builder(F.col(name))
    return df.withColumns(out) if out else df


def select_attributes(df: DataFrame, attributes: list[str]) -> DataFrame:
    """C6: keep only listed columns; missing names silently dropped
    (reference: martech_pipelines/utils/data_sanity_helpers.py:31-39)."""
    present = [c for c in attributes if c in df.columns]
    return df.select(*present)


def rename_columns(df: DataFrame, swap_map: dict[str, str]) -> DataFrame:
    """C7: rename per map, overwriting an existing target column
    (reference: martech_pipelines/utils/data_sanity_helpers.py:42-53 —
    the target key is overwritten if present, source dropped)."""
    for old, new in swap_map.items():
        if old in df.columns:
            if new in df.columns:
                df = df.drop(new)
            df = df.withColumnRenamed(old, new)
    return df


@dataclass
class ProfileExportConfig:
    """The reference operator's kwargs as a typed config
    (reference: martech_pipelines/operators/clevertap_user_profile.py:19-49)."""

    identity_fields: list[str] = field(default_factory=lambda: ["customer_id"])
    transformation_fn: str | None = None
    transformation_params: dict = field(default_factory=dict)
    data_type_map: dict[str, str] = field(default_factory=dict)
    attributes: list[str] = field(default_factory=list)
    swap_key_map: dict[str, str] = field(default_factory=dict)


def profile_export_pipeline(df: DataFrame, cfg: ProfileExportConfig) -> DataFrame:
    """The full export transform, one narrow stage:

    1. identity resolution + null-identity rejection (C8/E5) — rows whose
       identity coalesce comes up empty are dropped (the reference counts
       them as invalid; pair with ``invalid_count`` for the metric),
    2. optional named transformation (adds derived columns),
    3. type-map lenient casts (F4-F8),
    4. attribute subset (C6) — identity always kept,
    5. rename map (C7).
    """
    df = df.withColumn("identity", P.identity_coalesce(df, cfg.identity_fields))
    df = df.where(F.col("identity").isNotNull())
    if cfg.transformation_fn is not None:
        fn = TRANSFORMATIONS[cfg.transformation_fn]
        df = df.withColumns(fn(df, cfg.transformation_params))
    df = apply_type_map(df, cfg.data_type_map)
    if cfg.attributes:
        keep = ["identity"] + [a for a in cfg.attributes if a != "identity"]
        df = select_attributes(df, keep)
    df = rename_columns(df, cfg.swap_key_map)
    return df


def invalid_count(df: DataFrame, identity_fields: list[str]) -> int:
    """E4: the invalid-record metric — rows with no usable identity
    (reference: martech_pipelines/operators/clevertap_user_profile.py:93-98)."""
    return df.where(P.identity_coalesce(df, identity_fields).isNull()).count()


def constraint_check(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[str] | None = None,
    accepted_values: dict[str, list] | None = None,
    ranges: dict[str, tuple] | None = None,
    null_violates_accepted_values: bool = True,
) -> DataFrame:
    """Declarative data-quality gate (the deequ/dbt-test shape): evaluate
    every declared constraint in ONE aggregation pass over the table and
    return a (check_name, n_violations, ok) row per constraint — the
    assertion twin of the dp1 one-pass profiler.

    NULL semantics for ``accepted_values``: by default a NULL counts as
    a violation (a missing value is not an accepted one). dbt's
    ``accepted_values`` test instead IGNORES NULLs (its generated SQL's
    ``NOT IN`` is never true for NULL); pass
    ``null_violates_accepted_values=False`` for dbt-compatible
    behavior. Declare ``not_null`` separately when you need both.

    Constraint names are derived from raw column names and interpolated
    into a ``stack()`` selectExpr; names containing quotes or newlines
    are rejected up front rather than silently producing malformed SQL.

    Scale shape: not-null / accepted-values / range checks are
    conditional sums inside a single scan-and-aggregate (no shuffle
    beyond the 1-row final agg); each ``unique`` check adds one
    count_distinct (a keyed partial agg). The row-per-constraint output
    comes from ``stack`` on the 1-row aggregate — no second pass."""
    for c in [
        *(not_null or []),
        *(unique or []),
        *(accepted_values or {}),
        *(ranges or {}),
    ]:
        if any(ch in c for ch in ("'", '"', "\\", "\n")):
            raise ValueError(
                f"constraint_check: column name {c!r} contains a quote/escape "
                "character that cannot be safely embedded in a check name"
            )
    aggs: list = []
    names: list[str] = []
    for c in not_null or []:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)))
        names.append(f"not_null({c})")
    for c, vals in (accepted_values or {}).items():
        bad = ~F.col(c).isin(*vals)
        if null_violates_accepted_values:
            bad = bad | F.col(c).isNull()
        aggs.append(F.sum(F.when(bad, 1).otherwise(0)))
        names.append(f"accepted_values({c})")
    for c, (lo, hi) in (ranges or {}).items():
        aggs.append(
            F.sum(
                F.when(
                    F.col(c).isNull() | (F.col(c) < lo) | (F.col(c) > hi), 1
                ).otherwise(0)
            )
        )
        names.append(f"range({c})")
    for c in unique or []:
        aggs.append(F.count(F.col(c)) - F.count_distinct(F.col(c)))
        names.append(f"unique({c})")
    if not aggs:
        raise ValueError("constraint_check: no constraints declared")
    row = df.agg(*[a.cast("long").alias(f"__c{i}") for i, a in enumerate(aggs)])
    stack_args = ", ".join(f"'{n}', __c{i}" for i, n in enumerate(names))
    return row.selectExpr(
        f"stack({len(names)}, {stack_args}) AS (check_name, n_violations)"
    ).withColumn("ok", F.col("n_violations") == 0)


# units valid for BOTH date_trunc and the grid interval expression —
# names are interpolated into SQL fragments, so the allowlist is also
# the injection guard
_RESAMPLE_UNITS = {"hour", "day", "week", "month"}


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    unit: str = "day",
    round_dp: int = 2,
) -> DataFrame:
    """Time-series resample + gap fill: aggregate ``value_col`` per key
    per ``unit`` period, densify each key's span to a complete period
    grid, and forward-fill empty periods from the last observed value —
    the standard feature-engineering step before any fixed-step model
    (and the relational twin of a Grafana/Timescale ``time_bucket`` +
    ``locf`` query).

    Returns (key, period, value_ffill): one row per key per period
    between the key's first and last observation, no gaps.

    Scale shape: the period aggregation is one keyed shuffle with
    map-side partial sums; the span aggregation and grid explode reuse
    the same key partitioning (no second exchange under AQE); the
    forward fill is a per-key ordered window (``last(ignorenulls)``
    over unbounded-preceding), which shuffles by key only. Grid
    inflation is bounded by span/unit per key, independent of raw event
    count.
    """
    from pyspark.sql import Window

    if unit not in _RESAMPLE_UNITS:
        raise ValueError(
            f"unit must be one of {sorted(_RESAMPLE_UNITS)}, got {unit!r}"
        )
    period = F.date_trunc(unit, F.col(ts_col))
    per = df.groupBy(F.col(key_col), period.alias("period")).agg(
        F.round(F.sum(value_col), round_dp).alias("__v")
    )
    spans = per.groupBy(key_col).agg(
        F.min("period").alias("__t0"), F.max("period").alias("__t1")
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.sequence("__t0", "__t1", F.expr(f"interval 1 {unit}"))
        ).alias("period"),
    )
    j = grid.join(per, [key_col, "period"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("period")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        key_col,
        "period",
        F.last("__v", ignorenulls=True).over(w).alias("value_ffill"),
    )


def rolling_zscore(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_periods: int = 7,
    z_thresh: float = 2.0,
    unit: str = "day",
) -> DataFrame:
    """Data-quality anomaly detection on a metric time series: per key,
    aggregate ``value_col`` per period, then flag periods whose value
    deviates from the trailing ``window_periods``-period mean by more
    than ``z_thresh`` sample standard deviations (the rolling-z-score
    monitor every pipeline-health dashboard runs on volume/latency/
    revenue series).

    z is only emitted once the trailing window is full (n ==
    window_periods) and has nonzero variance — early periods and flat
    series yield NULL z / anomaly=false, not spurious alerts.

    Determinism contract (the s12 integer-moments recipe, applied after
    the r7 fe2/t39 driver-hash incidents): the 2dp daily value is
    quantized to integer cents, the windowed moments (sum, sum of
    squares) accumulate EXACTLY in decimal — order-independent and
    engine-identical — and mean/variance/z are then derived through a
    fixed tree of single-rounded double ops, so the pre-round z is
    bit-identical on any engine and no stddev-over-doubles summation
    order exists to flip a rounded digit.  The variance-positivity guard
    compares the exact decimal moment difference, so a flat window is
    EXACTLY zero (NULL z), never an ulp above it.

    Returns (key, period, v, mu, z, anomaly). Scale: one keyed agg
    shuffle + one per-key ordered window (both partition by the key);
    the series length per key is bounded by span/unit, so window state
    stays tiny regardless of raw event count.
    """
    from pyspark.sql import Window

    if unit not in _RESAMPLE_UNITS:
        raise ValueError(
            f"unit must be one of {sorted(_RESAMPLE_UNITS)}, got {unit!r}"
        )
    per = df.groupBy(
        F.col(key_col), F.date_trunc(unit, F.col(ts_col)).alias("period")
    ).agg(F.round(F.sum(value_col), 2).alias("v"))
    # integer cents of the (already 2dp) period value: floor(v*100 + 0.5)
    # is a fixed expression on a single double — engine-exact
    per = per.withColumn(
        "_p", F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long")
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("period")
        .rowsBetween(-(window_periods - 1), 0)
    )
    pdec = F.col("_p").cast("decimal(19,0)")
    s1 = F.sum(pdec).over(w)
    s2 = F.sum(pdec * pdec).over(w)
    n = F.count("_p").over(w)
    # exact decimal: n*s2 - s1^2 == 0 iff the window is flat
    diff = n.cast("decimal(19,0)") * s2 - s1 * s1
    nd = n.cast("double")
    s1d = s1.cast("double")
    diffd = diff.cast("double")
    mean_p = s1d / nd  # cents
    var_p = diffd / (nd * (nd - F.lit(1.0)))  # cents^2, sample
    dev_p = F.col("_p").cast("double") - mean_p
    ready = (n == window_periods) & (diff > 0)
    z = F.when(ready, F.round(dev_p / F.sqrt(var_p), 4))
    # mu is rounded to 4dp, NOT 2dp: the mean of 2dp values over n<=7
    # periods frequently lands exactly on a half-cent (sum/2, sum/4),
    # where Spark HALF_UP and DuckDB half-even disagree; at 4dp the
    # value (integer cents / 100n) can never sit exactly halfway
    # between representable outputs, so the rounding is engine-stable.
    return per.select(
        key_col,
        "period",
        "v",
        F.round(mean_p / F.lit(100.0), 4).alias("mu"),
        z.alias("z"),
        F.when(ready, F.abs(dev_p) > F.lit(z_thresh) * F.sqrt(var_p))
        .otherwise(F.lit(False))
        .alias("anomaly"),
    )


def referential_check(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    name: str,
    broadcast_parent: bool = False,
) -> DataFrame:
    """One foreign-key integrity check: returns a single summary row
    ``(constraint_name, child_rows, orphan_rows)`` where ``orphan_rows``
    counts non-null child keys with no matching parent (dbt
    ``relationships`` test semantics: NULL child keys are not violations).

    Scale shape: the parent side is reduced to its DISTINCT key column
    before the anti-join (parent is a PK table, so this is a metadata-cheap
    projection — but stating it keeps the join payload one column wide).
    For dimension-sized parents pass ``broadcast_parent=True`` and the
    orphan scan is a broadcast anti-join with NO shuffle of the child; for
    fact-sized parents the anti-join shuffles both sides once on the key.
    The two counts (total + orphans) come from one aggregate over a left
    anti-join, not two separate jobs, via count-distinct-free conditional
    aggregation on a left join.
    """
    keys = parent.select(F.col(parent_key).alias("__pk")).distinct()
    if broadcast_parent:
        keys = F.broadcast(keys)
    joined = child.select(F.col(child_key).alias("__ck")).join(
        keys, F.col("__ck") == F.col("__pk"), "left"
    )
    return joined.agg(
        F.lit(name).alias("constraint_name"),
        F.count(F.lit(1)).cast("long").alias("child_rows"),
        F.sum(
            F.when(
                F.col("__ck").isNotNull() & F.col("__pk").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("orphan_rows"),
    )


def source_freshness(
    events: DataFrame,
    source_col: str = "event_type",
    ts_col: str = "ts",
    stale_after_hours: int = 24,
) -> DataFrame:
    """dbt-source-freshness-style monitor: per source, last-seen event
    time, staleness lag against the newest event anywhere in the table,
    active-day count, integer events-per-active-day, and a stale flag.

    Scale shape: one keyed aggregation per source plus a 1-row global-max
    scalar joined by broadcast (the corpus-wide declarative alternative
    to a driver-side collect — same pattern as the corpus stats joins).
    Lag arithmetic is integer micros floor-divided to hours, so the
    output is bit-exact cross-engine."""
    per = events.groupBy(source_col).agg(
        F.max(ts_col).alias("__last_ts"),
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct(F.date_trunc("day", F.col(ts_col)))
        .cast("long")
        .alias("n_days"),
    )
    g = events.agg(F.max(F.unix_micros(F.col(ts_col))).alias("__mx"))
    lag_h = F.expr("(__mx - unix_micros(__last_ts)) div 3600000000")
    return (
        per.join(F.broadcast(g))
        .select(
            source_col,
            F.date_format("__last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
            lag_h.cast("long").alias("lag_hours"),
            "n_events",
            "n_days",
            F.expr("n_events div n_days").cast("long").alias("events_per_day"),
            (lag_h >= F.lit(int(stale_after_hours))).alias("stale"),
        )
    )


def user_days_of(
    events: DataFrame, ts_col: str = "ts", user_col: str = "user_id"
) -> DataFrame:
    """Distinct (day, user) activity pairs — the compact mergeable state
    behind reach/DAU analytics.  Merging two of these tables is a plain
    union + distinct (idempotent), and a user's first-touch day is a
    mergeable ``min`` over it, which is what makes the reach curve
    IVM-able (h13 proves incremental == full via r28's oracle)."""
    return events.select(
        F.to_date(F.col(ts_col)).alias("day"), F.col(user_col).alias("user_id")
    ).distinct()


def merge_user_days(state: DataFrame, delta_events: DataFrame) -> DataFrame:
    """Fold a delta batch of raw events into the (day, user) state table.

    The delta is reduced to its own distinct pairs FIRST (map-side
    combine does most of it), then deduped against the state with one
    keyed distinct — the state table is never re-derived from raw
    events, and replaying a batch is a no-op (idempotent merge)."""
    return state.unionByName(user_days_of(delta_events)).distinct()


def reach_curve(user_days: DataFrame) -> DataFrame:
    """DAU + daily new users + cumulative distinct reach from a (day,
    user) activity table: per-user first-day window on the reduced
    table, one per-day count, one running sum over the tiny day table.
    First-touch reduction makes cumulative-distinct ADDITIVE — the
    expanding COUNT(DISTINCT) window form re-deduplicates the whole
    prefix per day and cannot be maintained incrementally."""
    wfirst = Window.partitionBy("user_id")
    flagged = user_days.withColumn("first_day", F.min("day").over(wfirst))
    by_day = flagged.groupBy("day").agg(
        F.count("*").alias("active_users"),
        F.count(F.when(F.col("day") == F.col("first_day"), 1)).alias(
            "new_users"
        ),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return by_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "active_users",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


def erase_keys(
    df: DataFrame, ids: DataFrame, key_col: str
) -> DataFrame:
    """Right-to-be-forgotten scrub: drop every row whose ``key_col`` is
    in ``ids`` (a 1-column frame).  A LEFT ANTI join — the ids side is
    deletion-list-sized and broadcasts, so the scrub is one scan of the
    data with a map-side hash probe, no shuffle of the big table.  At
    very large deletion lists, pre-filter with a Bloom membership test
    (the dd13 pattern) before the exact anti-join."""
    id_col = ids.columns[0]
    return df.join(
        F.broadcast(ids.select(F.col(id_col).alias(key_col)).distinct()),
        key_col,
        "left_anti",
    )


def erasure_audit(
    before: DataFrame, after: DataFrame, ids: DataFrame, key_col: str, table: str
) -> DataFrame:
    """One-row audit record for an ``erase_keys`` run: rows before and
    after, rows removed, and the count of erased keys still present
    afterwards (the compliance check — MUST be zero).  All four counts
    come from two aggregates + one broadcast semi-join aggregate."""
    id_col = ids.columns[0]
    leftovers = after.join(
        F.broadcast(ids.select(F.col(id_col).alias(key_col)).distinct()),
        key_col,
        "left_semi",
    )
    b = before.agg(F.count("*").alias("rows_before"))
    a = after.agg(F.count("*").alias("rows_after"))
    l = leftovers.agg(F.count("*").alias("leftover_rows"))
    return (
        b.crossJoin(a)
        .crossJoin(l)
        .select(
            F.lit(table).alias("table_name"),
            "rows_before",
            "rows_after",
            (F.col("rows_before") - F.col("rows_after")).alias("rows_removed"),
            "leftover_rows",
        )
    )


def ordered_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    within_s: int | None = None,
) -> DataFrame:
    """First-touch ordered funnel over an event stream.

    Semantics (the greedy min-chain, documented so the oracle can spell
    it identically): a user reaches step ``i`` iff they have an event of
    ``steps[i]`` STRICTLY after the timestamp at which they reached step
    ``i-1``; the reached timestamp is the EARLIEST such event.  With
    unbounded step windows the greedy chain is equivalent to the
    existential ordered match (if any ordered k-tuple exists, chaining
    per-step minima finds one), so "reached step k" means "ever did
    steps[0] < steps[1] < ... < steps[k] in time order".

    ``within_s`` bounds each step: step ``i`` must land within
    ``within_s`` seconds of step ``i-1``'s reach time (strictly after,
    inclusive of the boundary).  NOTE the windowed funnel is GREEDY
    ANCHORED AT FIRST TOUCH — the product-analytics convention — not an
    existential search over all anchor choices (a later first step
    might open a window the earliest one misses; that search is
    exponential and no funnel tool runs it).  The oracle must spell the
    same greedy chain, which is exactly what the min-chain CTEs do.

    Scale shape: ONE keyed shuffle.  Events are filtered to the step
    types at the scan (pushed predicate), reduced to one row per user
    carrying a time-sorted array of (unix_micros, tiebreak, type)
    structs, and the step chain is computed by a single
    ``F.aggregate`` fold over that array — all JVM-side higher-order
    expressions, no window pass, no per-step self-join (the k-join
    min-chain form shuffles the events table k times; this shuffles it
    once).  The final count-reduction is a 1-row aggregate.

    Returns one row per step: ``step_idx``, ``step``, ``users`` (users
    reaching the step), ``conv_from_prev``, ``conv_from_first``
    (both NULL-safe rounded ratios; step 0's conv_from_prev is 1.0).

    Per-user state is one long per step, so memory is O(k); the sorted
    per-user array is bounded by that user's step-type event count —
    debounce (r30) upstream if click storms make single users pathological.
    """
    k = len(steps)
    ev = events.where(F.col(type_col).isin(list(steps)))
    per_user = ev.groupBy(user_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.unix_micros(F.col(ts_col)).alias("t"),
                    F.col(tiebreak_col).alias("tb"),
                    F.col(type_col).alias("typ"),
                )
            )
        ).alias("evs")
    )
    init = F.struct(
        *[F.lit(None).cast("long").alias(f"s{i}") for i in range(k)]
    )

    def fold_step(acc, x):
        fields = []
        for i in range(k):
            cond = acc[f"s{i}"].isNull() & (x["typ"] == F.lit(steps[i]))
            if i > 0:
                cond = cond & acc[f"s{i-1}"].isNotNull() & (
                    x["t"] > acc[f"s{i-1}"]
                )
                if within_s is not None:
                    cond = cond & (
                        x["t"] <= acc[f"s{i-1}"] + F.lit(within_s * 1_000_000)
                    )
            fields.append(
                F.when(cond, x["t"]).otherwise(acc[f"s{i}"]).alias(f"s{i}")
            )
        return F.struct(*fields)

    folded = per_user.select(
        F.aggregate("evs", init, fold_step).alias("st")
    )
    counts = folded.agg(
        *[F.count(F.col(f"st.s{i}")).alias(f"n{i}") for i in range(k)]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("step_idx"),
                F.lit(steps[i]).alias("step"),
                F.col(f"n{i}").alias("users"),
                (
                    F.lit(1.0)
                    if i == 0
                    else F.round(
                        F.col(f"n{i}")
                        / F.nullif(F.col(f"n{i-1}"), F.lit(0)),
                        6,
                    )
                ).alias("conv_from_prev"),
                (
                    F.lit(1.0)
                    if i == 0
                    else F.round(
                        F.col(f"n{i}") / F.nullif(F.col("n0"), F.lit(0)), 6
                    )
                ).alias("conv_from_first"),
            )
            for i in range(k)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")


def user_weeks_of(
    events: DataFrame, ts_col: str = "ts", user_col: str = "user_id"
) -> DataFrame:
    """Distinct (week, user) activity pairs — the mergeable state behind
    the weekly retention triangle (the week-granularity sibling of
    ``user_days_of``).  Weeks are ISO-Monday ``date_trunc('week')``,
    matching DuckDB's, so cells align bit-exact cross-engine."""
    return events.select(
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("week"),
        F.col(user_col).alias("user_id"),
    ).distinct()


def merge_user_weeks(state: DataFrame, delta_events: DataFrame) -> DataFrame:
    """Fold a delta batch of raw events into the (week, user) state —
    idempotent distinct-merge: replaying a batch (at-least-once
    delivery) is a no-op, and out-of-order batches land correctly
    because a user's cohort week is a mergeable ``min`` read at query
    time, never frozen into the state."""
    return state.unionByName(user_weeks_of(delta_events)).distinct()


def retention_matrix(user_weeks: DataFrame) -> DataFrame:
    """Weekly cohort retention triangle from a distinct (week, user)
    activity table: cohort = each user's first active week; cell
    (cohort_week, age_weeks) counts that cohort's users active in
    cohort_week + age_weeks; retention is the share of the cohort's
    size (its age-0 cell — every cohort user is active in week 0 by
    definition of first week).

    Scale shape: the raw-event reduction happened upstream in
    ``user_weeks_of`` (map-side combine collapses the event volume to
    |users|·|weeks| pairs); here one user-keyed window pins the cohort
    week, one keyed agg builds the cells, and cohort sizes are read off
    the SAME cell table with a cohort-keyed window (every cohort user is
    active at age 0 by definition of first week) — a self-join on the
    age-0 cells would re-derive the whole state subtree per consumer.
    No COUNT(DISTINCT) anywhere: distinctness is a property of the
    state table.
    """
    wfirst = Window.partitionBy("user_id")
    flagged = user_weeks.withColumn("cohort_week", F.min("week").over(wfirst))
    cells = flagged.groupBy(
        "cohort_week",
        (F.datediff("week", "cohort_week") / 7).cast("int").alias("age_weeks"),
    ).agg(F.count("*").alias("active_users"))
    wcoh = Window.partitionBy("cohort_week")
    sized = cells.withColumn(
        "cohort_size",
        F.max(
            F.when(F.col("age_weeks") == 0, F.col("active_users"))
        ).over(wcoh),
    )
    return sized.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "age_weeks",
        "cohort_size",
        "active_users",
        F.round(F.col("active_users") / F.col("cohort_size"), 6).alias(
            "retention_pct"
        ),
    )


def rolling_active_users(
    events: DataFrame,
    window_days: int = 7,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """EXACT trailing-N-day active users for every day with activity
    (rolling WAU for N=7) — the growth metric between DAU and the
    retention triangle.

    A per-day expanding COUNT(DISTINCT) window re-deduplicates N days
    of raw events for every output day and cannot be maintained; this
    form is the scale shape: reduce to distinct (day, user) FIRST
    (map-side combine collapses raw event volume), fan each pair out to
    the N report days it covers (bounded ×N explode of the REDUCED
    table), dedup per (report day, user), count per day.  Total
    shuffled volume is N·|user-days|, independent of raw event count.
    Report days are restricted to days with actual activity via an
    is-origin flag carried through the explode (a semi-join against the
    day set would re-derive the whole state subtree per consumer).
    """
    return rolling_active_from_state(
        user_days_of(events, ts_col=ts_col, user_col=user_col),
        window_days=window_days,
    )


def rolling_active_from_state(
    ud: DataFrame, window_days: int = 7
) -> DataFrame:
    """The rolling-WAU read over an existing distinct (day, user) state
    table — the same table ``merge_user_days`` maintains incrementally,
    which is what makes rolling distinct-counting IVM-able (h17 proves
    incremental == full against r31's oracle): the state merge is
    idempotent, and the window fan-out is a pure read."""
    contrib = ud.select(
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), window_days - 1)
            )
        ).alias("rday"),
        "user_id",
        F.col("day").alias("orig"),
    )
    per = contrib.groupBy("rday", "user_id").agg(
        F.max((F.col("orig") == F.col("rday")).cast("int")).alias("is_origin")
    )
    return (
        per.groupBy("rday")
        .agg(
            F.count("*").alias("active_users"),
            F.max("is_origin").alias("__has_origin"),
        )
        .where(F.col("__has_origin") == 1)
        .select(
            F.date_format("rday", "yyyy-MM-dd").alias("day"),
            "active_users",
        )
    )


def k_anonymity_violations(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Privacy audit: quasi-identifier combinations held by FEWER than
    ``k`` rows — the groups where a released record is re-identifiable
    by joining public attributes.  One keyed aggregation (map-side
    combine collapses to |groups| rows before the shuffle) + a post-agg
    filter; pair with generalization/suppression upstream and
    ``erase_keys`` (dq5) for the deletion side of the same compliance
    surface."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count("*").alias("group_size"))
        .where(F.col("group_size") < k)
    )


def rolling_active_hll(
    events: DataFrame,
    window_days: int = 7,
    ts_col: str = "ts",
    user_col: str = "user_id",
    lgk: int = 12,
) -> DataFrame:
    """Approximate trailing-N-day actives via mergeable per-day HLL
    sketches — the r31 twin whose windowed shuffle is USER-COUNT
    INDEPENDENT: per-day sketches (one keyed agg over raw events, map-
    side partial sketching), fan each day's fixed-size sketch to the N
    report days it covers, one ``hll_union_agg`` + estimate per day.
    The per-day sketch table doubles as IVM state: late data re-unions
    into its day (idempotent for re-seen users up to sketch register
    semantics — HLL inserts are idempotent, so replay is a no-op)."""
    per_day = events.groupBy(
        F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.hll_sketch_agg(F.col(user_col), F.lit(lgk)).alias("sketch"))
    fanned = per_day.select(
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), window_days - 1)
            )
        ).alias("rday"),
        "sketch",
        F.col("day").alias("orig"),
    )
    # origin flag instead of a semi-join against per_day: the semi-join
    # form references the sketch aggregation subtree twice (same
    # re-derivation hazard rolling_active_from_state documents).
    merged = fanned.groupBy("rday").agg(
        F.hll_union_agg("sketch").alias("sketch"),
        F.max((F.col("orig") == F.col("rday")).cast("int")).alias(
            "__has_origin"
        ),
    )
    return (
        merged.where(F.col("__has_origin") == 1)
        .select(
            F.date_format("rday", "yyyy-MM-dd").alias("day"),
            F.hll_sketch_estimate("sketch").cast("long").alias("active_users"),
        )
    )


def sum_merge(keys: list[str], *states: DataFrame) -> DataFrame:
    """Merge additive counter-cell states: union, then one keyed sum of
    every non-key column (as BIGINT).  Commutative and associative, so
    batches fold in any split and any order, and one state folds its
    own duplicate cells (a stream's per-batch partitions)."""
    u = reduce(DataFrame.unionByName, states)
    return u.groupBy(*keys).agg(
        *[F.sum(c).cast("long").alias(c) for c in u.columns if c not in keys]
    )


# ---------------------------------------------------------------------------
# Revenue concentration: exact integer Gini per market segment (mart21 /
# h23).  State: (segment, o_custkey, cents) per-customer revenue totals.
# Merge: ``sum_merge`` on (segment, o_custkey).
# Readout: (2 sum(i x_i) - (n + 1) sum x) / (n sum x) over ascending
# (cents, o_custkey)-ranked totals — one per-segment rank window over
# |customers| skinny rows (measured faster than a rank-free read off the
# per-segment value histogram, which needs one more exchange).  The
# rank-weighted sum runs in DECIMAL(38,0) (i * cents passes 2^63 near
# 10^7 customers); only the half-up e6 ratio lands in BIGINT.
# ---------------------------------------------------------------------------


def customer_revenue_state(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """(segment, o_custkey, cents) integer-cent revenue per customer of
    an orders batch."""
    cust = customer.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    return (
        orders.join(cust, "o_custkey")
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).cast("long").alias("cents")
        )
    )


def gini_readout(state: DataFrame) -> DataFrame:
    """(segment, n_customers, total_cents, gini_e6) of merged totals."""
    w = Window.partitionBy("segment").orderBy("cents", "o_custkey")
    ranked = state.withColumn("i", F.row_number().over(w).cast("long"))
    return ranked.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        # the cast happens PER TERM (inside the sum / before any
        # multiplication): a cast around an already-overflowed BIGINT
        # expression guards nothing
        F.expr(
            "CAST((2 * (2 * sum(CAST(i * cents AS DECIMAL(38,0)))"
            "           - CAST(count(*) + 1 AS DECIMAL(38,0))"
            "             * CAST(sum(CAST(cents AS DECIMAL(38,0)))"
            "                    AS DECIMAL(38,0))) * 1000000"
            "      + CAST(count(*) AS DECIMAL(38,0))"
            "        * CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)))"
            " div (2 * CAST(count(*) AS DECIMAL(38,0))"
            "        * CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).cast("long").alias("gini_e6"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules (mart10 / h15).  State: three additive
# counters — (x, y, pair_cnt) unordered same-order part pairs, (p, cnt)
# orders per part, and a 1-row (n) order count — built from ONE sorted
# collect_set per order with the pairs generated map-side (bounded
# per-order fan-out, no self-join re-shuffle).  Batches must split BY
# ORDER (an order's lines arrive together), so every pair lives in one
# batch.  Merge: ``basket_merge`` (keyed sums).  Readout: the top-N
# ``_MART10_TOPN`` pairs by (pair_cnt desc, x, y) with support,
# confidence and lift from integer counts; the item counts join back
# broadcast, the order count as a 1-row scalar.
# ---------------------------------------------------------------------------

_MART10_TOPN = 50


def basket_state(li: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pairs, items, orders) counters of a batch of (k, p) order lines."""
    sets = li.groupBy("k").agg(F.sort_array(F.collect_set("p")).alias("ps"))
    pair_expr = F.expr(
        """
        flatten(transform(ps, (xv, i) ->
            transform(slice(ps, i + 2, size(ps)),
                      yv -> struct(xv AS x, yv AS y))))
        """
    )
    pairs = (
        sets.select(F.explode(pair_expr).alias("pr"))
        .select("pr.x", "pr.y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("pair_cnt"))
    )
    items = (
        sets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count("*").alias("cnt"))
    )
    return pairs, items, sets.select(F.count("*").alias("n"))


def basket_merge(
    a: tuple[DataFrame, DataFrame, DataFrame],
    b: tuple[DataFrame, DataFrame, DataFrame],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Keyed sums of two basket states."""
    return tuple(
        sum_merge(keys, x, y) for x, y, keys in zip(a, b, (["x", "y"], ["p"], []))
    )


def basket_readout(state: tuple[DataFrame, DataFrame, DataFrame]) -> DataFrame:
    """(x, y, pair_cnt, support, conf_x_y, lift) of the top pairs."""
    pairs, items, orders = state
    top = pairs.orderBy(F.desc("pair_cnt"), F.asc("x"), F.asc("y")).limit(
        _MART10_TOPN
    )
    cx = items.select(F.col("p").alias("x"), F.col("cnt").alias("cnt_x"))
    cy = items.select(F.col("p").alias("y"), F.col("cnt").alias("cnt_y"))
    return (
        top.join(F.broadcast(cx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(orders))
        .select(
            "x",
            "y",
            "pair_cnt",
            F.round(F.col("pair_cnt").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(
                F.col("pair_cnt").cast("double") / F.col("cnt_x"), 6
            ).alias("conf_x_y"),
            F.round(
                F.col("pair_cnt").cast("double")
                * F.col("n")
                / (F.col("cnt_x") * F.col("cnt_y")),
                6,
            ).alias("lift"),
        )
    )
