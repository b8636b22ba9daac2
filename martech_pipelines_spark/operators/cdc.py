"""CDC / incremental processing (SURVEY.md §2.A2-A3, §2.E, §2.H).

The reference's flagship pipeline (reference:
martech_pipelines/tasks/user_profile/clevertap.py:6-61):

1. look up a per-query watermark in ``streaming_job_runs`` (H1),
2. read the Delta Change-Data-Feed since that timestamp (A2), or the full
   history on cold start (A3/H4),
3. keep only ``insert``/``update_postimage`` change rows (H2),
4. compact to the newest row per key via a rank window + self-join (E2),
5. count + hand off to the export operator.

Spark-first re-expression:
- The change source is any append-only log DataFrame with (key, ts,
  change_type) columns — Delta CDF where available, a plain parquet event
  log otherwise (the primary implementation here; the testdata ``events``
  table plays this role).
- The E2 dedup drops the reference's self-join: ranking and filtering on
  the same frame is one shuffle on the key instead of two plus a join.
  Tie-handling pinned (SURVEY.md §0): the reference's join-back can emit
  >1 row per key when two changes share a commit timestamp; we pin
  exactly-1-row-per-key with a deterministic second sort key.
- 100-TB posture: the only shuffle is ``partitionBy(key)``; the watermark
  filter is a pushed-down parquet predicate (min/max row-group skipping);
  no collect() except the 1-row watermark lookup.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Change types that survive H2 filtering
# (reference: martech_pipelines/tasks/user_profile/clevertap.py:43,53).
DEFAULT_PASS_TYPES = ("insert", "update_postimage")


def lookup_watermark(job_runs: DataFrame, query_name: str) -> dt.datetime | None:
    """H1: read the last-run watermark for a query; None = cold start.

    Reference: martech_pipelines/tasks/user_profile/clevertap.py:10-14
    (an IndexError on the empty collect is the reference's cold-start
    signal; we return None instead). The collect is a 1-row control-table
    read — the one place collect() is legitimate.
    """
    rows = (
        job_runs.where(F.col("query_name") == F.lit(query_name))
        .select("last_job_run")
        .limit(1)
        .collect()
    )
    return rows[0][0] if rows else None


def incremental_scan(
    changes: DataFrame,
    ts_col: str,
    since: dt.datetime | str | int | None,
    inclusive: bool = False,
) -> Column | DataFrame:
    """A2/A3: bound an append-only change log by the watermark.

    ``since=None`` is the cold-start full scan (A3). The predicate is a
    plain comparison on the timestamp column so it reaches the parquet
    scan as a pushed filter (and prunes partitions when the log is
    partitioned by date) — the built-in analog of the reference's manual
    ``startingTimestamp`` option (reference:
    martech_pipelines/tasks/user_profile/clevertap.py:19-27).

    ``inclusive`` selects ``>=`` instead of the watermark-default ``>``
    (Delta CDF's starting bounds are inclusive; the read_change_feed
    adapter lowers onto this flag).
    """
    if since is None:
        return changes
    bound = F.lit(since)
    pred = F.col(ts_col) >= bound if inclusive else F.col(ts_col) > bound
    return changes.where(pred)


def read_change_feed(
    changes: DataFrame,
    ts_col: str = "ts",
    version_col: str | None = None,
    **options,
) -> DataFrame:
    """Delta-CDF-option-compatible adapter over the append-log scan
    (COVERAGE.md A2): accepts the option names a Delta
    ``readChangeFeed`` caller already uses and lowers each onto
    ``incremental_scan``'s pushed-filter predicate.

    Options (Delta semantics — starting/ending bounds are INCLUSIVE):
    - ``startingTimestamp`` / ``endingTimestamp`` — bound ``ts_col``
    - ``startingVersion`` / ``endingVersion``   — bound ``version_col``
      (pass ``version_col`` naming the monotonic commit-version column
      of the log; required for version bounds)

    No starting option = cold start, full history (A3 branch — exactly
    Delta's ``startingVersion=0``). ``startingTimestamp`` and
    ``startingVersion`` are mutually exclusive, as in Delta.
    """
    st = options.pop("startingTimestamp", None)
    sv = options.pop("startingVersion", None)
    et = options.pop("endingTimestamp", None)
    ev = options.pop("endingVersion", None)
    if options:
        raise ValueError(f"unknown change-feed options: {sorted(options)}")
    if st is not None and sv is not None:
        raise ValueError(
            "provide either startingTimestamp or startingVersion, not both"
        )
    if (sv is not None or ev is not None) and version_col is None:
        raise ValueError("version bounds require version_col")

    df = changes
    if st is not None:
        df = incremental_scan(df, ts_col, st, inclusive=True)
    if sv is not None:
        df = incremental_scan(df, version_col, int(sv), inclusive=True)
    if et is not None:
        df = df.where(F.col(ts_col) <= F.lit(et))
    if ev is not None:
        df = df.where(F.col(version_col) <= F.lit(int(ev)))
    return df


def delta_available() -> bool:
    """True when the ``delta-spark`` package is importable in this
    environment. The engine never hard-imports delta: every Delta code
    path is gated on this probe (SURVEY.md §7.4(5))."""
    try:
        import importlib.util

        return importlib.util.find_spec("delta") is not None
    except Exception:  # pragma: no cover - importlib failure is exotic
        return False


def read_delta_change_feed(
    spark: SparkSession,
    path: str,
    ts_col: str = "_commit_timestamp",
    version_col: str | None = "_commit_version",
    **options,
) -> DataFrame:
    """A2/A3 path-based reader: the genuine Delta Change-Data-Feed when
    ``delta-spark`` is installed and ``path`` is a Delta table, else the
    parquet change-log fallback lowered through ``read_change_feed``.

    Genuine branch — exactly the reference's read (reference:
    martech_pipelines/tasks/user_profile/clevertap.py:19-27)::

        spark.read.format("delta")
             .option("readChangeFeed", "true")
             .option("startingTimestamp", ...)   # or startingVersion
             .load(path)

    Delta emits the CDF metadata columns ``_change_type``,
    ``_commit_version``, ``_commit_timestamp``; the parquet fallback
    expects the same columns materialized in the log (the testdata
    ``events`` table plays this role with its own ts/version columns —
    override ``ts_col``/``version_col`` accordingly).

    Fallback equality contract: for a change log holding one row per
    (key, commit) with those three columns, both branches return the
    same row multiset for the same options — pinned in
    tests/test_cdc.py::test_delta_branch_equals_parquet_fallback
    (skipped unless delta-spark is importable).
    """
    is_delta = delta_available() and _looks_like_delta_table(path)
    if is_delta:
        reader = spark.read.format("delta").option("readChangeFeed", "true")
        for k in (
            "startingTimestamp",
            "endingTimestamp",
            "startingVersion",
            "endingVersion",
        ):
            if k in options:
                reader = reader.option(k, options[k])
        unknown = set(options) - {
            "startingTimestamp",
            "endingTimestamp",
            "startingVersion",
            "endingVersion",
        }
        if unknown:
            raise ValueError(f"unknown change-feed options: {sorted(unknown)}")
        try:
            return reader.load(path)
        except Exception as exc:  # noqa: BLE001
            # pip-importable delta does NOT imply the SESSION can read
            # it (jars + SQL extensions must be configured at session
            # build). Do NOT fall back to parquet here: the path IS a
            # Delta table (_delta_log present) and a raw parquet scan
            # would include files the Delta log has removed — wrong
            # answers, silently. Fail with instructions instead.
            if "delta" in str(exc).lower():
                raise RuntimeError(
                    "delta-spark is importable but this SparkSession "
                    "cannot load the 'delta' data source; build the "
                    "session with spark.jars.packages=io.delta:delta-"
                    "spark_*:* and the Delta SQL extensions "
                    "(delta.pip_utils.configure_spark_with_delta_pip), "
                    "or point read_delta_change_feed at a parquet "
                    "change log instead"
                ) from exc
            raise
    changes = spark.read.parquet(path)
    return read_change_feed(changes, ts_col=ts_col, version_col=version_col, **options)


def _looks_like_delta_table(path: str) -> bool:
    """A Delta table directory always contains ``_delta_log/``."""
    import os

    return os.path.isdir(os.path.join(path, "_delta_log"))


def filter_change_types(
    changes: DataFrame,
    change_type_col: str = "_change_type",
    pass_types: tuple[str, ...] = DEFAULT_PASS_TYPES,
) -> DataFrame:
    """H2: keep post-image change rows only (C4 IN-list predicate)."""
    return changes.where(F.col(change_type_col).isin(list(pass_types)))


def latest_per_key(
    df: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """E2: newest row per key — the flagship CDC compaction.

    The reference builds a CTE of max-rank timestamps then joins back
    (reference: martech_pipelines/tasks/user_profile/clevertap.py:30-53);
    idiomatic Spark ranks and filters in one pass:

        row_number() OVER (PARTITION BY key ORDER BY ts DESC, tiebreak...)

    Exactly one shuffle (hash by key), which a keyed consumer such as
    ``merge_upsert(null_safe_keys=False)`` reuses. Pinned semantics:
    strictly one row per key; same-timestamp ties broken by
    ``tiebreak_cols`` descending (callers pass a unique id to make output
    deterministic).

    Why this form is the one kept: in an interleaved same-session A/B at
    sf0.1 (4 cores) it beat a ``max_by``-over-struct aggregation on e2
    (0.34 vs 0.44 s median, 6/6 rounds) and h9 (0.40 vs 0.49 s) and tied
    it on the flagship and pipe5; a two-phase salted ``max_by`` lost
    everywhere (0.66-0.74 s). On a planted hot key (one user holding 20%
    of the sf0.1 events) the order held (e2: 0.30, 0.34 and 0.58 s) and the
    salted phase gave no extra reduction: the partial ``WindowGroupLimit``
    keeps one row per key in each map task before the exchange, as
    ``max_by``'s partial aggregation does, so both shipped 1,500 rows
    (79 KB and 97 KB) where the salted form shipped 24,660 (1.36 MB)."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") == 1)
        .drop("__rank")
    )


def cdc_compact(
    changes: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    since: dt.datetime | str | None = None,
    change_type_col: str | None = None,
    pass_types: tuple[str, ...] = DEFAULT_PASS_TYPES,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """The full flagship pipeline: watermark filter -> change-type filter
    -> ``latest_per_key`` compaction. Every stage is a narrow predicate
    except the single keyed shuffle in the compaction."""
    df = incremental_scan(changes, ts_col, since)
    if change_type_col is not None:
        df = filter_change_types(df, change_type_col, pass_types)
    return latest_per_key(df, key_cols, ts_col, tiebreak_cols)


def observed_compact(
    changes: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    **kwargs,
) -> tuple[DataFrame, str]:
    """E4 (modern form): the compaction with an ``observe`` metric bundle
    attached — input row count and max timestamp collected as named
    metrics during the SAME action that computes the result (no second
    scan, unlike accumulator probes). Read them from the observation
    after an action via ``spark.listenerManager`` or, simplest,
    ``df.observe`` + QueryExecutionListener; tests use the collected
    DataFrame route."""
    name = "cdc_metrics"
    observed = changes.observe(
        name,
        F.count(F.lit(1)).alias("rows_in"),
        F.max(ts_col).alias("max_ts"),
    )
    return cdc_compact(observed, key_cols, ts_col, **kwargs), name


def update_watermark(
    spark: SparkSession,
    job_runs: DataFrame,
    query_name: str,
    new_watermark: dt.datetime,
) -> DataFrame:
    """H1 write-side: upsert the watermark row (returns the new table).

    The reference leaves the update implicit; for the parquet-backed
    engine this is a tiny control-table rewrite (anti-join + union) —
    trivially small, never on the data path.
    """
    others = job_runs.where(F.col("query_name") != F.lit(query_name))
    new_row = spark.createDataFrame(
        [(query_name, new_watermark)], schema=job_runs.schema
    )
    return others.unionByName(new_row)


def scd2_from_changes(
    changes: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
    end_of_time: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a change log: every
    change row becomes a version with ``valid_from`` = its own timestamp
    and ``valid_to`` = the NEXT change's timestamp for the same key
    (``end_of_time`` sentinel + ``is_current`` flag on the newest).

    The warehouse-side complement of ``cdc_compact``: compact keeps only
    the newest row per key; SCD2 keeps the full history queryable with
    point-in-time joins. Intervals are HALF-OPEN ``[valid_from,
    valid_to)`` — ``valid_to`` equals the next version's ``valid_from``
    — so the correct point-in-time predicate is ``valid_from <= t AND
    valid_to > t``; an inclusive ``BETWEEN`` would double-match any
    timestamp that falls exactly on a version boundary.

    Scale shape: ONE shuffle on the key (the same exchange compact
    needs), a per-key sort, one ``lead()`` — no self-join against the
    history table, which is the naive formulation's killer at 100 TB.
    Deterministic total order via the tiebreak columns."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.asc(ts_col)] + [F.asc(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    nxt = F.lead(F.col(ts_col)).over(w)
    return (
        changes.withColumn("__next_ts", nxt)
        .withColumn("valid_from", F.col(ts_col))
        .withColumn(
            "valid_to",
            F.coalesce(F.col("__next_ts"), F.lit(end_of_time).cast("timestamp")),
        )
        .withColumn("is_current", F.col("__next_ts").isNull())
        .drop("__next_ts")
    )


def incremental_agg_update(
    agg_table: DataFrame,
    new_changes: DataFrame,
    key_cols: str | list[str],
    count_col: str = "n_events",
    sum_col: str = "total_value",
    value_col: str = "value",
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: fold a
    new change batch into an existing per-key (count, sum) table without
    touching the history — ``new = old ⊎ delta`` via union + re-agg on
    the partial states. Counts and sums are distributive, so maintaining
    them incrementally is EXACT (averages derive as sum/count at read
    time; non-distributive aggs like exact percentiles need sketches or
    recompute).

    Scale shape: the delta aggregation shuffles only the NEW batch; the
    merge is one keyed agg over (|keys| + |batch keys|) partial rows —
    the whole point vs re-scanning the full history each run. Same
    watermark discipline as ``incremental_scan`` decides what counts as
    new."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    delta = new_changes.groupBy(*keys).agg(
        F.count("*").cast("long").alias(count_col),
        F.sum(value_col).alias(sum_col),
    )
    return (
        agg_table.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum(count_col).cast("long").alias(count_col),
            F.sum(sum_col).alias(sum_col),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: str | list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC in the OUTWARD direction: derive a change feed from two table
    snapshots — the op a pipeline needs when the upstream system has no
    change log (the reference's watermark pattern assumes one exists;
    this manufactures it). Full-outer join on the key, rows classified
    ``insert`` (key only in new), ``delete`` (only in old), ``update``
    (both, any compared column differs — null-safe); unchanged rows are
    dropped.

    Scale shape: one co-partitioned full-outer join (both sides shuffle
    once on the key; bucketing both snapshots by the key makes it
    exchange-free — see write_bucketed_table) and a codegen classifier.
    Comparison is null-safe (``<=>``), so null->value and value->null
    both classify as updates."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
    )
    cond = None
    for k in keys:
        eq = F.col(f"__ok_{k}") == F.col(f"__nk_{k}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"__ok_{keys[0]}").isNotNull()
    in_new = F.col(f"__nk_{keys[0]}").isNotNull()
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        changed = ne if changed is None else (changed | ne)
    change_type = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(changed if changed is not None else F.lit(False), F.lit("update"))
    )
    out_keys = [
        F.coalesce(F.col(f"__nk_{k}"), F.col(f"__ok_{k}")).alias(k) for k in keys
    ]
    out_vals = [
        F.when(in_new, F.col(f"__n_{c}")).otherwise(F.col(f"__o_{c}")).alias(c)
        for c in compare_cols
    ]
    return (
        j.withColumn("change_type", change_type)
        .where(F.col("change_type").isNotNull())
        .select(*out_keys, *out_vals, "change_type")
    )


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    key_cols: str | list[str],
    delete_when: str | None = None,
    null_safe_keys: bool = True,
) -> DataFrame:
    """H9: SQL MERGE semantics as one full-outer join — apply a compacted
    change batch to a base snapshot and return the next snapshot
    (the write side of the watermark loop: ``snapshot_diff`` derives a
    feed FROM snapshots, this applies a feed TO one).

    Per key: a change row wins over the base row (WHEN MATCHED THEN
    UPDATE + WHEN NOT MATCHED THEN INSERT); a change row satisfying
    ``delete_when`` (a SQL boolean expression over the CHANGE row's
    columns) removes the key (WHEN MATCHED [AND cond] THEN DELETE);
    base keys without a change pass through unchanged. ``changes`` must
    already be one-row-per-key (run ``latest_per_key`` first — MERGE
    itself rejects multi-matches, same contract).

    Schemas must agree on ``base.columns``; extra change-side columns
    are ignored. Scale shape: one keyed full-outer shuffle join (both
    sides partition by the key; with a bucketed base table the exchange
    on that side disappears), delete filter and column coalescing are
    codegen expressions.

    ``null_safe_keys``: the default True matches two NULL keys to each
    other (IS NOT DISTINCT FROM). Spark plans a null-safe join on
    ``coalesce(k, 0), isnull(k)`` keys, which CANNOT reuse an upstream
    ``hashpartitioning(k)`` (e.g. from a latest_per_key compaction) —
    two extra exchanges. When the key is known non-null (compacted CDC
    logs, primary keys), pass False: plain equality joins on ``k``
    itself and the compaction shuffles are reused (h9's plan drops from
    4 exchanges to 2).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # __delete doubles as the "this key has a change row" marker after the
    # full-outer join, so it must be non-null on EVERY change row — a
    # delete predicate that evaluates to NULL (three-valued logic over a
    # null column) means "not deleted", not "no change".
    chg = changes.withColumn(
        "__delete",
        F.coalesce(F.expr(delete_when), F.lit(False))
        if delete_when is not None
        else F.lit(False),
    )
    b = base.alias("b")
    c = chg.alias("c")
    cond = None
    for k in keys:
        bk, ck = F.col(f"b.{k}"), F.col(f"c.{k}")
        eq = bk.eqNullSafe(ck) if null_safe_keys else (bk == ck)
        cond = eq if cond is None else (cond & eq)
    j = b.join(c, cond, "full_outer")
    has_change = F.col(f"c.__delete").isNotNull()
    out_cols = []
    for name in base.columns:
        if name in keys:
            out_cols.append(
                F.coalesce(F.col(f"c.{name}"), F.col(f"b.{name}")).alias(name)
            )
        else:
            out_cols.append(
                F.when(has_change, F.col(f"c.{name}"))
                .otherwise(F.col(f"b.{name}"))
                .alias(name)
            )
    return j.where(~(has_change & F.col("c.__delete"))).select(*out_cols)


def cohort_state_update(
    firsts: DataFrame | None,
    cells: DataFrame | None,
    batch: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
    revenue_types: tuple[str, ...] = ("purchase",),
) -> tuple[DataFrame, DataFrame]:
    """H10: incremental view maintenance for the cohort-LTV mart
    (mart7) — fold an event batch into two small state tables instead of
    re-scanning history:

    - ``firsts``  (user, cohort_week): MIN-mergeable — a late-arriving
      earlier event simply lowers the user's cohort week;
    - ``cells``   (user, event_week, revenue): ADDITIVE — revenue sums
      merge by +.

    The decomposition is what makes the mart maintainable without the
    raw log: age_weeks = (event_week - cohort_week)/7 is DERIVED at
    read time (``cohort_matrix_from_state``), so when a late event
    shifts a user's cohort, every one of their cells re-ages by a
    constant offset automatically — no replay, no per-event state. The
    distinct-buyer count per cell is exact because cells stay
    user-granular (countDistinct happens at read).

    Pass ``firsts=None, cells=None`` to cold-start. Scale shape: each
    fold shuffles only the batch (keyed aggs) plus a |users|-sized state
    merge — same contract as ``incremental_agg_update`` (h6); state size
    is |users| + |users x active weeks|, independent of event count.
    Final-matrix equality with the full mart7 recompute is the oracle
    (h10 shares mart7's SQL), and batch-split/ordering invariance is
    pinned in pytest."""
    b_firsts = batch.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).alias("cohort_week")
    )
    new_firsts = (
        b_firsts
        if firsts is None
        else firsts.unionByName(b_firsts)
        .groupBy(user_col)
        .agg(F.min("cohort_week").alias("cohort_week"))
    )
    b_cells = (
        batch.where(F.col(type_col).isin(list(revenue_types)))
        .groupBy(
            F.col(user_col),
            F.date_trunc("week", F.col(ts_col)).alias("event_week"),
        )
        .agg(F.sum(value_col).alias("revenue"))
    )
    new_cells = (
        b_cells
        if cells is None
        else cells.unionByName(b_cells)
        .groupBy(user_col, "event_week")
        .agg(F.sum("revenue").alias("revenue"))
    )
    return new_firsts, new_cells


def cohort_matrix_from_state(
    firsts: DataFrame,
    cells: DataFrame,
    user_col: str = "user_id",
) -> DataFrame:
    """H10 read side: derive the mart7 cohort x age revenue matrix from
    the maintained state. age_weeks is computed here so cohort shifts
    from late data are always reflected; n_buyers is an exact
    countDistinct because cells are user-granular."""
    joined = cells.join(F.broadcast(firsts), user_col).select(
        user_col,
        "cohort_week",
        (
            F.datediff(F.col("event_week"), F.col("cohort_week")) / 7
        )
        .cast("int")
        .alias("age_weeks"),
        "revenue",
    )
    return joined.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "age_weeks",
    ).agg(
        F.countDistinct(user_col).alias("n_buyers"),
        F.round(F.sum("revenue"), 2).alias("revenue"),
    )


def scd2_apply_changes(
    dim: DataFrame,
    delta: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
    end_of_time: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Incrementally maintain a type-2 dimension: fold a NEW change batch
    into an existing SCD2 table without rebuilding history.

    Three keyed steps, all on the same key partitioning:

    1. the delta alone becomes version rows (``scd2_from_changes`` on the
       batch — its newest row per key stays open);
    2. each key's EARLIEST new ``valid_from`` closes that key's currently
       open dim row (valid_to = first new ts, is_current = false) — a
       broadcast-or-keyed join against a (key, min_ts) table reduced from
       the delta;
    3. untouched dim rows pass through unchanged.

    APPEND-ONLY CONTRACT: every delta timestamp must be STRICTLY GREATER
    than the key's current open ``valid_from`` (the streaming/CDC
    reading order).  Equality is NOT enough: a delta row at exactly the
    open row's timestamp with a smaller tiebreak would, under a full
    rebuild's (ts, tiebreak) ordering, sort BEFORE the open row — this
    maintenance step always closes the open row at the delta's first
    timestamp, so the two would disagree about which row stays current.
    Late rows at-or-before an existing version need history splicing —
    that is a rebuild (``scd2_from_changes`` on the full log), not a
    maintenance step; h14 pins incremental == rebuild under time-split
    batches, the contract's happy path.

    Scale shape: history is NEVER rescanned beyond one join against the
    per-key first-new-timestamp table; the delta pays one keyed
    shuffle + lead() exactly like a fresh build of its own rows.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    delta_scd = scd2_from_changes(
        delta, keys, ts_col, tiebreak_cols, end_of_time
    )
    first_new = delta.groupBy(*keys).agg(
        F.min(F.col(ts_col)).alias("__first_new_ts")
    )
    closed = (
        dim.join(first_new, keys, "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("is_current") & F.col("__first_new_ts").isNotNull(),
                F.col("__first_new_ts"),
            ).otherwise(F.col("valid_to")),
        )
        .withColumn(
            "is_current",
            F.col("is_current") & F.col("__first_new_ts").isNull(),
        )
        .drop("__first_new_ts")
    )
    return closed.unionByName(delta_scd)
