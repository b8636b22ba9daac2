"""CDC / incremental-processing semantics (SURVEY.md §2.A2-A3, E2, H1-H4)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from martech_pipelines_spark.operators import cdc
from martech_pipelines_spark.sources.schemas import STREAMING_JOB_RUNS_SCHEMA


def _changes(spark):
    rows = [
        # (customer_id, mobile, _change_type, _commit_timestamp)
        (1, "m1-old", "insert", dt.datetime(2024, 1, 1, 10)),
        (1, "m1-new", "update_postimage", dt.datetime(2024, 1, 2, 10)),
        (1, "m1-pre", "update_preimage", dt.datetime(2024, 1, 2, 10)),
        (2, "m2", "insert", dt.datetime(2024, 1, 1, 9)),
        (2, "m2-del", "delete", dt.datetime(2024, 1, 3, 9)),
        # same-timestamp tie for key 3: id 31 vs 32 -> higher tiebreak wins
        (3, "m3-a", "insert", dt.datetime(2024, 1, 1, 8)),
        (3, "m3-b", "update_postimage", dt.datetime(2024, 1, 1, 8)),
    ]
    return spark.createDataFrame(
        rows, "customer_id long, mobile string, _change_type string, _commit_timestamp timestamp"
    )


def test_watermark_lookup_and_cold_start(spark):
    jr = spark.createDataFrame(
        [("ct", dt.datetime(2024, 1, 1, 12))], STREAMING_JOB_RUNS_SCHEMA
    )
    assert cdc.lookup_watermark(jr, "ct") == dt.datetime(2024, 1, 1, 12)
    assert cdc.lookup_watermark(jr, "unknown") is None  # H4 cold start


def test_incremental_scan_bounds(spark):
    df = _changes(spark)
    out = cdc.incremental_scan(df, "_commit_timestamp", dt.datetime(2024, 1, 1, 12))
    assert out.count() == 3  # strictly-after semantics


def _versioned_changes(spark):
    rows = [
        (1, "v0", 0, dt.datetime(2024, 1, 1, 8)),
        (1, "v1", 1, dt.datetime(2024, 1, 1, 10)),
        (2, "v1", 1, dt.datetime(2024, 1, 1, 10)),
        (2, "v2", 2, dt.datetime(2024, 1, 1, 12)),
        (3, "v3", 3, dt.datetime(2024, 1, 1, 14)),
    ]
    return spark.createDataFrame(
        rows,
        "customer_id long, payload string, _commit_version long, _commit_timestamp timestamp",
    )


def test_read_change_feed_starting_timestamp_inclusive(spark):
    df = _versioned_changes(spark)
    out = cdc.read_change_feed(
        df,
        ts_col="_commit_timestamp",
        startingTimestamp=dt.datetime(2024, 1, 1, 10),
    )
    # Delta CDF starting bounds are inclusive: the two 10:00 rows stay
    assert out.count() == 4


def test_read_change_feed_starting_version(spark):
    df = _versioned_changes(spark)
    out = cdc.read_change_feed(
        df, version_col="_commit_version", startingVersion=2
    )
    assert sorted(r["payload"] for r in out.collect()) == ["v2", "v3"]


def test_read_change_feed_version_range(spark):
    df = _versioned_changes(spark)
    out = cdc.read_change_feed(
        df, version_col="_commit_version", startingVersion=1, endingVersion=2
    )
    assert out.count() == 3  # versions 1 and 2, both ends inclusive


def test_read_change_feed_cold_start_and_errors(spark):
    import pytest as _pytest

    df = _versioned_changes(spark)
    # no starting option = full history (A3 cold-start branch)
    assert cdc.read_change_feed(df, ts_col="_commit_timestamp").count() == 5
    with _pytest.raises(ValueError, match="not both"):
        cdc.read_change_feed(
            df,
            ts_col="_commit_timestamp",
            version_col="_commit_version",
            startingTimestamp=dt.datetime(2024, 1, 1),
            startingVersion=1,
        )
    with _pytest.raises(ValueError, match="version_col"):
        cdc.read_change_feed(df, startingVersion=1)
    with _pytest.raises(ValueError, match="unknown change-feed options"):
        cdc.read_change_feed(df, readChangeFeed="true")


def test_read_delta_change_feed_parquet_fallback(spark, tmp_path):
    """Without delta-spark, the path-based reader lowers onto the
    parquet change log with identical option semantics."""
    log = str(tmp_path / "changes")
    _versioned_changes(spark).write.parquet(log)
    out = cdc.read_delta_change_feed(
        spark,
        log,
        ts_col="_commit_timestamp",
        version_col="_commit_version",
        startingVersion=1,
        endingVersion=2,
    )
    assert out.count() == 3  # inclusive both ends, as in Delta
    # cold start = full history
    assert cdc.read_delta_change_feed(spark, log).count() == 5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown change-feed options"):
        cdc.read_delta_change_feed(spark, log, readChangeFeed="true")


def test_delta_branch_equals_parquet_fallback(spark, tmp_path):
    """With delta-spark installed, the genuine readChangeFeed branch
    returns the same change rows as the parquet fallback for an
    equivalent log. Skipped cleanly where delta-spark is absent
    (this container)."""
    import pytest as _pytest

    _pytest.importorskip("delta")
    delta_dir = str(tmp_path / "delta_tbl")
    src = _versioned_changes(spark).drop("_commit_version", "_commit_timestamp")
    (
        src.limit(0)
        .write.format("delta")
        .option("delta.enableChangeDataFeed", "true")
        .save(delta_dir)
    )
    src.write.format("delta").mode("append").save(delta_dir)
    genuine = cdc.read_delta_change_feed(spark, delta_dir, startingVersion=0)
    # Delta CDF emits _change_type/_commit_version/_commit_timestamp —
    # the same metadata columns the fallback expects in the log.
    assert {"_change_type", "_commit_version", "_commit_timestamp"} <= set(
        genuine.columns
    )
    inserted = genuine.where(F.col("_change_type") == "insert")
    assert sorted(r["payload"] for r in inserted.collect()) == sorted(
        r["payload"] for r in src.collect()
    )

    log = str(tmp_path / "log")
    genuine.write.parquet(log)
    fallback = cdc.read_delta_change_feed(spark, log, startingVersion=0)
    assert sorted(map(tuple, genuine.collect())) == sorted(
        map(tuple, fallback.collect())
    )


def test_change_type_filter(spark):
    out = cdc.filter_change_types(_changes(spark))
    kinds = {r["_change_type"] for r in out.collect()}
    assert kinds == {"insert", "update_postimage"}


def test_latest_per_key_one_row_per_key_with_tiebreak(spark):
    df = cdc.filter_change_types(_changes(spark))
    out = cdc.latest_per_key(
        df, "customer_id", "_commit_timestamp", tiebreak_cols=["mobile"]
    )
    got = {r["customer_id"]: r["mobile"] for r in out.collect()}
    # key 3 tie at identical ts: 'm3-b' > 'm3-a' descending tiebreak
    assert got == {1: "m1-new", 2: "m2", 3: "m3-b"}
    assert out.count() == 3  # strictly one row per key


def test_latest_per_key_matches_python_reference(spark):
    df = cdc.filter_change_types(_changes(spark))
    got = cdc.latest_per_key(df, "customer_id", "_commit_timestamp", ["mobile"])
    best = {}
    for r in df.collect():
        order = (r["_commit_timestamp"], r["mobile"])
        if r["customer_id"] not in best or order > best[r["customer_id"]][0]:
            best[r["customer_id"]] = (order, tuple(r))
    assert sorted(map(tuple, got.collect())) == sorted(v[1] for v in best.values())


def test_cdc_compact_end_to_end(spark):
    out = cdc.cdc_compact(
        _changes(spark),
        key_cols="customer_id",
        ts_col="_commit_timestamp",
        since=dt.datetime(2024, 1, 1, 8, 30),
        change_type_col="_change_type",
        tiebreak_cols=["mobile"],
    )
    got = {r["customer_id"]: r["mobile"] for r in out.collect()}
    # key 2's insert (09:00) passes; key 3's rows (08:00) are before the
    # watermark; key 2's later delete is filtered by change type
    assert got == {1: "m1-new", 2: "m2"}


def test_incremental_two_run_flow(spark, tmp_path):
    """H1 end to end across two job runs: cold start processes everything
    and records a watermark; run 2 with later data sees ONLY the delta."""
    df1 = _changes(spark)
    wm_path = str(tmp_path / "wm")

    # run 1: cold start
    out1 = cdc.cdc_compact(
        df1, "customer_id", "_commit_timestamp",
        since=None, change_type_col="_change_type", tiebreak_cols=["mobile"],
    )
    assert out1.count() == 3
    max_ts = df1.agg(F.max("_commit_timestamp")).collect()[0][0]
    empty = spark.createDataFrame([], STREAMING_JOB_RUNS_SCHEMA)
    cdc.update_watermark(spark, empty, "ct", max_ts).write.mode("overwrite").parquet(wm_path)

    # run 2: one new change arrives after the watermark
    new_rows = spark.createDataFrame(
        [(1, "m1-newest", "update_postimage", dt.datetime(2024, 2, 1))],
        df1.schema,
    )
    df2 = df1.unionByName(new_rows)
    wm = cdc.lookup_watermark(spark.read.parquet(wm_path), "ct")
    assert wm == max_ts
    out2 = cdc.cdc_compact(
        df2, "customer_id", "_commit_timestamp",
        since=wm, change_type_col="_change_type", tiebreak_cols=["mobile"],
    )
    got = {r["customer_id"]: r["mobile"] for r in out2.collect()}
    assert got == {1: "m1-newest"}  # delta only


def test_observed_compact_metrics(spark):
    df = _changes(spark)
    out, name = cdc.observed_compact(
        df, "customer_id", "_commit_timestamp",
        change_type_col="_change_type", tiebreak_cols=["mobile"],
    )
    from pyspark.sql import Observation  # noqa: F401 - doc pointer

    rows = out.collect()
    assert len(rows) == 3
    # the observation rides the plan; its metrics are exposed through the
    # QueryExecutionListener bus — here we assert the plan carries it
    assert name == "cdc_metrics"
    assert "CollectMetrics" in out._jdf.queryExecution().optimizedPlan().toString()


def test_update_watermark_upsert(spark):
    jr = spark.createDataFrame(
        [("ct", dt.datetime(2024, 1, 1)), ("nc", dt.datetime(2024, 1, 2))],
        STREAMING_JOB_RUNS_SCHEMA,
    )
    new = cdc.update_watermark(spark, jr, "ct", dt.datetime(2024, 2, 1))
    got = {r["query_name"]: r["last_job_run"] for r in new.collect()}
    assert got == {"ct": dt.datetime(2024, 2, 1), "nc": dt.datetime(2024, 1, 2)}


def test_incremental_agg_update_handles_new_and_empty_keys(spark):
    from martech_pipelines_spark.operators.cdc import incremental_agg_update

    base = spark.createDataFrame(
        [(1, 2, 10.0), (2, 1, 5.0)],
        "user_id long, n_events long, total_value double",
    )
    batch = spark.createDataFrame(
        [(1, 7.5), (3, 1.0), (3, 2.0)], "user_id long, value double"
    )
    out = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in incremental_agg_update(base, batch, "user_id").collect()
    }
    assert out[1] == (3, 17.5)   # existing key folded
    assert out[2] == (1, 5.0)    # untouched key carried
    assert out[3] == (2, 3.0)    # brand-new key appears
    # empty delta is a no-op
    empty = batch.where(F.col("user_id") < 0)
    out2 = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in incremental_agg_update(base, empty, "user_id").collect()
    }
    assert out2 == {1: (2, 10.0), 2: (1, 5.0)}


def test_snapshot_diff_classifies_all_change_kinds(spark):
    from martech_pipelines_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),      # unchanged -> dropped
         (2, "b", 9.0),      # update (value)
         (3, "c", 3.0),      # update (null -> value, null-safe)
         (5, "e", 5.0)],     # insert; key 4 deleted
        "k long, s string, v double",
    )
    out = {r["k"]: r for r in snapshot_diff(old, new, "k").collect()}
    assert set(out) == {2, 3, 4, 5}
    assert out[2]["change_type"] == "update" and out[2]["v"] == 9.0
    assert out[3]["change_type"] == "update" and out[3]["v"] == 3.0
    assert out[4]["change_type"] == "delete" and out[4]["v"] == 4.0
    assert out[5]["change_type"] == "insert" and out[5]["s"] == "e"
