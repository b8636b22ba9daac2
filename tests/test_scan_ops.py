"""Two-phase ranged-scan primitives (operators.scan): exact equivalence
to the single-partition global windows they replace (round-10 spine
audit), boundary-invariance across partition counts, and the ntile
bucket arithmetic."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from martech_pipelines_spark.operators import scan as SC


def _data(spark):
    # hash-scattered values with heavy ties (v has ~100 distinct values
    # over 1000 rows) — ties exercise the strict-tiebreak requirement
    return spark.range(1000).select(
        "id", (F.xxhash64("id") % 100).alias("v")
    )


def test_ranged_row_number_equals_global(spark):
    df = _data(spark)
    order = [F.desc("v"), F.asc("id")]
    ref = {
        (r["id"], r["rn"])
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    for p in (3, 17):  # boundary-invariance: ranks exact for any P
        got = {
            (r["id"], r["rn"])
            for r in SC.ranged_row_number(df, order, "rn", num_ranges=p).collect()
        }
        assert got == ref


def test_ranged_cumsum_equals_global(spark):
    df = _data(spark)
    order = [F.asc("v"), F.asc("id")]
    ref = {
        (r["id"], r["c"])
        for r in df.withColumn(
            "c",
            F.sum("v").over(
                Window.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        ).collect()
    }
    got = {
        (r["id"], r["c"])
        for r in SC.ranged_cumsum(df, order, F.col("v"), "c", num_ranges=5).collect()
    }
    assert got == ref


def test_ranged_cumsum_preserves_decimal(spark):
    df = spark.range(100).select(
        "id", F.col("id").cast("decimal(18,2)").alias("d")
    )
    out = SC.ranged_cumsum(df, [F.asc("id")], F.col("d"), "c")
    assert out.schema["c"].dataType.typeName() == "decimal"
    assert out.where(F.col("id") == 99).first()["c"] == 4950


def test_ranged_cummax_prev_equals_global(spark):
    df = _data(spark)
    ref = {
        (r["id"], r["p"])
        for r in df.withColumn(
            "p",
            F.max("v").over(
                Window.orderBy(F.asc("id")).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
        ).collect()
    }
    got = {
        (r["id"], r["p"])
        for r in SC.ranged_cummax_prev(
            df, [F.asc("id")], F.col("v"), "p", num_ranges=7
        ).collect()
    }
    assert got == ref  # first row's None prefix included


def test_ntile_from_rn_matches_spark_ntile(spark):
    df = _data(spark)
    order = [F.desc("v"), F.asc("id")]
    n = df.agg(F.count("*").alias("n"))
    for k in (5, 10, 7, 3):
        ref = {
            (r["id"], r["t"])
            for r in df.withColumn(
                "t", F.ntile(k).over(Window.orderBy(*order))
            ).collect()
        }
        got = {
            (r["id"], r["t"])
            for r in SC.ranged_row_number(df, order, "rn")
            .join(F.broadcast(n))
            .withColumn("t", SC.ntile_from_rn(F.col("rn"), F.col("n"), k))
            .collect()
        }
        assert got == ref, f"k={k}"


def test_ntile_from_rn_fewer_rows_than_buckets(spark):
    tiny = spark.range(3)
    n = tiny.agg(F.count("*").alias("n"))
    ref = {
        (r["id"], r["t"])
        for r in tiny.withColumn(
            "t", F.ntile(5).over(Window.orderBy("id"))
        ).collect()
    }
    got = {
        (r["id"], r["t"])
        for r in SC.ranged_row_number(tiny, [F.asc("id")], "rn")
        .join(F.broadcast(n))
        .withColumn("t", SC.ntile_from_rn(F.col("rn"), F.col("n"), 5))
        .collect()
    }
    assert got == ref


def test_ranged_scans_equal_global_on_aggregate_input(spark):
    """A groupBy output whose scan reads fewer columns than the caller
    keeps: the offsets and the local ranks must come from one range
    split.  Each exchange samples its own range bounds, so two
    consumers of the split that plan different exchanges disagreed by
    a constant per partition (mart13_rfm's wrong r_score).  Checked with
    exchange reuse on (one shared exchange) and off (one persist)."""
    from martech_pipelines_spark import caching

    agg = (
        spark.range(6000)
        .groupBy((F.col("id") % 3000).alias("k"))
        .agg(
            (F.sum("id") % 97).alias("v"),
            F.count("*").alias("extra"),
            F.max("id").alias("extra2"),
        )
    )
    order = [F.desc("v"), F.asc("k")]
    w = Window.orderBy(*order)
    ref = {
        (r["k"], r["rn"], r["c"], r["p"])
        for r in agg.select(
            "k",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("c"),
            F.max("v").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("p"),
        ).collect()
    }
    reuse = spark.conf.get("spark.sql.exchange.reuse")
    try:
        for flag, collects in (("true", 3), ("false", 1)):
            spark.conf.set("spark.sql.exchange.reuse", flag)
            with caching.scope():
                rn = SC.ranged_row_number(agg, order, "rn", num_ranges=4)
                c = SC.ranged_cumsum(agg, order, F.col("v"), "c", num_ranges=4)
                p = SC.ranged_cummax_prev(agg, order, F.col("v"), "p", num_ranges=4)
                got = rn.join(c.select("k", "c"), "k").join(p.select("k", "p"), "k")
                for _ in range(collects):
                    rows = got.collect()
                    assert {(r["k"], r["rn"], r["c"], r["p"]) for r in rows} == ref
    finally:
        spark.conf.set("spark.sql.exchange.reuse", reuse)
