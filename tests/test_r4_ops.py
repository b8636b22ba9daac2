"""Round-4 operators: paragraph dedup, contamination overlap, BM25,
SCD2, attribution, weighted sampling, length-bucketed batching."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from martech_pipelines_spark.operators import cdc
from martech_pipelines_spark.operators import dedup as DD
from martech_pipelines_spark.operators import text as TX
from martech_pipelines_spark.sources import load_table

SF = "/root/testdata/sf0.001"


# --- paragraph dedup ---------------------------------------------------------


def test_paragraph_chunks_edges(spark):
    df = spark.createDataFrame(
        [("a b c d e",), ("",), (None,)], "t string"
    ).select(TX.tokens(F.col("t")).alias("tk"))
    out = df.select(TX.paragraph_chunks(F.col("tk"), 2).alias("p")).collect()
    assert out[0]["p"] == ["a b", "c d", "e"]  # ragged tail kept
    assert out[1]["p"] == []
    assert out[2]["p"] == []


def test_paragraph_dedup_first_occurrence_wins(spark):
    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd"),  # paras (k=2): "aa bb", "cc dd"
            (2, "aa bb ee ff"),  # "aa bb" dupes doc 1 -> only "ee ff" kept
            (3, "aa bb cc dd"),  # everything seen before -> empty
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in DD.paragraph_dedup(docs, k=2).collect()}
    assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_kept"] == "aa bb cc dd"
    assert out[2]["n_kept"] == 1 and out[2]["text_kept"] == "ee ff"
    assert out[3]["n_kept"] == 0 and out[3]["text_kept"] == ""


def test_paragraph_dedup_removes_volume_on_corpus(spark):
    docs = load_table(spark, SF, "documents")
    out = DD.paragraph_dedup(docs, k=10)
    agg = out.agg(
        F.sum("n_paras").alias("tot"), F.sum("n_kept").alias("kept")
    ).collect()[0]
    assert 0 < agg["kept"] < agg["tot"]  # near-dup docs lose paragraphs


# --- contamination overlap ---------------------------------------------------


def test_contamination_overlap_bounds_and_signal(spark):
    docs = load_table(spark, SF, "documents")
    train = docs.where(F.col("doc_id") % 10 != 3)
    eval_docs = docs.where(F.col("doc_id") % 10 == 3)
    out = DD.contamination_overlap(train, eval_docs, w=8)
    rows = out.collect()
    assert all(0.0 <= r["overlap_frac"] <= 1.0 for r in rows)
    assert all(r["n_hit_windows"] <= r["n_windows"] for r in rows)
    # flag-twin consistency: same docs contaminated as dd9
    flagged = {r["doc_id"] for r in rows if r["n_hit_windows"] > 0}
    dd9 = {
        r["doc_id"]
        for r in DD.decontaminate(train, eval_docs, w=8).collect()
        if r["contaminated"]
    }
    assert flagged == dd9


# --- BM25 --------------------------------------------------------------------


def test_bm25_formula_hand_check(spark):
    # 3 docs, query term "x": df=2, N=3, avgdl=(2+4+3)/3=3
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x x z w"), (3, "y z w")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.bm25_topk(docs, ("x",), k=10).collect()}
    assert set(out) == {1, 2}
    k1, b, avgdl = 1.2, 0.75, 3.0
    idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))

    def score(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert abs(out[1]["bm25"] - round(score(1, 2), 4)) < 1e-9
    assert abs(out[2]["bm25"] - round(score(2, 4), 4)) < 1e-9
    # doc 2 has tf=2 and should rank first
    assert out[2]["rnk"] == 1 and out[1]["rnk"] == 2


# --- SCD2 --------------------------------------------------------------------


def test_scd2_versions_chain(spark):
    ts = [dt.datetime(2024, 1, i + 1) for i in range(3)]
    changes = spark.createDataFrame(
        [(7, 1, ts[0]), (7, 2, ts[1]), (7, 3, ts[2]), (9, 4, ts[0])],
        "user_id long, event_id long, ts timestamp",
    )
    out = cdc.scd2_from_changes(changes, "user_id", "ts", ["event_id"])
    rows = sorted(out.collect(), key=lambda r: (r["user_id"], r["valid_from"]))
    u7 = [r for r in rows if r["user_id"] == 7]
    # versions chain: each valid_to == next valid_from; exactly one current
    assert u7[0]["valid_to"] == u7[1]["valid_from"]
    assert u7[1]["valid_to"] == u7[2]["valid_from"]
    assert [r["is_current"] for r in u7] == [False, False, True]
    assert u7[2]["valid_to"].year == 9999
    u9 = [r for r in rows if r["user_id"] == 9]
    assert len(u9) == 1 and u9[0]["is_current"]


# --- weighted sampling -------------------------------------------------------


def test_weighted_sample_deterministic_and_biased(spark):
    docs = load_table(spark, SF, "documents")
    a = [r["doc_id"] for r in TX.weighted_sample_topk(docs, "n_chars", k=20).collect()]
    b = [
        r["doc_id"]
        for r in TX.weighted_sample_topk(
            docs.repartition(13), "n_chars", k=20
        ).collect()
    ]
    assert a == b  # partitioning-invariant
    # weight bias: sampled docs skew longer than the corpus average
    avg_all = docs.agg(F.avg("n_chars")).collect()[0][0]
    avg_sample = (
        TX.weighted_sample_topk(docs, "n_chars", k=20)
        .agg(F.avg("weight"))
        .collect()[0][0]
    )
    assert avg_sample > avg_all


# --- length buckets ----------------------------------------------------------


def test_length_buckets_invariants(spark):
    docs = load_table(spark, SF, "documents")
    out = TX.length_bucket_batches(docs, batch_size=8).collect()
    for r in out:
        lo, hi = 2 ** r["bucket"], 2 ** (r["bucket"] + 1)
        assert lo <= r["n_tokens"] < hi  # bucket = floor(log2(n))
    # every (bucket, batch) holds at most batch_size docs
    from collections import Counter

    sizes = Counter((r["bucket"], r["batch_idx"]) for r in out)
    assert max(sizes.values()) <= 8
    # batches fill densely: only the last batch of a bucket may be partial
    for bkt in {b for b, _ in sizes}:
        batch_ids = sorted(i for b, i in sizes if b == bkt)
        assert batch_ids == list(range(len(batch_ids)))
        for i in batch_ids[:-1]:
            assert sizes[(bkt, i)] == 8


def test_paragraph_dedup_idempotent(spark):
    """After one dedup pass no cross-doc duplicate paragraphs remain, so
    a second pass over the rebuilt corpus must keep everything — the
    fixed-point property that makes the operator safe to re-run in a
    multi-stage pipeline."""
    docs = load_table(spark, SF, "documents")
    once = DD.paragraph_dedup(docs, k=10)
    rebuilt = once.where(F.col("n_kept") > 0).select(
        "doc_id", F.col("text_kept").alias("text")
    )
    twice = DD.paragraph_dedup(rebuilt, k=10)
    assert twice.where(F.col("n_kept") != F.col("n_paras")).count() == 0


# --- z-order layout ----------------------------------------------------------


def test_zorder_skips_more_files_than_natural_layout(spark, tmp_path):
    """The point of Z-ordering, measured: a 2-D box predicate over a
    z-ordered 16-file layout must touch fewer files than over the
    natural (unsorted) layout. File-level containment is the same
    min/max skipping parquet row-groups give, made observable via
    input_file_name()."""
    from martech_pipelines_spark.operators import layout as LY

    ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    z_path = str(tmp_path / "z_events")
    n_path = str(tmp_path / "n_events")
    LY.write_zordered(ev, z_path, "user_id", "value", n_files=16)
    ev.repartition(16).write.mode("overwrite").parquet(n_path)

    box = (
        (F.col("user_id") >= 10) & (F.col("user_id") <= 20)
        & (F.col("value") >= 100) & (F.col("value") <= 150)
    )

    def files_touched(path: str) -> int:
        return (
            spark.read.parquet(path)
            .where(box)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    z_files, n_files = files_touched(z_path), files_touched(n_path)
    # same answers either way
    z_rows = spark.read.parquet(z_path).where(box).count()
    n_rows = spark.read.parquet(n_path).where(box).count()
    assert z_rows == n_rows > 0
    # the skipping win: the box lives in a contiguous z-range, so only a
    # few of the 16 z-files contain it; round-robin spreads it everywhere
    assert z_files < n_files
    assert z_files <= 4, (z_files, n_files)


# --- leakage-safe split ------------------------------------------------------


def test_leakage_safe_split_never_straddles_pairs(spark):
    """The defining property, asserted directly: no near-dup pair may
    straddle splits, and all three splits must be non-empty."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
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
        .select("id", F.coalesce("cluster", F.col("id")).alias("cluster"))
    )
    bucket = TX.md5_bucket32(F.col("cluster").cast("string"), "split") % 100
    split = assigned.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )
    lookup = {r["id"]: r["split"] for r in split.collect()}
    pair_rows = pairs.collect()
    assert len(pair_rows) > 0
    for r in pair_rows:
        assert lookup[r["id_a"]] == lookup[r["id_b"]], (r["id_a"], r["id_b"])
    assert set(lookup.values()) == {"train", "val", "test"}


# --- HLL sketch maintenance --------------------------------------------------


def test_hll_merge_equals_full_and_estimates_within_5pct(spark):
    """Mergeability (the 100-TB property): union of per-batch sketches
    must equal the full-corpus sketch estimate exactly (deterministic
    sketches), and estimates stay within 5% of exact distinct."""
    from martech_pipelines_spark.operators import sketches as SK

    ev = load_table(spark, SF, "events").select("event_type", "ts", "user_id")
    full = SK.estimate_distinct(
        SK.distinct_sketch_table(ev, "event_type", "user_id")
    )
    cutoff = "2024-01-15 00:00:00"
    base = SK.distinct_sketch_table(
        ev.where(F.col("ts") < cutoff), "event_type", "user_id"
    )
    delta = SK.distinct_sketch_table(
        ev.where(F.col("ts") >= cutoff), "event_type", "user_id"
    )
    merged = SK.estimate_distinct(SK.merge_sketch_tables(base, delta, "event_type"))
    got = {r["event_type"]: r["approx_distinct"] for r in merged.collect()}
    want = {r["event_type"]: r["approx_distinct"] for r in full.collect()}
    assert got == want  # merged == full, exactly
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for et, est in got.items():
        assert abs(est - exact[et]) / exact[et] < 0.05, (et, est, exact[et])


# --- edge-case guards --------------------------------------------------------


def test_weighted_sample_excludes_nonpositive_weights(spark):
    """Zero/negative/null weights must never be sampled: their A-Res key
    is undefined, and an unguarded null key would sort FIRST ascending."""
    docs = spark.createDataFrame(
        [(1, 100), (2, 0), (3, -5), (4, None), (5, 50)],
        "doc_id long, w long",
    )
    got = {r["doc_id"] for r in TX.weighted_sample_topk(docs, "w", k=10).collect()}
    assert got == {1, 5}


def test_paragraph_chunks_rejects_nonpositive_k():
    import pytest as _pytest

    from pyspark.sql import functions as _F

    with _pytest.raises(ValueError):
        TX.paragraph_chunks(_F.col("x"), 0)


def test_constraint_check_rejects_empty_declaration(spark):
    import pytest as _pytest

    from martech_pipelines_spark.operators.transforms import constraint_check

    df = spark.range(3)
    with _pytest.raises(ValueError):
        constraint_check(df)


def test_scd2_snapshot_and_pit_join_exactly_one_version(spark):
    """Structural invariants of the temporal surface: a snapshot returns
    at most one version per key (exactly one for keys existing at T),
    and the PIT join matches every purchase to exactly one version."""
    from martech_pipelines_spark.plans import QUERIES

    snap = QUERIES["mart4b_scd2_snapshot"](spark, "/root/testdata/sf0.001")
    dup_keys = snap.groupBy("user_id").count().where(F.col("count") > 1).count()
    assert dup_keys == 0
    pit = QUERIES["mart6_pit_join"](spark, "/root/testdata/sf0.001")
    per_purchase = pit.groupBy("purchase_id").count()
    assert per_purchase.where(F.col("count") != 1).count() == 0
    assert pit.where(F.col("version_id").isNull()).count() == 0
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    n_purchases = ev.where(F.col("event_type") == "purchase").count()
    assert pit.count() == n_purchases
