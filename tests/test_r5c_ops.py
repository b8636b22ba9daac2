"""Round-5c operators: Count-Min sketch, mergeable histogram, Markov
transitions, gaps-and-islands, exact MIPS + augmentation reduction,
Bloom pre-filter, stream-stream lookback join — semantics + plan shape
+ mergeability/error-bound gates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from martech_pipelines_spark.operators import dedup as DD
from martech_pipelines_spark.operators import similarity as SIM
from martech_pipelines_spark.operators import sketches as SK
from martech_pipelines_spark.operators.text import tokens
from martech_pipelines_spark.plans import QUERIES
from martech_pipelines_spark.sources import load_table
from tests.test_plans import plan_of

SF = "/root/testdata/sf0.001"


def _docs_tokens(spark):
    docs = load_table(spark, SF, "documents")
    return docs.select(F.explode(tokens(F.col("text"))).alias("token"))


# --- Count-Min sketch --------------------------------------------------------


def test_countmin_merge_equals_full_sketch(spark):
    """sketch(A) + sketch(B) == sketch(A ∪ B), cell for cell — the
    mergeable-state property that makes the sketch IVM-able."""
    docs = load_table(spark, SF, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)

    def toks(df):
        return df.select(F.explode(tokens(F.col("text"))).alias("token"))

    merged = SK.countmin_merge(
        SK.countmin_sketch(toks(a)), SK.countmin_sketch(toks(b))
    )
    full = SK.countmin_sketch(toks(docs))
    m = {(r["r"], r["c"]): r["cnt"] for r in merged.collect()}
    f = {(r["r"], r["c"]): r["cnt"] for r in full.collect()}
    assert m == f and len(f) > 0


def test_countmin_estimate_one_sided_error(spark):
    """CMS never underestimates: est >= exact for EVERY token, and the
    total overestimate mass is bounded by the collision structure."""
    tk = _docs_tokens(spark)
    exact = tk.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    sketch = SK.countmin_sketch(tk)
    est = SK.countmin_estimate(sketch, exact.select("token"), "token")
    bad = est.join(exact, "token").where(
        F.col("cms_est") < F.col("exact_cnt")
    )
    assert bad.count() == 0


def test_countmin_exact_when_no_collision(spark):
    """A width larger than the vocabulary on a tiny stream gives exact
    counts with high probability; verify on a hand-built stream where we
    can assert per-token equality."""
    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
    tk = spark.createDataFrame(rows, "token string")
    sketch = SK.countmin_sketch(tk, depth=4, width=4096)
    est = SK.countmin_estimate(
        sketch, tk.select("token").distinct(), "token", depth=4, width=4096
    )
    got = {r["token"]: r["cms_est"] for r in est.collect()}
    assert got == {"a": 5, "b": 3, "c": 1}


def test_t30_sketch_shuffle_is_cell_bounded(spark):
    """The sketch build aggregates BEFORE the exchange (partial
    HashAggregate), so the shuffle carries cells, not token
    occurrences."""
    plan = plan_of(SK.countmin_sketch(_docs_tokens(spark)))
    assert "HashAggregate" in plan and "Exchange" in plan
    # partial agg appears below the exchange: two HashAggregate nodes
    assert plan.count("HashAggregate") >= 2


# --- mergeable histogram -----------------------------------------------------


def test_histogram_merge_equals_full(spark):
    li = load_table(spark, SF, "lineitem")
    a = li.where(F.col("l_orderkey") % 2 == 0)
    b = li.where(F.col("l_orderkey") % 2 == 1)
    args = ("l_extendedprice", 0.0, 120000.0, 48)
    merged = SK.histogram_merge(
        SK.histogram_sketch(a, *args), SK.histogram_sketch(b, *args)
    )
    full = SK.histogram_sketch(li, *args)
    assert {(r["bin"], r["cnt"]) for r in merged.collect()} == {
        (r["bin"], r["cnt"]) for r in full.collect()
    }


def test_histogram_percentile_bins_rank_contract(spark):
    """The reported bin is the FIRST whose cumulative count covers
    ceil(p*total): cum >= need, and the previous cum (cum - bin cnt)
    is below need."""
    li = load_table(spark, SF, "lineitem")
    hist = SK.histogram_sketch(li, "l_extendedprice", 0.0, 120000.0, 48)
    out = SK.histogram_percentile_bins(hist, [0.5, 0.9, 0.99], 0.0, 120000.0, 48)
    rows = {r["pct"]: r for r in out.collect()}
    cnts = {r["bin"]: r["cnt"] for r in hist.collect()}
    assert set(rows) == {0.5, 0.9, 0.99}
    import math

    for p, r in rows.items():
        need = math.ceil(p * r["total_cnt"])
        assert r["cum_cnt"] >= need
        assert r["cum_cnt"] - cnts[r["bin"]] < need
        assert r["bin_hi"] - r["bin_lo"] == 2500


def test_histogram_clamps_out_of_range(spark):
    df = spark.createDataFrame([(-5.0,), (0.0,), (99.9,), (100.0,), (250.0,)], "v double")
    hist = {r["bin"]: r["cnt"] for r in SK.histogram_sketch(df, "v", 0.0, 100.0, 10).collect()}
    assert hist[0] == 2  # -5 clamps in, 0.0 lands in bin 0
    assert hist[9] == 3  # 99.9 natural + 100.0 and 250.0 clamp to last


# --- Markov transitions ------------------------------------------------------


def test_mart9_per_mille_sums_to_at_most_1000(spark):
    out = QUERIES["mart9_transition_matrix"](spark, SF)
    sums = out.groupBy("src_type").agg(F.sum("per_mille").alias("s")).collect()
    # floor division: each source row sums to 1000 - (rounding loss < n_dst)
    for r in sums:
        assert 995 <= r["s"] <= 1000


def test_mart9_hand_sequence(spark):
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10, "view", 0.0, None),
            (2, "2024-01-01 00:01:00", 10, "click", 0.0, None),
            (3, "2024-01-01 00:02:00", 10, "view", 0.0, None),
            (4, "2024-01-01 00:00:30", 20, "view", 0.0, None),
            (5, "2024-01-01 00:03:00", 20, "purchase", 1.0, None),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = {
            (r["src_type"], r["dst_type"]): (r["n"], r["per_mille"])
            for r in QUERIES["mart9_transition_matrix"](spark, d).collect()
        }
    assert out[("view", "click")] == (1, 500)
    assert out[("click", "view")] == (1, 1000)
    assert out[("view", "purchase")] == (1, 500)
    assert len(out) == 3


# --- gaps-and-islands --------------------------------------------------------


def test_r21_hand_built_streaks(spark):
    orders = spark.createDataFrame(
        [
            # cust 1: 3-day streak + isolated day
            (1, 1, "2024-01-01"), (2, 1, "2024-01-02"), (3, 1, "2024-01-03"),
            (4, 1, "2024-02-01"),
            # duplicate same-day order must not break the streak
            (5, 1, "2024-01-02"),
            # cust 2: single day
            (6, 2, "2024-03-05"),
        ],
        "o_orderkey long, o_custkey long, d string",
    ).select(
        "o_orderkey", "o_custkey",
        F.to_timestamp("d").alias("o_orderdate"),
        F.lit("O").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        orders.write.mode("overwrite").parquet(f"{d}/orders.parquet")
        got = {
            r["o_custkey"]: (r["n_days"], r["n_islands"], r["longest_streak"])
            for r in QUERIES["r21_order_streaks"](spark, d).collect()
        }
    assert got[1] == (4, 2, 3)
    assert got[2] == (1, 1, 1)


def test_r21_single_shuffle_partitioning(spark):
    """Window and both aggs share the o_custkey partitioning: exactly
    one hashpartitioning exchange on o_custkey in the plan."""
    plan = plan_of(QUERIES["r21_order_streaks"](spark, SF))
    import re

    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len([l for l in exchanges if "o_custkey" in l]) == len(exchanges)


# --- MIPS --------------------------------------------------------------------


def test_mips_augmentation_preserves_ranking(spark):
    """Cosine top-k over the augmented vectors == dot-product top-k over
    the originals (the Bachrach/ALSH reduction), query for query."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.mips_topk(queries, emb, k=5)
    c_aug, q_aug = SIM.augment_for_mips(emb, queries)
    via_cosine = SIM.brute_force_topk(q_aug, c_aug, k=5, round_dp=6)
    a = {(r["query_id"], r["rnk"]): r["vec_id"] for r in exact.collect()}
    b = {(r["query_id"], r["rnk"]): r["vec_id"] for r in via_cosine.collect()}
    assert a == b and len(a) > 0


def test_mips_differs_from_cosine_on_scaled_vectors(spark):
    """Sanity that MIPS is a DIFFERENT problem: scaling a vector changes
    its dot-product rank but not its cosine rank."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [10.0, 0.0]),   # same direction, bigger norm
        (3, [0.0, 1.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(100, [1.0, 0.1])], "query_id long, embedding array<double>")
    mips = SIM.mips_topk(q, corpus, k=1).collect()[0]
    cos = SIM.brute_force_topk(q, corpus, k=2).collect()
    assert mips["vec_id"] == 2
    # cosine ties ids 1 and 2 (same direction) and breaks by id
    assert [r["vec_id"] for r in cos] == [1, 2]


@pytest.mark.parametrize(
    "kernel", ["brute_force_topk", "brute_force_topk_arrow", "exact_rerank"]
)
def test_cosine_topk_ties_to_lowest_id_and_skips_zero_norm(spark, kernel):
    """The ranking contract every cosine kernel shares: equal rounded
    cosines rank by the lowest corpus id, and a zero-norm vector (corpus
    or query side) has a NULL cosine and is never returned."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [10.0, 0.0]),  # same direction as 1: a cosine tie
            (3, [0.0, 1.0]),
            (4, [0.0, 0.0]),  # zero norm
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.1]), (101, [0.0, 0.0])],
        "query_id long, embedding array<double>",
    )
    fn = getattr(SIM, kernel)
    if kernel == "exact_rerank":
        pairs = q.select("query_id").crossJoin(corpus.select("vec_id"))
        out = fn(pairs, q, corpus, k=4)
    else:
        out = fn(q, corpus, k=4)
    got = sorted(
        (r["query_id"], r["rnk"], r["vec_id"], r["cos_sim"]) for r in out.collect()
    )
    assert [(qid, rnk, vid) for qid, rnk, vid, _ in got] == [
        (100, 1, 1), (100, 2, 2), (100, 3, 3)
    ]
    assert got[0][3] == got[1][3] == 0.995
    assert dict(out.dtypes)["rnk"] == "bigint"


def test_s11_no_corpus_shuffle(spark):
    """Queries broadcast; the only exchange feeds the per-query window
    (hashpartitioning on query_id), never the corpus scan."""
    plan = plan_of(QUERIES["s11_mips_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "query_id" in line


# --- Bloom pre-filter --------------------------------------------------------


def test_bloom_no_false_negatives(spark):
    """Every key inserted at build time probes as a hit — the one-sided
    guarantee the exact-verify join's correctness rests on."""
    keys = spark.range(200).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    bloom = DD.bloom_build(keys, "key")
    probed = DD.bloom_probe(keys, bloom, "key")
    assert probed.where(~F.col("bloom_hit")).count() == 0


def test_bloom_rejects_most_non_members_and_fp_rate_sane(spark):
    """Non-member keys mostly miss; observed FP rate stays within 4x the
    theoretical (1 - e^{-kn/m})^k for n=200, k=3, m=4096 (~0.3%)."""
    build = spark.range(200).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    probe = spark.range(5000).select(
        F.concat(F.lit("other"), F.col("id")).alias("key")
    )
    bloom = DD.bloom_build(build, "key")
    fp = DD.bloom_probe(probe, bloom, "key").where(F.col("bloom_hit")).count()
    import math

    theo = (1 - math.exp(-3 * 200 / 4096)) ** 3
    assert fp / 5000 <= max(4 * theo, 0.02)


def test_dd13_true_dups_found_by_prefilter(spark):
    """Planted cross-corpus duplicate is counted as a true dup, and
    n_true_dups <= n_bloom_hits always (verify only runs on hits)."""
    import tempfile

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox", "en", "src0", 19),
            (2, "totally different text", "en", "src1", 22),
            (3, "The  quick BROWN fox!", "en", "src15", 21),  # dup of 1
            (4, "unique probe document", "en", "src15", 21),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r["source"]: r for r in QUERIES["dd13_bloom_prefilter"](spark, d).collect()}
    r = out["src15"]
    assert r["n_probe"] == 2
    assert r["n_true_dups"] == 1
    assert r["n_bloom_hits"] >= r["n_true_dups"]
    assert r["n_false_positives"] == r["n_bloom_hits"] - r["n_true_dups"]


def test_dd13_bloom_is_single_broadcast_row(spark):
    """The filter travels as ONE collect_set row through a broadcast —
    no position-table shuffle onto the probe side."""
    docs = load_table(spark, SF, "documents")
    src_no = F.substring("source", 4, 10).cast("long")
    from martech_pipelines_spark.operators.dedup import bloom_build, bloom_probe
    from martech_pipelines_spark.operators.text import fingerprint

    fps = docs.where(src_no < 10).select(fingerprint(F.col("text")).alias("fp"))
    bloom = bloom_build(fps, "fp")
    probed = bloom_probe(
        docs.where(src_no >= 10).withColumn("fp", fingerprint(F.col("text"))),
        bloom,
        "fp",
    )
    plan = plan_of(probed)
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bits x probe side


# --- stream-stream lookback join --------------------------------------------


def test_w5_stream_equals_batch(spark, tmp_path):
    """The watermarked stream-stream lookback join emits exactly the
    batch twin's rows once all files are processed."""
    from martech_pipelines_spark.streaming.stream import (
        run_stream_to_memory,
        stream_events_source,
        streaming_click_purchase_join,
    )

    import shutil

    d = tmp_path / "w5_stream"
    d.mkdir()
    # one file = one micro-batch: the equality under MULTI-batch
    # out-of-order arrival (where the watermark may legitimately drop
    # rows) is w4_late_data_admission's contract, not this test's
    shutil.copy(f"{SF}/events.parquet", d / "part-000.parquet")
    c = stream_events_source(spark, str(d)).where(F.col("event_type") == "click")
    p = stream_events_source(spark, str(d)).where(F.col("event_type") == "purchase")
    joined = streaming_click_purchase_join(c, p, window_minutes=60)
    q = run_stream_to_memory(joined, "w5_mem", "append", str(tmp_path / "ck_w5"))
    try:
        q.processAllAvailable()
        got = {
            (r["purchase_id"], r["click_id"])
            for r in spark.sql("SELECT * FROM w5_mem").collect()
        }
    finally:
        q.stop()
    want = {
        (r["purchase_id"], r["click_id"])
        for r in QUERIES["w5_click_purchase_join"](spark, SF).collect()
    }
    assert got == want and len(want) > 0


def test_w5_batch_plan_is_equi_join(spark):
    """The time bound is a residual on a user-keyed hash join — no
    cartesian / nested-loop anywhere."""
    plan = plan_of(QUERIES["w5_click_purchase_join"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
