"""Round-12 tests: the s32b fixed-|Q| agreement twin (VERDICT r11 #2)
and the h7b deterministic-HLL register maintenance twin (VERDICT r11 #4)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from martech_pipelines_spark.plans import QUERIES
from martech_pipelines_spark.plans.corpus_r10 import (
    sparse_topk_readout,
    trigram_tf_state,
)
from martech_pipelines_spark.operators.sketches import (
    _HLL_M,
    _HLL_WBITS,
)
from martech_pipelines_spark.operators.sketches import (
    hll_merge as _hll_merge,
    hll_registers as _hll_registers,
)
from martech_pipelines_spark.sources import load_table

SF0001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.1"


def test_s32b_query_set_is_bounded(spark):
    """The whole point of the twin: the overlap histogram covers at
    most the 500 pinned query docs at EVERY tier (|Q| constant while
    the corpus scales 10x), with overlap values in [0, 5]."""
    for sf in (SF0001, SF01):
        rows = QUERIES["s32b_lexical_dense_agreement_fixedq"](spark, sf).collect()
        total = sum(r["n_docs"] for r in rows)
        assert 0 < total <= 500, (sf, total)
        assert all(0 <= r["overlap"] <= 5 for r in rows), (sf, rows)


def test_s32b_df_cap_inactive_on_testdata(spark):
    """'Only the query predicate and cap differ' — and on the shipped
    testdata the cap is INACTIVE (max trigram df ~25), so the capped
    sparse readout must equal the uncapped one row-for-row.  This pins
    that s32b diverges from s32 only in the query set here, while the
    cap remains the documented 100-TB lever."""
    docs = load_table(spark, SF0001, "documents")
    tf = trigram_tf_state(docs)
    capped = {tuple(r) for r in sparse_topk_readout(tf, df_cap=50).collect()}
    uncapped = {tuple(r) for r in sparse_topk_readout(tf, df_cap=1000).collect()}
    assert capped == uncapped and capped


def _py_registers(pairs):
    """Pure-Python reference for the deterministic HLL register table:
    pairs = iterable of (event_type, user_id)."""
    regs: dict[tuple[str, int], int] = {}
    for et, uid in set(pairs):
        h = int(hashlib.md5(f"hll:{uid}".encode()).hexdigest()[:8], 16)
        idx = h >> _HLL_WBITS
        w = h & ((1 << _HLL_WBITS) - 1)
        rho = (_HLL_WBITS + 1) if w == 0 else (_HLL_WBITS + 1 - w.bit_length())
        key = (et, idx)
        regs[key] = max(regs.get(key, 0), rho)
    return regs


def test_h7b_registers_match_pure_python(spark):
    """The Spark register build (md5 -> conv -> bin-length rho -> keyed
    max) must agree cell-for-cell with an independent pure-Python
    recompute over the same events — the determinism contract that
    makes the DuckDB oracle possible."""
    ev = load_table(spark, SF0001, "events").select("event_type", "user_id")
    got = {
        (r["event_type"], r["reg_idx"]): r["reg_val"]
        for r in _hll_registers(ev).collect()
    }
    want = _py_registers((r["event_type"], r["user_id"]) for r in ev.collect())
    assert got == want and got


def test_h7b_merge_equals_sketch_of_union(spark):
    """merge(sketch(A), sketch(B)) == sketch(A∪B) — by max
    associativity — on a split DIFFERENT from the query's watermark
    (user-id parity), so the property is pinned independently of the
    oracle run."""
    ev = load_table(spark, SF0001, "events").select("event_type", "user_id")
    a = ev.where(F.col("user_id") % 2 == 0)
    b = ev.where(F.col("user_id") % 2 == 1)
    merged = {
        tuple(r) for r in _hll_merge(_hll_registers(a), _hll_registers(b)).collect()
    }
    full = {tuple(r) for r in _hll_registers(ev).collect()}
    assert merged == full and merged


def test_h7b_estimate_error_gate(spark):
    """The raw HLL estimate (no corrections, m=32, sigma ~ 1.04/sqrt(32)
    ~ 18.4%) must land within a 3-sigma-ish gate of the exact distinct
    count — widened by the documented small-range bias: with NO linear-
    counting correction the estimator cannot go below ~alpha*m = 22, so
    for n << m the absolute gate is alpha*m-sized, not relative."""
    out = QUERIES["h7b_incremental_hll_registers"](spark, SF0001)
    est = {
        r["event_type"]: r["hll_raw_est"]
        for r in out.select("event_type", "hll_raw_est").distinct().collect()
    }
    ev = load_table(spark, SF0001, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact) and est
    for et, n in exact.items():
        assert abs(est[et] - n) <= max(0.6 * n, 23) + 2, (et, est[et], n)


def test_h7b_register_frame_is_dense(spark):
    """Every (event_type, reg_idx 0..31) cell reports, absent registers
    as 0 — the fixed 32-rows-per-key state contract."""
    out = QUERIES["h7b_incremental_hll_registers"](spark, SF0001).collect()
    types = {r["event_type"] for r in out}
    assert len(out) == _HLL_M * len(types)
    idxs = {r["reg_idx"] for r in out}
    assert idxs == set(range(_HLL_M))


def _py_theta_setops(pairs_iter, k=64):
    """Pure-Python reference for kmv_theta_setops over (type, user)
    pairs: returns {(t1,t2): (inter_est, union_est, jaccard_e6)}."""
    M = 4_294_967_296
    sets: dict[str, set[int]] = {}
    for et, uid in set(pairs_iter):
        h = int(hashlib.md5(f"kmv:{uid}".encode()).hexdigest()[:8], 16) + 1
        sets.setdefault(et, set()).add(h)
    sk = {t: sorted(hs)[:k] for t, hs in sets.items()}
    theta = {t: (M + 1 if len(s) < k else s[-1]) for t, s in sk.items()}
    out = {}
    for t1 in sorted(sk):
        for t2 in sorted(sk):
            if t1 >= t2:
                continue
            th = min(theta[t1], theta[t2])
            a = {h for h in sk[t1] if h < th}
            b = {h for h in sk[t2] if h < th}
            c, u = len(a & b), len(a | b)
            if th == M + 1:
                ie, ue = c, u
            else:
                ie = (2 * c * M + th) // (2 * th)
                ue = (2 * u * M + th) // (2 * th)
            j = (2 * c * 1_000_000 + u) // (2 * u) if u else 0
            out[(t1, t2)] = (ie, ue, j)
    return out


def test_r41_matches_pure_python(spark):
    """The Spark theta readout (sketch build -> broadcast pair table ->
    retained-count joins -> half-up scaling) must agree cell-for-cell
    with an independent pure-Python recompute — the determinism contract
    behind the shared r41/h39 oracle."""
    ev = load_table(spark, SF0001, "events").select("event_type", "user_id")
    got = {
        (r["t1"], r["t2"]): (
            r["kmv_inter_est"], r["kmv_union_est"], r["sample_jaccard_e6"]
        )
        for r in QUERIES["r41_kmv_setops"](spark, SF0001).collect()
    }
    want = _py_theta_setops(
        (r["event_type"], r["user_id"]) for r in ev.collect()
    )
    assert got == want and got


def test_h39_equals_r41(spark):
    """merge-of-sketches == sketch-of-union propagates through the
    theta readout: the incremental form must return the identical
    report."""
    a = {tuple(r) for r in QUERIES["r41_kmv_setops"](spark, SF0001).collect()}
    b = {
        tuple(r)
        for r in QUERIES["h39_incremental_kmv_setops"](spark, SF0001).collect()
    }
    assert a == b and a


def test_r41_theta_estimates_within_gate(spark):
    """Sketch-regime estimates (k=64, sigma ~ 1/sqrt(64) = 12.5%) land
    within a 3-sigma-ish gate of the exact anchors carried in the same
    report rows."""
    rows = QUERIES["r41_kmv_setops"](spark, SF0001).collect()
    assert rows
    for r in rows:
        for est, exact in (
            (r["kmv_inter_est"], r["exact_inter"]),
            (r["kmv_union_est"], r["exact_union"]),
        ):
            assert abs(est - exact) <= 0.4 * exact + 2, (tuple(r),)


def test_theta_setops_disjoint_and_subset(spark):
    """Hand frames: disjoint audiences estimate ~0 intersection; a
    subset audience's intersection estimate equals its own size
    estimate (every retained hash is common)."""
    from martech_pipelines_spark.operators import sketches as SK

    rows = [("A", i) for i in range(200)] + [("B", i + 10_000) for i in range(200)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    sk = SK.kmv_sketch_table(df, "event_type", "user_id", k=64)
    out = SK.kmv_theta_setops(sk, "event_type", k=64).collect()
    assert len(out) == 1 and out[0]["kmv_inter_est"] == 0
    assert out[0]["sample_jaccard_e6"] == 0

    rows = [("A", i) for i in range(300)] + [("B", i) for i in range(120)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    sk = SK.kmv_sketch_table(df, "event_type", "user_id", k=64)
    out = SK.kmv_theta_setops(sk, "event_type", k=64).collect()[0]
    # B subset of A: retained-common == retained-B, so inter == B's
    # estimate under the shared theta; union == A's
    assert out["kmv_inter_est"] <= out["kmv_union_est"]
    assert out["kmv_inter_est"] > 0
    py = _py_theta_setops(rows, k=64)[("A", "B")]
    assert (out["kmv_inter_est"], out["kmv_union_est"],
            out["sample_jaccard_e6"]) == py


def test_t61_hand_case(spark, tmp_path):
    """Hand corpus with known tf/df: 3 docs — 'rare' appears twice in
    doc 0 only (tf=2, df=1 -> score 2*3/1 = 6e6), 'common' once
    everywhere (1*3/3 = 1e6).  Top-3 ranks follow score desc, term
    asc."""
    rows = [
        (0, "rare rare common alpha"),
        (1, "common alpha beta"),
        (2, "common beta beta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path / "sf_t61")
    df.coalesce(1).write.mode("overwrite").parquet(f"{root}/documents.parquet")
    got = {
        (r["doc_id"], r["term"]): (r["tfidf_e6"], r["rnk"])
        for r in QUERIES["t61_tfidf_keywords"](spark, root).collect()
    }
    # doc 0: rare 6e6, alpha 1*3/2=1.5e6, common 1e6
    assert got[(0, "rare")] == (6_000_000, 1)
    assert got[(0, "alpha")] == (1_500_000, 2)
    assert got[(0, "common")] == (1_000_000, 3)
    # doc 2: beta tf=2 df=2 -> 3e6 rank 1; common 1e6 rank 2; no 3rd term
    assert got[(2, "beta")] == (3_000_000, 1)
    assert got[(2, "common")] == (1_000_000, 2)
    assert (2, "alpha") not in got and len(got) == 8


def test_r31c_estimates_within_gate_of_exact(spark):
    """Every day's KMV rolling estimate lands within a 3-sigma-ish gate
    (k=64, sigma ~ 12.5%) of the exact curve carried in the same row."""
    rows = QUERIES["r31c_rolling_active_kmv"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert abs(r["kmv_active_est"] - r["active_users"]) <= (
            0.4 * r["active_users"] + 2
        ), (r["day"], r["kmv_active_est"], r["active_users"])


def test_r31c_window_merge_equals_direct_window_sketch(spark):
    """The fan-out + k-smallest re-merge must equal sketching each
    7-day window's user set DIRECTLY (k smallest of a union = k
    smallest of the unions' k-smallest) — the property that makes the
    per-day sketch table valid IVM state for ANY window."""
    from martech_pipelines_spark.operators import sketches as SK

    ev = load_table(spark, SF0001, "events")
    ud = ev.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "user_id"
    ).distinct()
    # direct: assign each (day,user) to every report day it covers,
    # THEN sketch per report day
    fan_users = (
        ud.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("__i"),
            "day",
            "user_id",
        )
        .select(F.date_add("day", F.col("__i")).alias("day"), "user_id")
        .join(ud.select("day").distinct(), "day", "left_semi")
    )
    direct = {
        tuple(r)
        for r in SK.kmv_sketch_table(fan_users, "day", "user_id", k=64).collect()
    }
    # engine path: per-day sketches, fan out, re-merge k smallest
    from pyspark.sql import Window

    sk = SK.kmv_sketch_table(ud, "day", "user_id", k=64)
    fan = (
        sk.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("__i"), "day", "h"
        )
        .select(F.date_add("day", F.col("__i")).alias("day"), "h")
        .join(ud.select("day").distinct(), "day", "left_semi")
        .distinct()
    )
    w = Window.partitionBy("day").orderBy(F.col("h").asc())
    merged = {
        tuple(r)
        for r in fan.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 64)
        .drop("__rn")
        .collect()
    }
    assert merged == direct and merged


def test_h40_equals_t61(spark):
    """Union-of-batch-states + additive doc count through the shared
    readout == the full recompute (the IVM proof, complementing the
    shared oracle)."""
    a = {tuple(r) for r in QUERIES["t61_tfidf_keywords"](spark, SF0001).collect()}
    b = {tuple(r) for r in QUERIES["h40_incremental_tfidf"](spark, SF0001).collect()}
    assert a == b and a


def test_s37_hand_shift(spark, tmp_path):
    """Hand frame: old batch (even ids) at +1.0 on dim 1, new (odd) at
    +1.1 — every vector in cell 15 (all dims positive), dim-1 shift
    exactly 0.1 (100000 e6, above the 0.05 flag), dims 2-4 shift 0."""
    rows = []
    for i in range(10):
        v = 1.0 if i % 2 == 0 else 1.1
        rows.append((i, [v, 0.5, 0.5, 0.5], 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    root = str(tmp_path / "sf_s37")
    df.coalesce(1).write.mode("overwrite").parquet(f"{root}/embeddings.parquet")
    got = {
        (r["cell"], r["dim"]): (r["mshift_e6"], r["reindex_flag"])
        for r in QUERIES["s37_centroid_shift"](spark, root).collect()
    }
    assert got[(15, 1)] == (100_000, True)
    for d in (2, 3, 4):
        assert got[(15, d)] == (0, False)
    assert len(got) == 4


def test_s37_no_shift_on_identical_halves(spark, tmp_path):
    """Identical distributions in both halves -> zero shift, no flags."""
    rows = [(i, [0.3, -0.2, 0.7, -0.9], 0) for i in range(8)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    root = str(tmp_path / "sf_s37b")
    df.coalesce(1).write.mode("overwrite").parquet(f"{root}/embeddings.parquet")
    out = QUERIES["s37_centroid_shift"](spark, root).collect()
    assert out and all(r["mshift_e6"] == 0 and not r["reindex_flag"] for r in out)


def test_pipe16_quota_and_determinism(spark):
    """Per-topic: n_val == floor(n_docs * 20 / 100), val + train ==
    n_docs, every doc appears in exactly one stratum, and two runs are
    identical (md5 rank, no RNG)."""
    out1 = QUERIES["pipe16_topic_stratified_holdout"](spark, SF0001).collect()
    out2 = QUERIES["pipe16_topic_stratified_holdout"](spark, SF0001).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2)) and out1
    n_total = sum(r["n_docs"] for r in out1)
    docs = load_table(spark, SF0001, "documents").count()
    assert n_total == docs  # every doc got exactly one topic stratum
    for r in out1:
        assert r["n_val"] == r["n_docs"] * 20 // 100, tuple(r)
        assert r["n_val"] + r["n_train"] == r["n_docs"], tuple(r)
