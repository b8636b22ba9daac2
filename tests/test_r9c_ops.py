"""Round-9 wave-3 operator tests: k-core peeling, journey-state IVM,
churn-hazard censoring, and the dimension-truncation recall curve."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from martech_pipelines_spark.operators.graph import kcore_rounds
from martech_pipelines_spark.plans import QUERIES
from martech_pipelines_spark.operators.windows import (
    journey_merge,
    journey_readout,
    journey_state,
)

SF = "/root/testdata/sf0.001"


def _edges(spark, pairs):
    # undirected input -> both orientations (the copurchase_edges contract)
    both = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(both, "src long, dst long")


def test_kcore_peel_cascades(spark):
    # triangle {1,2,3} + chain 3-4-5.  k=2: round 1 drops 5 (deg 1),
    # round 2 drops 4 (its degree FELL to 1 when 5 left), round 3 keeps
    # the triangle at degree 2 — the cascade is the whole point of
    # recomputing degrees inside the survivor-induced subgraph.
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    out = {r["node"]: r["deg"] for r in kcore_rounds(e, k=2, rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_clique_survives_intact(spark):
    # 4-clique at k=3: nothing peels, every degree is 3
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    out = {r["node"]: r["deg"] for r in kcore_rounds(_edges(spark, clique), k=3, rounds=3).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )


def test_journey_merge_counts_boundary_spanning_funnel(spark):
    # view+click land before the cut, purchase after: only the MERGED
    # string contains the full v..c..p pattern — per-batch match counts
    # would report zero funnels for this user.
    t = datetime.datetime
    rows = [
        (1, 7, "view", t(2024, 1, 10)),
        (2, 7, "click", t(2024, 1, 12)),
        (3, 7, "purchase", t(2024, 1, 20)),
    ]
    ev = _events(spark, rows)
    cut = 1705276800000000  # 2024-01-15T00:00:00Z
    early, late = (
        ev.where(F.unix_micros("ts") < cut),
        ev.where(F.unix_micros("ts") >= cut),
    )
    # per-batch readouts: no funnel on either side
    for half in (early, late):
        got = journey_readout(journey_state(half)).collect()
        assert all(r["n_funnels"] == 0 for r in got)
    # merged state finds it (the fold h27 and the journey stream run)
    parts = journey_state(early).withColumn("batch_id", F.lit(0)).unionByName(
        journey_state(late).withColumn("batch_id", F.lit(1))
    )
    state = journey_merge(parts)
    [r] = journey_readout(state).collect()
    assert (r["n_events"], r["n_funnels"], r["did_convert"]) == (3, 1, 1)


def test_h27_equals_mart24(spark):
    # the IVM fold reproduces the full-recompute answer on real data
    full = sorted(map(tuple, QUERIES["mart24_journey_regex"](spark, SF).collect()))
    ivm = sorted(map(tuple, QUERIES["h27_incremental_journey"](spark, SF).collect()))
    assert ivm == full


def test_churn_hazard_invariants(spark):
    rows = QUERIES["mart25_churn_hazard"](spark, SF).collect()
    assert rows, "hazard table must not be empty"
    by_m = sorted(rows, key=lambda r: r["life_month"])
    # at-risk is a reverse cumulative count: nonincreasing in month, and
    # month 0's at-risk equals the full customer population
    at_risk = [r["n_at_risk"] for r in by_m]
    assert all(a >= b for a, b in zip(at_risk, at_risk[1:]))
    from martech_pipelines_spark.sources import load_table

    total = (
        load_table(spark, SF, "orders").select("o_custkey").distinct().count()
    )
    # the smallest bucket's at-risk covers the whole population
    assert by_m[0]["n_at_risk"] == total
    for r in rows:
        # censoring: never more events than customers at risk; hazard in [0, 1e6]
        assert 0 <= r["n_events"] <= r["n_at_risk"]
        assert 0 <= r["hazard_e6"] <= 1_000_000


def test_s31_full_dim_row_is_exact(spark):
    rows = {r["dim"]: r for r in QUERIES["s31_dim_truncation_recall"](spark, SF).collect()}
    assert set(rows) == {16, 32, 64}
    # full-dimension ranker vs itself: recall 1.0 by construction
    assert rows[64]["recall_e4"] == 10000 and rows[64]["hits"] == rows[64]["n_pairs"]
    for r in rows.values():
        assert 0 <= r["recall_e4"] <= 10000


def test_h28_equals_mart25(spark):
    # min/max survival state folded across a date split reproduces the
    # full-recompute hazard table
    full = sorted(map(tuple, QUERIES["mart25_churn_hazard"](spark, SF).collect()))
    ivm = sorted(map(tuple, QUERIES["h28_incremental_hazard"](spark, SF).collect()))
    assert ivm == full


def test_degree_histogram_buckets(spark):
    # star with 4 leaves: center degree 4 -> bucket 2, leaves degree 1
    # -> bucket 0 (length(bin(deg)) - 1 == floor(log2(deg)))
    e = _edges(spark, [(100, 1), (100, 2), (100, 3), (100, 4)])
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    hist = {
        r["deg_bucket"]: (r["n_nodes"], r["max_deg"])
        for r in deg.groupBy(
            F.expr("length(bin(deg)) - 1").cast("long").alias("deg_bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.max("deg").cast("long").alias("max_deg"),
        )
        .collect()
    }
    assert hist == {0: (4, 1), 2: (1, 4)}


def test_dd20_wider_shingles_separate_better_on_false_pairs(spark):
    rows = {r["w"]: r for r in QUERIES["dd20_shingle_width_separation"](spark, SF).collect()}
    assert set(rows) == {2, 3, 5}
    for r in rows.values():
        # near-dup twins must score far above unrelated docs at every width
        assert r["mean_true_e4"] > r["mean_false_e4"]
        assert r["n_true"] > 0 and r["n_false"] > 0
    # unrelated-pair similarity falls (weakly) as shingles widen — the
    # reason wider shingles exist
    assert rows[2]["mean_false_e4"] >= rows[3]["mean_false_e4"] >= rows[5]["mean_false_e4"]


def test_pipe13_recrawl_source_collapses(spark):
    rows = {r["source"]: r for r in QUERIES["pipe13_dedup_mixture_shift"](spark, SF).collect()}
    rc = rows.pop("recrawl")
    # every injected copy loses to its original (min doc_id wins)
    assert rc["n_kept"] == 0 and rc["share_post_e6"] == 0 and rc["shift_e6"] < 0
    # organic sources: nothing removed, share rises
    for r in rows.values():
        assert r["n_kept"] == r["n_docs"] and r["shift_e6"] > 0
    # post-dedup shares are a probability vector over organic sources
    assert abs(sum(r["share_post_e6"] for r in rows.values()) - 1_000_000) <= len(rows)


def test_h29_equals_t52(spark):
    # vocab state folded across an id split reproduces the Heaps curve
    full = sorted(map(tuple, QUERIES["t52_vocab_growth"](spark, SF).collect()))
    ivm = sorted(map(tuple, QUERIES["h29_incremental_vocab"](spark, SF).collect()))
    assert ivm == full


def test_t52_curve_invariants(spark):
    rows = sorted(
        QUERIES["t52_vocab_growth"](spark, SF).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(10))
    # cumulatives are nondecreasing; vocab never grows faster than tokens
    for a, b in zip(rows, rows[1:]):
        assert b["toks_cum"] >= a["toks_cum"] and b["vocab_cum"] >= a["vocab_cum"]
    for r in rows:
        assert r["vocab_cum"] <= r["toks_cum"]
    # every decile-0 token is "new" by construction
    assert rows[0]["vocab_new"] == rows[0]["vocab_cum"] > 0


def test_dq15_burn_curve_invariants(spark):
    rows = sorted(
        QUERIES["dq15_error_budget"](spark, SF).collect(), key=lambda r: r["day_s"]
    )
    assert rows
    cum = 0
    for r in rows:
        assert 0 <= r["n_errors"] <= r["n_events"]
        assert r["breach"] in (0, 1)
        assert r["breach"] == (1 if r["err_share_e6"] > 210_000 else 0)
        cum += r["breach"]
        assert r["breaches_cum"] == cum


def test_mart26_bounce_bounded_and_complete(spark):
    rows = QUERIES["mart26_bounce_rate"](spark, SF).collect()
    # every session has exactly one entry row: totals match the session count
    from martech_pipelines_spark.plans import QUERIES as Q

    n_sessions = (
        Q["r35_sessionize"](spark, SF)
        .groupBy("user_id")
        .agg(F.max("session_seq").alias("m"))
        .agg(F.sum("m"))
        .first()[0]
    )
    assert sum(r["n_sessions"] for r in rows) == n_sessions
    for r in rows:
        assert 0 <= r["n_bounces"] <= r["n_sessions"]
        assert 0 <= r["bounce_e6"] <= 1_000_000


def test_dd21_s_curve_monotonicity(spark):
    # more bands with shorter rows => (weakly) more candidates, higher
    # recall, lower-or-equal precision: the S-curve direction itself
    rows = sorted(
        QUERIES["dd21_lsh_band_tradeoff"](spark, SF).collect(),
        key=lambda r: r["bands"],
    )
    assert [(r["bands"], r["rows_per_band"]) for r in rows] == [(2, 8), (4, 4), (8, 2)]
    for a, b in zip(rows, rows[1:]):
        assert b["n_candidates"] >= a["n_candidates"]
        assert b["recall_e4"] >= a["recall_e4"]
    for r in rows:
        assert r["n_true_found"] <= r["n_true_total"]
        assert r["n_true_found"] <= r["n_candidates"]


def test_mart27_segments_partition_mart23(spark):
    # the per-segment grid must fold back to the aggregate 2x2 exactly
    seg = QUERIES["mart27_ab_by_segment"](spark, SF).collect()
    agg = QUERIES["mart23_ab_lift"](spark, SF).first()
    assert len(seg) == 3
    for col in ("n_c", "n_t", "conv_c", "conv_t"):
        assert sum(r[col] for r in seg) == agg[col]


def test_t53_burstiness_arithmetic(spark):
    rows = QUERIES["t53_token_burstiness"](spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        # df docs contributed cf occurrences; max within [cf/df, cf]
        assert 1 <= r["df"] and r["df"] <= r["cf"]
        assert r["max_c"] * r["df"] >= r["cf"] >= r["max_c"]
        # VMR >= 0 always; == 0 iff every doc has the identical count
        assert r["vmr_e4"] >= 0
        if r["max_c"] * r["df"] == r["cf"]:
            assert r["vmr_e4"] == 0
