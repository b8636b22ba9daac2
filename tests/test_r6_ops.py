"""Round-6 operator tests: integer-exact linalg extensions (label
centroids, mergeable covariance moments) and the support-thresholded
triangle twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from martech_pipelines_spark.operators import graph as G
from martech_pipelines_spark.operators import linalg as LA
from martech_pipelines_spark.plans import QUERIES
from martech_pipelines_spark.sources import load_table

SF = "/root/testdata/sf0.01"


# --- label centroids ---------------------------------------------------------


def test_label_centroids_match_numpy_mean(spark):
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("label", "embedding").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r["embedding"])
    got = {
        (r["label"], r["dim"]): r["centroid"]
        for r in LA.embedding_label_centroids(emb).collect()
    }
    for label, vecs in by_label.items():
        mean = np.asarray(vecs, dtype="float64").mean(axis=0)
        for d in range(len(mean)):
            # quantization moves each value by <= 5e-7, so the mean by
            # <= 5e-7 too; rounding at 6 dp adds <= 5e-7
            assert abs(got[(label, d)] - mean[d]) < 2e-6, (label, d)


def test_label_centroids_partition_invariant(spark):
    emb = load_table(spark, SF, "embeddings")
    baseline = sorted(
        tuple(r) for r in LA.embedding_label_centroids(emb).collect()
    )
    for nparts in (1, 7):
        got = sorted(
            tuple(r)
            for r in LA.embedding_label_centroids(
                emb.repartition(nparts)
            ).collect()
        )
        assert got == baseline, nparts


# --- mergeable covariance moments (h19) --------------------------------------


def test_incremental_covariance_bit_equals_full(spark):
    """The h19 pitch: merged per-batch integer moments render cells
    BIT-identical to the one-pass s12 computation — not merely within
    tolerance."""
    full = sorted(tuple(r) for r in QUERIES["s12_covariance"](spark, SF).collect())
    inc = sorted(
        tuple(r) for r in QUERIES["h19_incremental_covariance"](spark, SF).collect()
    )
    assert inc == full


def test_moment_merge_is_order_insensitive(spark):
    """Folding batches in a different order produces the same state —
    the commutativity a non-arrival-ordered delta stream requires."""
    emb = load_table(spark, SF, "embeddings")
    batches = [
        LA.covariance_moments(emb.where(F.col("vec_id") % 3 == r))
        for r in range(3)
    ]
    fwd = LA.merge_covariance_moments(
        LA.merge_covariance_moments(batches[0], batches[1]), batches[2]
    )
    rev = LA.merge_covariance_moments(
        LA.merge_covariance_moments(batches[2], batches[0]), batches[1]
    )
    a = sorted(tuple(r) for r in LA.covariance_from_moments(fwd).collect())
    b = sorted(tuple(r) for r in LA.covariance_from_moments(rev).collect())
    assert a == b


# --- support-thresholded triangles (g2b) -------------------------------------


def test_support2_graph_is_strict_subgraph(spark):
    li = load_table(spark, SF, "lineitem")
    e1 = G.copurchase_edges_undirected(li, min_support=1)
    e2 = G.copurchase_edges_undirected(li, min_support=2)
    n1, n2 = e1.count(), e2.count()
    assert 0 < n2 < n1
    # every support-2 edge exists in the support-1 set
    assert e2.join(e1, ["src", "dst"], "left_anti").count() == 0


def test_g2b_runs_and_clustering_bounded(spark):
    out = QUERIES["g2b_triangles_support2"](spark, SF).collect()
    assert 0 < len(out) <= 20
    for r in out:
        assert r["triangles"] >= 1
        assert 0.0 <= r["clustering"] <= 1.0


# --- mart17 churn ------------------------------------------------------------


def test_churn_arithmetic_on_micro_history(spark):
    import datetime as dt

    def e(i, u, day):
        return (i, dt.datetime(2024, 1, day, 12), u, "view", 1.0, "{}")

    # week 0 (Jan 1-7): users 1,2,3; week 1 (Jan 8-14): users 2,3,4;
    # week 2 (Jan 15-21): user 4 only
    rows = [
        e(1, 1, 2), e(2, 2, 3), e(3, 3, 4),
        e(4, 2, 9), e(5, 3, 10), e(6, 4, 11),
        e(7, 4, 16),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    )
    df.createOrReplaceTempView("__mart17_micro")
    import martech_pipelines_spark.plans.corpus_r6 as r6
    from unittest import mock

    with mock.patch.object(r6, "load_table", lambda s, d, t: df):
        out = {r["week"]: r for r in r6.mart17_churn(spark, "x").collect()}
    # week 1: of {1,2,3}, {2,3} retained -> churn 1/3
    assert out[1]["prev_active"] == 3 and out[1]["retained"] == 2
    assert out[1]["churned"] == 1 and abs(out[1]["churn_rate"] - 0.3333) < 1e-9
    # week 2: of {2,3,4}, {4} retained -> churn 2/3
    assert out[2]["prev_active"] == 3 and out[2]["retained"] == 1
    # week 3 excluded: no observation window beyond the last active week
    assert 3 not in out


# --- dq8 profile drift -------------------------------------------------------


def test_profile_drift_null_branch(spark):
    """The sf0.01 events table has zero nulls, so the oracle never
    exercises the null-rate path — synthetic check that nulls are
    excluded from the mean and counted in the rate."""
    import datetime as dt

    rows = [
        (0, dt.datetime(2024, 1, 1), 1, "a", 2.0, "{}"),   # half 0
        (2, dt.datetime(2024, 1, 1), 1, "a", None, "{}"),  # half 0, null
        (1, dt.datetime(2024, 1, 1), 1, "a", 4.0, "{}"),   # half 1
        (3, dt.datetime(2024, 1, 1), 1, "a", 6.0, "{}"),   # half 1
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    )
    import martech_pipelines_spark.plans.corpus_r6 as r6
    from unittest import mock

    with mock.patch.object(r6, "load_table", lambda s, d, t: df):
        out = r6.dq8_profile_drift(spark, "x").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert abs(r["null_rate_a"] - 0.5) < 1e-9 and r["null_rate_b"] == 0.0
    assert abs(r["mean_a"] - 2.0) < 1e-9   # null excluded, not zero-filled
    assert abs(r["mean_b"] - 5.0) < 1e-9
    assert abs(r["mean_shift"] - 3.0) < 1e-9


# --- r32 ntile ---------------------------------------------------------------


def test_ntile_deciles_partition_counts_and_ordering(spark):
    out = QUERIES["r32_ntile_deciles"](spark, SF).collect()
    assert [r["decile"] for r in out] == list(range(1, 11))
    sizes = [r["n_customers"] for r in out]
    # ntile: sizes differ by at most 1, earlier tiles get the extras
    assert max(sizes) - min(sizes) <= 1
    assert sorted(sizes, reverse=True) == sizes
    # revenue DESC ordering: decile 1 holds the richest customers
    assert out[0]["min_revenue"] >= out[-1]["max_revenue"]


# --- s17 centroid distances --------------------------------------------------


def test_centroid_distances_match_numpy(spark):
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("label", "embedding").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r["embedding"])
    cents = {
        lb: np.asarray(v, dtype="float64").mean(axis=0)
        for lb, v in by_label.items()
    }
    got = {
        (r["label_a"], r["label_b"]): r["dist2"]
        for r in QUERIES["s17_centroid_distances"](spark, SF).collect()
    }
    assert len(got) == len(cents) * (len(cents) - 1) // 2
    for (a, b), d2 in got.items():
        ref = float(((cents[a] - cents[b]) ** 2).sum())
        # quantization error per dim <= 1e-6 on each centroid
        assert abs(d2 - ref) < 1e-3, (a, b, d2, ref)


# --- a11 schema evolution ----------------------------------------------------


def test_schema_evolution_scan_null_fills_and_prunes(spark):
    from martech_pipelines_spark.plans.corpus_r6 import a11_schema_evolution

    out = a11_schema_evolution(spark, SF)
    rows = out.collect()
    g1 = [r for r in rows if r["event_id"] % 10 == 1]
    g2 = [r for r in rows if r["event_id"] % 10 == 2]
    assert g1 and g2
    assert all(r["value_c"] is None for r in g1)   # late column -> typed NULL
    assert all(r["value_c"] is not None for r in g2)
    # stable conformed schema regardless of which generation a row is from
    assert [f.name for f in out.schema.fields] == [
        "event_id", "user_id", "event_type", "value_c",
    ]


# --- determinism audits ------------------------------------------------------


def test_limit_tie_audit_clean():
    """Every trailing ORDER BY ... LIMIT oracle has a deterministic cut
    (no key tie at ranks N/N+1) — the second cross-engine fragility
    class after rounding boundaries.  Runs the real tool so new corpus
    entries are gated automatically."""
    import subprocess
    import sys as _sys

    r = subprocess.run(
        [_sys.executable, "tools/audit_limit_ties.py", SF],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert r.returncode == 0, r.stdout + r.stderr


# --- h20 incremental percentiles ---------------------------------------------


def test_incremental_percentiles_equal_full(spark):
    """Histogram-state maintenance: merged per-batch value histograms
    render the same exact percentiles as the one-pass r29 computation
    (integer counts — equality is exact, no tolerance)."""
    full = sorted(
        tuple(r) for r in QUERIES["r29_exact_percentiles"](spark, SF).collect()
    )
    inc = sorted(
        tuple(r)
        for r in QUERIES["h20_incremental_percentiles"](spark, SF).collect()
    )
    assert inc == full


def test_histogram_merge_handles_disjoint_and_overlapping_values(spark):
    from martech_pipelines_spark.operators.sketches import (
        histogram_merge as _merge_histograms,
        value_histogram as _value_histogram,
    )
    import datetime as dt

    def ev(i, t, v):
        return (i, dt.datetime(2024, 1, 1), 1, t, v, "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    b1 = spark.createDataFrame([ev(1, "a", 1.0), ev(2, "a", 2.0)], schema)
    b2 = spark.createDataFrame([ev(3, "a", 2.0), ev(4, "b", 9.0)], schema)
    merged = _merge_histograms(_value_histogram(b1), _value_histogram(b2))
    got = {(r["event_type"], r["y"]): r["cnt"] for r in merged.collect()}
    # overlapping value (a, 200) sums; disjoint entries pass through
    assert got == {("a", 100): 1, ("a", 200): 2, ("b", 900): 1}


# --- r33 nearest as-of -------------------------------------------------------


def test_asof_nearest_semantics_micro(spark):
    """Pick rules on a hand-built history: closer-forward wins, equal
    distance prefers backward, tolerance nulls out far matches, and a
    right row AT the left ts is a distance-0 backward match."""
    import datetime as dt

    from martech_pipelines_spark.operators.joins import asof_join_nearest

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    left = spark.createDataFrame(
        [
            (1, ts(0), 100),    # right at -10 and +5 -> forward closer
            (2, ts(0), 200),    # right at -5 and +5  -> tie, backward wins
            (3, ts(0), 300),    # only right at +300 -> beyond tolerance
            (4, ts(0), 400),    # right exactly AT ts -> distance 0 backward
            (5, ts(0), 500),    # no right rows at all -> NULLs
        ],
        "user_id long, ts timestamp, purchase_id long",
    )
    right = spark.createDataFrame(
        [
            (1, ts(-10), 11), (1, ts(5), 12),
            (2, ts(-5), 21), (2, ts(5), 22),
            (3, ts(300), 31),
            (4, ts(0), 41),
        ],
        "user_id long, view_ts timestamp, event_id long",
    )
    out = {
        r["user_id"]: r
        for r in asof_join_nearest(
            left,
            right,
            on=["user_id"],
            left_ts="ts",
            right_ts="view_ts",
            right_payload=["event_id"],
            tolerance=F.expr("INTERVAL 1 HOUR"),
        ).collect()
    }
    assert out[1]["event_id_asof"] == 12      # +5 beats -10
    assert out[2]["event_id_asof"] == 21      # tie -> backward
    assert out[3]["event_id_asof"] is None    # 300min > 1h tolerance
    assert out[4]["event_id_asof"] == 41      # distance-0 inclusive
    assert out[5]["event_id_asof"] is None
    assert len(out) == 5                       # left-outer: every left row


def test_asof_nearest_single_exchange_plan(spark):
    """The nearest form must keep r22's join-free shape: one hash
    exchange on the key, zero join nodes."""
    from martech_pipelines_spark.plans import QUERIES

    plan = QUERIES["r33_asof_nearest"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # one + possible AQE reuse


# --- s18 covariance drift ----------------------------------------------------


def test_covariance_drift_zero_on_identical_populations(spark):
    emb = load_table(spark, SF, "embeddings")
    r = LA.covariance_drift(emb, emb).first()
    assert r["frob2"] == 0.0 and r["max_abs_diff"] == 0.0
    assert r["n_cells"] == 64 * 65 // 2


def test_covariance_drift_detects_scaled_population(spark):
    """Scaling one population's vectors by 2 multiplies its covariance
    by 4 — the drift must be decisively nonzero and the result
    partition-invariant."""
    emb = load_table(spark, SF, "embeddings")
    scaled = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(2.0))
    )
    r = LA.covariance_drift(emb, scaled).first()
    assert r["frob2"] > 0.0 and r["max_abs_diff"] > 0.0
    r7 = LA.covariance_drift(
        emb.repartition(7), scaled.repartition(7)
    ).first()
    assert tuple(r7) == tuple(r)


# --- pagerank no-dangling fast path ------------------------------------------


def test_pagerank_fast_path_equals_generic_on_symmetric_graph(spark):
    """assume_no_dangling skips the per-iteration linked-mass job; on a
    mirrored edge list the dangling mass is exactly 0, so both paths
    must agree to rounding (the generic path's (1-m)/n term is a float
    ~1e-16 of zero)."""
    li = load_table(spark, SF, "lineitem")
    edges = G.copurchase_edges(li)
    fast = {
        r["node"]: r["rank"]
        for r in G.pagerank(edges, iterations=3, assume_no_dangling=True).collect()
    }
    generic = {
        r["node"]: r["rank"] for r in G.pagerank(edges, iterations=3).collect()
    }
    assert set(fast) == set(generic)
    for k in fast:
        assert abs(fast[k] - generic[k]) < 1e-12, k


# --- r35 sessionize ----------------------------------------------------------


def test_sessionize_gap_arithmetic_micro(spark):
    import datetime as dt

    import martech_pipelines_spark.plans.corpus_r6 as r6
    from unittest import mock

    t0 = dt.datetime(2024, 1, 1, 8, 0, 0)

    def e(i, mins):
        return (i, t0 + dt.timedelta(minutes=mins), 1, "view", 1.0, "{}")

    # session 1: 0, 29; session 2: 60 (31-min gap), 89;
    # boundary: exactly 30:00 gap is NOT a new session (> rule)
    rows = [e(1, 0), e(2, 29), e(3, 59), e(4, 60), e(5, 89)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    )
    with mock.patch.object(r6, "load_table", lambda s, d, t: df):
        out = {r["event_id"]: r["session_seq"]
               for r in r6.r35_sessionize(spark, "x").collect()}
    # 29 -> 59 is exactly 30:00 -> same session; 59 -> 60 is 1 min
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}
    rows2 = [e(1, 0), e(2, 31), e(3, 62)]
    df2 = spark.createDataFrame(
        rows2, "event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string"
    )
    with mock.patch.object(r6, "load_table", lambda s, d, t: df2):
        out2 = {r["event_id"]: r["session_seq"]
                for r in r6.r35_sessionize(spark, "x").collect()}
    assert out2 == {1: 1, 2: 2, 3: 3}


# --- s19 recall report -------------------------------------------------------


def test_recall_report_bounds_and_perfect_on_exact_vs_exact(spark):
    out = QUERIES["s19_recall_report"](spark, SF).collect()
    assert len(out) == 50  # every 10th of 500 vectors
    for r in out:
        assert 0 <= r["hits"] <= 5
        assert abs(r["recall_at_5"] - r["hits"] / 5.0) < 1e-12
    # mean recall must clear the declared LSH gate (0.5 at sf0.01; the
    # 1.0 recalls in BENCH_sf1 are the re-tuned sf1 geometry)
    mean = sum(r["recall_at_5"] for r in out) / len(out)
    assert mean >= 0.5, mean
    assert any(r["hits"] == 5 for r in out)  # perfect queries exist
