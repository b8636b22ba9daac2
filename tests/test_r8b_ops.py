"""Round-8b operator tests: mergeable session-interval state, Pareto
frontier, cluster-cap sampling, n-gram novelty."""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

from martech_pipelines_spark.operators import windows as W
from martech_pipelines_spark.operators import similarity as SIM
from martech_pipelines_spark.operators.text import ngram_novelty_by_source

GAP = 30 * 60


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)) for u, s in rows],
        "user_id long, ts timestamp",
    )


def _sessions(df):
    return sorted(
        (r["user_id"], r["session_seq"], r["start_s"], r["end_s"], r["n_events"])
        for r in df.collect()
    )


# --- session-interval state ---------------------------------------------------


def test_session_intervals_basic_islands(spark):
    ev = _events(spark, [(1, 0), (1, 100), (1, 100 + GAP + 1), (2, 0)])
    out = W.numbered_sessions(W.session_intervals(ev, GAP))
    got = _sessions(out)
    assert [(u, q, n) for u, q, _, _, n in got] == [(1, 1, 2), (1, 2, 1), (2, 1, 1)]


def test_session_boundary_gap_exactly_equal_stays_merged(spark):
    # strict-> convention: gap == GAP does NOT split (matches r35/w3)
    ev = _events(spark, [(1, 0), (1, GAP)])
    out = W.session_intervals(ev, GAP)
    assert out.count() == 1


def test_merge_bridging_event_joins_two_state_sessions(spark):
    # state sessions at [0] and [2*GAP - 20]; a delta event in between
    # is within GAP of both -> the merge must collapse all three into one
    state = W.session_intervals(_events(spark, [(1, 0), (1, 2 * GAP - 20)]), GAP)
    assert state.count() == 2
    delta = W.session_intervals(_events(spark, [(1, GAP - 10)]), GAP)
    merged = W.merge_session_intervals(state, delta, GAP)
    rows = merged.collect()
    assert len(rows) == 1
    assert rows[0]["n_events"] == 3


def test_merge_overlapping_interval_inside_session(spark):
    # delta events INTERLEAVED inside an existing session's interval
    state = W.session_intervals(_events(spark, [(1, 0), (1, 600), (1, 1200)]), GAP)
    delta = W.session_intervals(_events(spark, [(1, 300), (1, 900)]), GAP)
    merged = W.merge_session_intervals(state, delta, GAP)
    rows = merged.collect()
    assert len(rows) == 1
    assert rows[0]["n_events"] == 5


def test_merge_keeps_far_sessions_separate(spark):
    state = W.session_intervals(_events(spark, [(1, 0)]), GAP)
    delta = W.session_intervals(_events(spark, [(1, GAP + 1), (2, 0)]), GAP)
    merged = W.merge_session_intervals(state, delta, GAP)
    assert merged.count() == 3  # user1 x2 (gap just over), user2 x1


def test_random_split_merge_equals_full_recompute(spark):
    # the closure property under an adversarial random split
    rng = random.Random(8)
    rows = []
    for u in range(5):
        t = 0
        for _ in range(40):
            t += rng.choice([5, 60, GAP, GAP + 1, 3 * GAP])
            rows.append((u, t))
    ev = _events(spark, rows)
    full = _sessions(W.numbered_sessions(W.session_intervals(ev, GAP)))
    mark = ev.withColumn("b", F.pmod(F.xxhash64("user_id", "ts"), F.lit(3)))
    state = W.session_intervals(mark.where(F.col("b") == 0), GAP)
    for i in (1, 2):
        state = W.merge_session_intervals(
            state, W.session_intervals(mark.where(F.col("b") == i), GAP), GAP
        )
    assert _sessions(W.numbered_sessions(state)) == full


# --- pareto frontier ----------------------------------------------------------


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id long, cost long, gain long")


def test_pareto_basic_dominance(spark):
    df = _pts(spark, [(1, 10, 5), (2, 20, 4), (3, 5, 1), (4, 30, 9)])
    # (2) dominated by (1); (3) survives (cheapest); (4) best gain
    got = sorted(r["id"] for r in W.pareto_frontier_2d(df, "cost", "gain").collect())
    assert got == [1, 3, 4]


def test_pareto_duplicate_points_both_survive(spark):
    df = _pts(spark, [(1, 10, 5), (2, 10, 5)])
    assert W.pareto_frontier_2d(df, "cost", "gain").count() == 2


def test_pareto_same_cost_lower_gain_dominated(spark):
    df = _pts(spark, [(1, 10, 5), (2, 10, 4)])
    got = [r["id"] for r in W.pareto_frontier_2d(df, "cost", "gain").collect()]
    assert got == [1]


def test_pareto_matches_quadratic_definition(spark):
    rng = random.Random(38)
    rows = [(i, rng.randrange(20), rng.randrange(20)) for i in range(200)]
    df = _pts(spark, rows)
    got = sorted(r["id"] for r in W.pareto_frontier_2d(df, "cost", "gain").collect())
    want = sorted(
        i
        for (i, c, g) in rows
        if not any(
            (c2 <= c and g2 >= g and (c2 < c or g2 > g))
            for (_, c2, g2) in rows
        )
    )
    assert got == want


# --- cluster-cap sampling -----------------------------------------------------


def test_cluster_cap_respects_cap_and_determinism(spark, sf_dir):
    from martech_pipelines_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = SIM.cluster_cap_sample(emb, nlist=4, cap=3, keep="far")
    per_cell = out.groupBy("cell").count().collect()
    assert all(r["count"] <= 3 for r in per_cell)
    # deterministic across runs
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, SIM.cluster_cap_sample(emb, nlist=4, cap=3, keep="far").collect()))
    assert a == b


def test_cluster_cap_near_keeps_prototypes(spark, sf_dir):
    from martech_pipelines_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    far = SIM.cluster_cap_sample(emb, nlist=4, cap=3, keep="far")
    near = SIM.cluster_cap_sample(emb, nlist=4, cap=3, keep="near")
    fmax = far.agg(F.min("d2q")).collect()[0][0]
    nmax = near.agg(F.max("d2q")).collect()[0][0]
    # the farthest-kept set sits at larger distances than the nearest-kept
    assert fmax >= nmax or far.count() <= 3


# --- n-gram novelty -----------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_novelty_all_novel_and_all_seen(spark):
    text = "one two three four five six seven eight nine"
    ref = _docs(spark, [(0, text, "a")])
    cand_same = _docs(spark, [(1, text, "a")])
    out = ngram_novelty_by_source(cand_same, ref).collect()[0]
    assert out["novel_grams"] == 0 and out["novelty_e4"] == 0
    cand_new = _docs(
        spark, [(1, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10", "a")]
    )
    out2 = ngram_novelty_by_source(cand_new, ref).collect()[0]
    assert out2["novel_grams"] == out2["n_grams"] and out2["novelty_e4"] == 10000


def test_novelty_half_up_ratio(spark):
    # 9-token doc -> 2 windows; one shared with ref, one novel
    ref = _docs(spark, [(0, "one two three four five six seven eight x", "a")])
    cand = _docs(spark, [(1, "one two three four five six seven eight nine", "a")])
    out = ngram_novelty_by_source(cand, ref).collect()[0]
    assert (out["n_grams"], out["novel_grams"], out["novelty_e4"]) == (2, 1, 5000)


# --- incremental skyline / partitioned layout --------------------------------


def test_skyline_merge_equals_full(spark):
    rng = random.Random(22)
    rows = [(i, rng.randrange(15), rng.randrange(15)) for i in range(300)]
    df = _pts(spark, rows)
    full = sorted(r["id"] for r in W.pareto_frontier_2d(df, "cost", "gain").collect())
    state = W.pareto_frontier_2d(df.where(F.col("id") % 3 == 0), "cost", "gain")
    for i in (1, 2):
        delta = W.pareto_frontier_2d(df.where(F.col("id") % 3 == i), "cost", "gain")
        state = W.pareto_frontier_2d(state.unionByName(delta), "cost", "gain")
    assert sorted(r["id"] for r in state.collect()) == full


def test_a12_scan_is_partition_pruned(spark, sf_dir):
    from martech_pipelines_spark.plans.corpus_r8b import (
        _A12_TYPES,
        _a12_layout,
    )

    lay = _a12_layout(spark, sf_dir)
    pruned = spark.read.parquet(lay).where(
        F.col("event_type").isin(*_A12_TYPES)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    # and the pruned read touches only the two matching partitions
    import glob

    dirs = {d.split("=")[-1] for d in glob.glob(lay + "/event_type=*")}
    assert set(_A12_TYPES) <= dirs and len(dirs) == 5


def test_probe_sweep_equals_per_budget_searches(spark, sf_dir):
    from martech_pipelines_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sweep = SIM.ivf_probe_sweep_topk(
        queries, emb, nlist=8, probes=(1, 3), k=4
    ).collect()
    for p in (1, 3):
        solo = {
            (r["query_id"], r["vec_id"], r["cos_sim"], r["rnk"])
            for r in SIM.ivf_deterministic_topk(
                queries, emb, nlist=8, nprobe=p, k=4
            ).collect()
        }
        got = {
            (r["query_id"], r["vec_id"], r["cos_sim"], r["rnk"])
            for r in sweep
            if r["nprobe"] == p
        }
        assert got == solo


# --- partitioned-layout small-file compaction ---------------------------------


def _fragmented_layout(spark, sf_dir, tmp_path, nfiles=6):
    from martech_pipelines_spark.sources import load_table

    root = str(tmp_path / "events_layout")
    (
        load_table(spark, sf_dir, "events")
        .repartition(nfiles)
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(root)
    )
    return root


def _layout_multiset(spark, root):
    from collections import Counter

    return Counter(
        tuple(r) for r in spark.read.parquet(root).collect()
    )


def test_compact_partition_dirs_preserves_content(spark, sf_dir, tmp_path):
    import glob

    from martech_pipelines_spark.operators.sinks import compact_partition_dirs

    root = _fragmented_layout(spark, sf_dir, tmp_path)
    before = _layout_multiset(spark, root)
    done = compact_partition_dirs(spark, root, max_files=1)
    assert len(done) == 5 and all(n > 1 for n in done.values())
    for leaf in done:
        files = glob.glob(f"{root}/{leaf}/*.parquet")
        assert len(files) == 1
    assert _layout_multiset(spark, root) == before
    # idempotent: second pass finds nothing dirty
    assert compact_partition_dirs(spark, root, max_files=1) == {}


def test_partition_swap_crash_recovery(spark, sf_dir, tmp_path):
    import os
    import shutil

    from martech_pipelines_spark.operators.sinks import (
        compact_partition_dirs,
        recover_partition_swaps,
    )

    root = _fragmented_layout(spark, sf_dir, tmp_path)
    before = _layout_multiset(spark, root)
    leaf = "event_type=click"
    live = os.path.join(root, leaf)

    # crash A: died mid-write -> stale .next, live intact
    nxt = os.path.join(root, f".compact.{leaf}.next")
    shutil.copytree(live, nxt)
    # readers ignore dot-dirs even before recovery
    assert _layout_multiset(spark, root) == before
    recover_partition_swaps(root)
    assert not os.path.isdir(nxt)

    # crash B: died between the two renames -> live missing, .old holds data
    old = os.path.join(root, f".compact.{leaf}.old")
    os.rename(live, old)
    recover_partition_swaps(root)
    assert os.path.isdir(live) and not os.path.isdir(old)
    assert _layout_multiset(spark, root) == before

    # crash C: died before cleanup -> live present, stale .old
    shutil.copytree(live, old)
    recover_partition_swaps(root)
    assert not os.path.isdir(old)
    assert _layout_multiset(spark, root) == before

    # and a real compaction after all that still round-trips
    compact_partition_dirs(spark, root, max_files=1)
    assert _layout_multiset(spark, root) == before


# --- label propagation --------------------------------------------------------


def test_lpa_two_cliques_converge_to_min_labels(spark):
    # two 3-cliques joined by nothing: every node adopts its clique min
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        "src long, dst long",
    )
    from martech_pipelines_spark.operators.graph import label_propagation

    got = {(r["node"], r["label"]) for r in label_propagation(edges, 3).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)}


def test_lpa_tie_breaks_to_smallest_label(spark):
    # node 5 sees labels {1, 2} once each after round 1 -> picks 1
    edges = spark.createDataFrame([(1, 5), (2, 5)], "src long, dst long")
    from martech_pipelines_spark.operators.graph import label_propagation

    got = dict(
        (r["node"], r["label"])
        for r in label_propagation(edges, 1).collect()
    )
    assert got[5] == 1


# --- dataset-card state / char entropy ---------------------------------------


def test_card_state_merge_equals_full(spark, sf_dir):
    from martech_pipelines_spark.operators import prep
    from martech_pipelines_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = {
        tuple(r)
        for r in prep.render_dataset_card(prep.dataset_card_state(docs)).collect()
    }
    state = prep.dataset_card_state(docs.where(F.col("doc_id") % 2 == 0))
    state = prep.merge_card_state(
        state, prep.dataset_card_state(docs.where(F.col("doc_id") % 2 == 1))
    )
    got = {tuple(r) for r in prep.render_dataset_card(state).collect()}
    assert got == full


def test_char_entropy_extremes(spark):
    import math

    from martech_pipelines_spark.plans.corpus_r8b import t50_char_entropy  # noqa: F401
    # uniform over 4 chars -> ln(4); single repeated char -> 0
    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "aaaa")], "doc_id long, text string"
    )
    hist = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("cnt"))
    )
    ent = hist.groupBy("doc_id").agg(
        F.round(
            F.log(F.sum("cnt").cast("double"))
            - F.sum(F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double")))
            / F.sum("cnt").cast("long"),
            4,
        ).alias("h")
    )
    got = dict((r["doc_id"], r["h"]) for r in ent.collect())
    assert got[2] == 0.0 and abs(got[1] - round(math.log(4), 4)) < 1e-9


# --- benford / gini math -------------------------------------------------------


def test_gini_extremes(spark):
    from pyspark.sql import Window as W2

    def gini(rows):
        df = spark.createDataFrame(rows, "segment string, ck long, cents long")
        w = W2.partitionBy("segment").orderBy("cents", "ck")
        r = df.withColumn("i", F.row_number().over(w).cast("long"))
        out = r.groupBy("segment").agg(
            F.expr(
                "CAST((2 * CAST(2 * sum(i * cents) - (count(*) + 1) * sum(cents)"
                "          AS DECIMAL(38,0)) * 1000000"
                "      + CAST(count(*) * sum(cents) AS DECIMAL(38,0)))"
                " div (2 * CAST(count(*) * sum(cents) AS DECIMAL(38,0)))"
                " AS BIGINT)"
            ).alias("g")
        )
        return out.collect()[0]["g"]

    # perfectly equal -> 0
    assert gini([("a", i, 100) for i in range(10)]) == 0
    # one customer takes all -> (n-1)/n = 0.9
    assert gini([("a", i, 0) for i in range(9)] + [("a", 9, 1000)]) == 900000


def test_benford_shares_sum_to_one(spark, sf_dir):
    from martech_pipelines_spark.plans.corpus_r8b import (
        _BENFORD_E6,
        dq11_benford_deviation,
    )

    assert sum(_BENFORD_E6.values()) == 1_000_000
    rows = dq11_benford_deviation(spark, sf_dir).collect()
    assert len(rows) == 9
    assert sum(r["n_obs"] for r in rows) > 0
    # shares are half-up e6 of n_obs/n -> sum within rounding of 1e6
    assert abs(sum(r["share_e6"] for r in rows) - 1_000_000) <= 9


# --- filtered ANN / retrieve-rerank --------------------------------------------


def test_filtered_ann_only_returns_matching_candidates(spark, sf_dir):
    from martech_pipelines_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.ivf_deterministic_topk(
        queries, emb, nlist=8, nprobe=2, k=4,
        candidate_filter=(F.col("label") % 2 == 0),
    )
    labels = dict(
        (r["vec_id"], r["label"]) for r in emb.select("vec_id", "label").collect()
    )
    rows = out.collect()
    assert rows and all(labels[r["vec_id"]] % 2 == 0 for r in rows)
    # index identity: the unfiltered search over the same index must
    # rank any shared (query, vec) pair with the same cos_sim
    full = {
        (r["query_id"], r["vec_id"]): r["cos_sim"]
        for r in SIM.ivf_deterministic_topk(
            queries, emb, nlist=8, nprobe=2, k=50
        ).collect()
    }
    for r in rows:
        key = (r["query_id"], r["vec_id"])
        if key in full:
            assert full[key] == r["cos_sim"]


def test_exact_rerank_matches_bruteforce_on_candidate_set(spark, sf_dir):
    from martech_pipelines_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = SIM.pq_adc_deterministic_topk(queries, emb, k=20).select(
        "query_id", "vec_id"
    )
    rer = SIM.exact_rerank(cand, queries, emb, k=5)
    # re-rank of the FULL corpus as candidates == plain brute force
    allc = queries.select("query_id").crossJoin(emb.select("vec_id"))
    got = {
        tuple(r)
        for r in SIM.exact_rerank(allc, queries, emb, k=5).collect()
    }
    want = {
        tuple(r)
        for r in SIM.brute_force_topk(queries, emb, k=5)
        .select("query_id", "vec_id", "cos_sim", "rnk")
        .collect()
    }
    assert got == want
    # and the two-stage form returns k rows per query from the candidates
    cand_set = {(r["query_id"], r["vec_id"]) for r in cand.collect()}
    assert all(
        (r["query_id"], r["vec_id"]) in cand_set for r in rer.collect()
    )


def test_knn_graph_arrow_blocked_bit_equal(spark, sf_dir):
    # VERDICT r8 scale fix: corpus-as-queries builds over the cell budget
    # split into hash-mod query blocks; per-query output is independent of
    # blocking, so a tiny budget (forcing many blocks) must be bit-equal.
    from martech_pipelines_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = {tuple(r) for r in SIM.knn_graph(emb, k=5).collect()}
    b = {
        tuple(r)
        for r in SIM.knn_graph(emb, k=5, block_cells=4000).collect()
    }
    assert a == b and len(a) > 0


def test_brute_force_arrow_query_budget_raises(spark, sf_dir):
    # The |Q|-bounded contract is now loud: an over-budget query side
    # raises with remediation instead of collecting the corpus (the
    # driver-OOM-at-100TB failure mode), and the bounded probe never
    # materializes more than the budget plus one row.
    import pytest

    from martech_pipelines_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.selectExpr("vec_id AS query_id", "embedding")
    with pytest.raises(ValueError, match="knn_graph_lsh"):
        SIM.brute_force_topk_arrow(q, emb, k=3, max_query_cells=1000).count()


def test_index_search_query_budget_raises(spark, sf_dir, monkeypatch, tmp_path):
    # The IVF, PQ-ADC, trained-PQ and IVFPQ-probe kernels collect their
    # query side under the same module-level budget as
    # brute_force_topk_arrow (no per-call knob).
    import pytest

    from martech_pipelines_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.selectExpr("vec_id AS query_id", "embedding")
    idx = str(tmp_path / "ivfpq")
    SIM.ivfpq_build_index(emb, idx, dim=64, nlist=4, m=8, ksub=16)
    monkeypatch.setattr(SIM, "_MAX_QUERY_CELLS", 1000)
    with pytest.raises(ValueError, match="driver-side budget"):
        SIM.ivf_deterministic_topk(q, emb, nlist=8, nprobe=2, k=3)
    with pytest.raises(ValueError, match="driver-side budget"):
        SIM.pq_adc_deterministic_topk(q, emb, k=3)
    with pytest.raises(ValueError, match="driver-side budget"):
        SIM.pq_topk(q, emb, dim=64, k=3)
    with pytest.raises(ValueError, match="driver-side budget"):
        SIM.ivfpq_probe_topk(q, idx, k=3, nprobe=2, refine_corpus=emb)


def test_ivfpq_probe_empty_queries_returns_empty_frame(spark, sf_dir, tmp_path):
    # An empty query set gets the usual output schema and no rows, with
    # and without the exact-refine stage.
    from martech_pipelines_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq")
    SIM.ivfpq_build_index(emb, idx, dim=64, nlist=4, m=8, ksub=16)
    q = emb.selectExpr("vec_id AS query_id", "embedding")
    for refine in (emb, None):
        full = SIM.ivfpq_probe_topk(
            q.where("vec_id % 50 = 0"), idx, k=3, nprobe=2, refine_corpus=refine
        )
        empty = SIM.ivfpq_probe_topk(
            q.where("vec_id < 0"), idx, k=3, nprobe=2, refine_corpus=refine
        )
        assert empty.count() == 0
        assert empty.dtypes == full.dtypes
        assert [c for c, _ in full.dtypes] == [
            "query_id", "vec_id", "cos_sim", "rnk"
        ]


def test_graph_beam_search_reaches_expected_visited_set(spark):
    # tiny hand graph: entry 0 -> 1 -> 2 (chain); query equals node 2's
    # vector, so each hop must move the beam toward 2
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.7, 0.7]),
            (2, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    graph = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 1)], "src_id long, nbr_id long"
    )
    queries = spark.createDataFrame(
        [(100, [0.0, 1.0])], "query_id long, embedding array<float>"
    )
    out = SIM.graph_ann_beam_search(
        queries, emb, graph, entry_id=0, hops=2, beam=1, k=3
    ).collect()
    got = sorted((r["rnk"], r["vec_id"]) for r in out)
    assert got == [(1, 2), (2, 1), (3, 0)]
