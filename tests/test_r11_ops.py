"""Round-11 regression tests for the r10 ADVICE findings: the dq17
even-pair-count median selection (high), the t54/h31/s32 cos^2
128-bit arithmetic (low), and the streaming ordered-ingestion guard
hardening (low x2: narrow except + marker-coverage assertion)."""

from __future__ import annotations

import datetime

import duckdb
import pytest
from pyspark.sql import functions as F

from martech_pipelines_spark.plans import ORACLE, QUERIES
from martech_pipelines_spark.plans.corpus_r10 import (
    sparse_topk_readout,
    trigram_tf_state,
)


def _write_events(spark, root, day_counts):
    """Materialize an events table with the given per-day row counts
    (one event_type) under ``root`` in the synthetic-table layout."""
    rows, eid = [], 0
    for day, n in enumerate(day_counts):
        for i in range(n):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 1, 1 + day, 12, 0, 0)
                    + datetime.timedelta(seconds=i),
                    100 + i,
                    "x",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{root}/events.parquet")


def test_dq17_even_pair_count(spark, tmp_path):
    """ADVICE r10 (high): with 4 distinct days the spine has m = C(4,2)
    = 6 pairs, so the lower-median rank is (6+1) div 2 = 3 — the old
    double-division predicate compared rn == 3.5 and silently dropped
    the event type.  Hand spine: daily counts [5, 3, 8, 2] give sorted
    slopes_e6 [-6e6, -2e6, -1e6, -5e5, 1.5e6, 5e6]; the lower median is
    the 3rd element, -1_000_000."""
    root = str(tmp_path / "sf_even")
    _write_events(spark, root, [5, 3, 8, 2])
    got = QUERIES["dq17_sen_slope"](spark, root).collect()
    assert [tuple(r) for r in got] == [("x", 6, -1_000_000)]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{root}/events.parquet/*.parquet'"
    )
    assert con.execute(ORACLE["dq17_sen_slope"]).fetchall() == [
        ("x", 6, -1_000_000)
    ]


def test_dq17_odd_pair_count(spark, tmp_path):
    """The odd-m path (3 days, m=3, median rank 2) must keep matching
    the oracle — pins that the div fix didn't shift the original case."""
    root = str(tmp_path / "sf_odd")
    # counts [4, 9, 1]: pairs (dy,dx) = (5,1), (-3,2), (-8,1) ->
    # slopes_e6 sorted [-8e6, -1.5e6, 5e6]; median rank (3+1) div 2 = 2.
    _write_events(spark, root, [4, 9, 1])
    got = QUERIES["dq17_sen_slope"](spark, root).collect()
    assert [tuple(r) for r in got] == [("x", 3, -1_500_000)]


def test_t54_cos2_no_bigint_overflow(spark):
    """ADVICE r10: dot > ~3e6 pushed 1e6*dot^2 past BIGINT, where
    DuckDB raises and pre-ANSI Spark wrapped silently.  Both sides now
    compute in 128-bit integers (DECIMAL(38,0) / HUGEINT): two docs
    sharing one trigram with tf=3000 give dot = 9e6 (1e6*dot^2 =
    8.1e19 > int64 max) and an exact cos^2 of 1.0 -> cos2_e6 =
    1_000_000 on BOTH engines."""
    tf = spark.createDataFrame(
        [(1, "a b c", 3000), (2, "a b c", 3000)],
        "doc_id long, g string, tf long",
    )
    got = sorted(map(tuple, sparse_topk_readout(tf).collect()))
    assert got == [
        (1, 2, 9_000_000, 1_000_000, 1),
        (2, 1, 9_000_000, 1_000_000, 1),
    ]
    # the oracle arithmetic on the same cell values agrees exactly
    assert duckdb.sql(
        "SELECT CAST((1000000::HUGEINT * 9000000 * 9000000)"
        " // (CAST(9000000 AS HUGEINT) * 9000000) AS BIGINT)"
    ).fetchone()[0] == 1_000_000


def test_t54_trigram_pipeline_big_tf(spark):
    """End-to-end through the tokenizer: a repeated-word document makes
    the repeated trigram's tf grow with doc length, the exact class the
    BIGINT bound failed on.  tf('w w w') = n-2 for an n-word doc."""
    text = " ".join(["w"] * 3002)
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = sparse_topk_readout(trigram_tf_state(docs)).collect()
    # dot = 3000*3000 = 9e6, norms equal -> cos2_e6 exactly 1e6
    assert sorted((r["doc_id"], r["nbr_id"], r["cos2_e6"]) for r in out) == [
        (1, 2, 1_000_000),
        (2, 1, 1_000_000),
    ]


def test_s13b_rayleigh_within_spectrum(spark):
    """The link gate tying the integer power-iteration twin to the real
    eigensolve (VERDICT r10 #4): since v_{t+1} = C v_t in fixed point,
    the Rayleigh quotient (v2.v3)/(v2.v2) must lie inside the
    covariance's eigenvalue range, and — C being PSD — must be
    NON-DECREASING across rounds.  On the near-isotropic synthetic
    corpus the top-eigenvector direction itself is ill-conditioned
    (eigengap ~1e-3), so the spectrum/monotonicity invariants are the
    honest gates; the arithmetic is pinned bit-exact by the oracle."""
    import numpy as np

    from martech_pipelines_spark.operators import linalg as LA
    from martech_pipelines_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["s13b_power_iteration_det"](spark, sf).collect()
    v = {t: np.array([r[f"v{t}"] for r in sorted(rows, key=lambda r: r["dim"])], dtype=float) for t in (1, 2, 3)}
    r12 = (v[1] @ v[2]) / (v[1] @ v[1])
    r23 = (v[2] @ v[3]) / (v[2] @ v[2])
    emb = load_table(spark, sf, "embeddings")
    cells = LA.embedding_covariance(
        emb, "embedding", round_dp=6, id_col="vec_id"
    ).collect()
    d = max(r["j"] for r in cells) + 1
    C = np.zeros((d, d))
    for r in cells:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    vals = np.linalg.eigvalsh(C)
    eps = 1e-4  # dp=6 cell rounding + fixed-point division noise
    assert vals.min() - eps <= r12 <= vals.max() + eps
    assert vals.min() - eps <= r23 <= vals.max() + eps
    assert r23 >= r12 - eps, (r12, r23)


def test_pipe6b_equals_pipe6(spark):
    """pipe6b is pipe6 with an oracle bolted on — same merges, same
    encode, same packing; the two must be row-for-row identical."""
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, QUERIES["pipe6_tokenize_pack"](spark, sf).collect()))
    b = sorted(
        map(tuple, QUERIES["pipe6b_tokenize_pack_oracled"](spark, sf).collect())
    )
    assert a == b and a


def test_fixed_q_twins_query_set(spark):
    """The fixed-|Q| twins must answer exactly 500 distinct queries at
    every tier (the whole point: |Q| constant while the corpus scales),
    and agree with the originals on the shared query ids."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        got = QUERIES["s8c3_pq_adc_fixedq"](spark, sf)
        qids = {r["query_id"] for r in got.select("query_id").distinct().collect()}
        assert len(qids) == 500, (sf, len(qids))
    # overlap check at sf0.001: vec_id %10==0 AND <500 is shared
    sf = "/root/testdata/sf0.001"
    orig = {
        (r["query_id"], r["rnk"]): r["vec_id"]
        for r in QUERIES["s2i_ivfpq_deterministic_topk"](spark, sf).collect()
        if r["query_id"] % 10 == 0 and r["query_id"] < 500
    }
    twin = {
        (r["query_id"], r["rnk"]): r["vec_id"]
        for r in QUERIES["s2i3_ivfpq_fixedq"](spark, sf).collect()
        if r["query_id"] % 10 == 0
    }
    assert orig == twin and orig


def test_s35_kcenter_greedy_invariant(spark):
    """The defining greedy-k-center property: every later center was
    the farthest point from the set chosen before it, so the minimum
    pairwise distance BETWEEN chosen centers is >= the maximum assigned
    distance of any point (the 2-approximation's working part).  Plus a
    numpy replication at sf0.001 for row-for-row equality."""
    import numpy as np

    from martech_pipelines_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["s35_kcenter_greedy_det"](spark, sf).collect()
    by_rank = {}
    for r in rows:
        by_rank.setdefault(r["center_rank"], set()).add(r["center_id"])
    assert set(by_rank) == {1, 2, 3}
    centers = {r["center_id"] for r in rows}
    assert len(centers) == 3
    # numpy replication
    emb = {
        r["vec_id"]: np.floor(
            np.array(r["embedding"], dtype=float) * 1e6 + 0.5
        ).astype(np.int64)
        for r in load_table(spark, sf, "embeddings").collect()
    }
    ids = sorted(emb)
    d2 = lambda a, b: int(((emb[a] - emb[b]) ** 2).sum())
    chosen = [min(ids)]
    dmin = {v: d2(v, chosen[0]) for v in ids}
    for _ in range(2):
        nxt = max(ids, key=lambda v: (dmin[v], -v))
        chosen.append(nxt)
        for v in ids:
            dmin[v] = min(dmin[v], d2(v, nxt))
    want = {}
    for v in ids:
        best = min(
            range(3), key=lambda i: (d2(v, chosen[i]), i)
        )
        want[v] = (best + 1, chosen[best], d2(v, chosen[best]))
    got = {r["vec_id"]: (r["center_rank"], r["center_id"], r["d2"]) for r in rows}
    assert got == want
    # greedy radius invariant
    max_assigned = max(r["d2"] for r in rows)
    min_center_pair = min(
        d2(a, b) for a in chosen for b in chosen if a < b
    )
    assert min_center_pair >= max_assigned


def test_t58_curve_monotone_and_matches_dd9(spark):
    """A shared 12-token window contains shared 8- and 4-token windows,
    so the contamination count must be non-increasing in w; and the w=8
    row must agree with dd9's audit on the same split."""
    sf = "/root/testdata/sf0.01"
    rows = {r["w"]: r for r in QUERIES["t58_contamination_curve"](spark, sf).collect()}
    assert set(rows) == {4, 8, 12}
    assert (
        rows[4]["n_contaminated"]
        >= rows[8]["n_contaminated"]
        >= rows[12]["n_contaminated"]
    )
    dd9 = QUERIES["dd9_decontaminate"](spark, sf).collect()
    n_contam_8 = sum(1 for r in dd9 if r["contaminated"])
    assert rows[8]["n_contaminated"] == n_contam_8
    assert rows[8]["n_train"] == len(dd9)


def test_s36_mutual_pairs_are_symmetric_topk(spark):
    """Every mutual pair must appear in BOTH directions of the t54
    top-k edge set, and every such symmetric edge must be reported
    exactly once (a < b)."""
    from martech_pipelines_spark.plans.corpus_r10 import (
        sparse_topk_readout,
        trigram_tf_state,
    )
    from martech_pipelines_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    topk = {
        (r["doc_id"], r["nbr_id"])
        for r in sparse_topk_readout(trigram_tf_state(docs)).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["s36_mutual_sparse_knn"](spark, sf).collect()
    }
    want = {(a, b) for (a, b) in topk if (b, a) in topk and a < b}
    assert got == want and got


def test_h34_h35_equal_their_batch_forms(spark):
    """The IVM twins must render byte-identical to their batch
    queries (the merge==recompute proof, pinned locally on top of the
    shared driver oracle)."""
    sf = "/root/testdata/sf0.001"
    for inc, batch in (
        ("h34_incremental_feature_hashing", "fe6_feature_hashing"),
        ("h35_incremental_completeness", "dq18_completeness_matrix"),
    ):
        a = sorted(map(tuple, QUERIES[inc](spark, sf).collect()))
        b = sorted(map(tuple, QUERIES[batch](spark, sf).collect()))
        assert a == b and a, inc


def test_dq19_hand_outlier(spark, tmp_path):
    """Planted spike: 11 quiet days (counts 4..6) and one 100-count
    day — the fences must flag exactly the spike.  n=12 ->
    q1 = rank (12+3) div 4 = 3, q3 = rank (36+3) div 4 = 9."""
    counts = [4, 5, 6, 4, 5, 6, 4, 5, 6, 4, 5, 100]
    root = str(tmp_path / "sf_dq19")
    _write_events(spark, root, counts)
    got = QUERIES["dq19_iqr_outlier_days"](spark, root).collect()
    assert len(got) == 1
    r = got[0]
    srt = sorted(counts)
    assert (r["q1"], r["q3"]) == (srt[2], srt[8])
    assert r["n_days"] == 12 and r["n_outlier_days"] == 1


def test_streaming_feature_hash_matches_batch(spark, tmp_path):
    """h34's streaming twin: per-batch signed cells folded at read time
    must equal the batch fe6 over the same documents."""
    from martech_pipelines_spark.sources import load_table
    from martech_pipelines_spark.sources.schemas import SCHEMAS
    from martech_pipelines_spark.streaming.stream import (
        read_feature_hash_state,
        streaming_feature_hash_maintenance,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    d = tmp_path / "docs_fh_stream"
    d.mkdir()
    docs.write.mode("overwrite").parquet(str(d))
    doc_stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 2)
        .parquet(str(d))
    )
    state = str(tmp_path / "fh_state")
    q = streaming_feature_hash_maintenance(
        doc_stream, state, str(tmp_path / "fh_ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, read_feature_hash_state(spark, state).collect()))
    want = sorted(
        map(tuple, QUERIES["fe6_feature_hashing"](spark, sf).collect())
    )
    assert got == want and got


def test_h36_delete_equals_recompute(spark):
    """Deletion maintenance must equal the ground-up recompute over the
    surviving docs (the merge==recompute proof, delete direction)."""
    from martech_pipelines_spark.plans.corpus_r10 import (
        sparse_topk_readout,
        trigram_tf_state,
    )
    from martech_pipelines_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    survivors = docs.where(F.col("doc_id") % 7 != 0)
    want = sorted(
        map(tuple, sparse_topk_readout(trigram_tf_state(survivors)).collect())
    )
    got = sorted(
        map(tuple, QUERIES["h36_postings_delete_ivm"](spark, sf).collect())
    )
    assert got == want and got


def test_g9_hand_graph_and_g8_consistency(spark):
    """Hand path graph a-b-c-d: from seed a, harmonic over 3 hops =
    1/1 + 1/2 + 1/3 -> e6 half-up 1000000 + 500000 + 333333.  And on
    the real co-purchase graph, a single-seed run of the multi-seed
    kernel must reproduce g8's bfs_hops_rounds distances."""
    from martech_pipelines_spark.operators import graph as G
    from martech_pipelines_spark.plans.corpus_r11c import multi_seed_bfs
    from martech_pipelines_spark.sources import load_table

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "seed long")
    dist = multi_seed_bfs(edges, seeds, rounds=3)
    harm = sum(
        (2000000 + r["hops"]) // (2 * r["hops"])
        for r in dist.collect()
        if r["hops"] > 0
    )
    assert harm == 1000000 + 500000 + 333333

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    e = G.copurchase_edges(li)
    seed1 = (
        e.groupBy("src").agg(F.count("*").alias("d"))
        .orderBy(F.desc("d"), F.asc("src")).limit(1)
        .select(F.col("src").alias("seed"))
    )
    multi = {
        r["node"]: r["hops"]
        for r in multi_seed_bfs(e, seed1, rounds=4).collect()
    }
    single = {
        r["node"]: r["hops"]
        for r in G.bfs_hops_rounds(
            e, seed1.select(F.col("seed").alias("node")), rounds=4
        ).collect()
    }
    assert multi == single and multi


def test_t60_confusion_shares_fold_to_totals(spark):
    """Per declared tag, cell counts must sum to the tag total and the
    e6 shares to ~1e6 (half-up rounding: within |cells| of exact); the
    prediction marginals must equal t3's prediction counts."""
    from collections import Counter

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["t60_langid_confusion"](spark, sf).collect()
    by_tag = {}
    for r in rows:
        by_tag.setdefault(r["lang"], []).append(r)
    for tag, cells in by_tag.items():
        assert sum(c["n"] for c in cells) == cells[0]["n_tagged"]
        total_share = sum(c["share_e6"] for c in cells)
        assert abs(total_share - 1_000_000) <= len(cells), (tag, total_share)
    pred_marginal = Counter()
    for r in rows:
        pred_marginal[r["lang_pred"]] += r["n"]
    t3 = Counter(
        r["lang_pred"] for r in QUERIES["t3_lang_id"](spark, sf).collect()
    )
    assert pred_marginal == t3


def test_dq20_clean_testdata_and_planted_dup(spark, tmp_path):
    """The audit's first run found a REAL testdata property: the
    synthetic generator does not enforce TPC-H's composite
    (l_orderkey, l_linenumber) uniqueness (4599 distinct of 6000 rows
    at sf0.001) — exactly the class of silent assumption the audit
    exists to surface.  Pin that finding (so a generator change shows
    up here) and that every single-column key IS clean."""
    sf = "/root/testdata/sf0.001"
    rows = {r["table_name"]: r for r in QUERIES["dq20_key_uniqueness"](spark, sf).collect()}
    assert len(rows) == 10
    for t, r in rows.items():
        if t == "lineitem":
            assert not r["key_ok"] and r["n_distinct_keys"] < r["n_rows"]
        else:
            assert r["key_ok"], t
    assert all(r["n_null_keys"] == 0 for r in rows.values())

    # planted defect: one duplicated event_id and one null key must
    # flip the audit's per-table math (key_ok = unique AND not-null)
    ev = spark.createDataFrame(
        [(1,), (2,), (2,), (None,)], "event_id long"
    )
    r = (
        ev.agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("event_id").alias("n_distinct"),
            F.sum(F.col("event_id").isNull().cast("int")).alias("n_null"),
        )
        .select(
            (
                (F.col("n_rows") == F.col("n_distinct"))
                & (F.col("n_null") == 0)
            ).alias("key_ok"),
            "n_rows",
            "n_distinct",
            "n_null",
        )
        .first()
    )
    assert (r["key_ok"], r["n_rows"], r["n_distinct"], r["n_null"]) == (
        False,
        4,
        2,
        1,
    )


def test_h37_equals_dq19(spark):
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, QUERIES["h37_incremental_outlier_days"](spark, sf).collect()))
    b = sorted(map(tuple, QUERIES["dq19_iqr_outlier_days"](spark, sf).collect()))
    assert a == b and a


def test_pipe15_exact_quota_and_determinism(spark):
    """Per source: n_val == floor(20% * n_docs) EXACTLY (the quota the
    fixed-bucket t12 cannot guarantee), counts fold, and a re-run is
    byte-identical (hash membership, no RNG)."""
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, QUERIES["pipe15_stratified_holdout"](spark, sf).collect()))
    b = sorted(map(tuple, QUERIES["pipe15_stratified_holdout"](spark, sf).collect()))
    assert a == b and a
    for (_, n_docs, n_val, n_train, _sum) in a:
        assert n_val == n_docs * 20 // 100
        assert n_val + n_train == n_docs


def _split_events(spark, sf="/root/testdata/sf0.001"):
    from martech_pipelines_spark.sources import load_table

    ev = load_table(spark, sf, "events")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    cut = lo + (hi - lo) // 2
    return (
        ev.where(F.unix_micros("ts") < cut),
        ev.where(F.unix_micros("ts") >= cut),
    )


def test_journey_state_missing_marker_raises(spark, tmp_path):
    """ADVICE r10: a state batch with no _range marker used to be
    silently exempt from the ordered-ingestion check.  A root that HAS
    markers must now cover every state batch_id — a bare state
    partition (written outside the apply path) raises."""
    from martech_pipelines_spark.operators.windows import journey_state
    from martech_pipelines_spark.streaming.stream import (
        apply_journey_batch,
        read_journey_state,
    )

    early, late = _split_events(spark)
    root = str(tmp_path / "jr_gap")
    apply_journey_batch(early, 0, root)
    # state batch 1 lands WITHOUT its marker (not via the apply path)
    journey_state(late).write.mode("overwrite").parquet(f"{root}/batch_id=1")
    with pytest.raises(ValueError, match="no _range marker"):
        read_journey_state(spark, root).collect()


def test_journey_state_marker_read_errors_propagate(spark, tmp_path):
    """ADVICE r10: only the missing-path case may disable the guard.
    A _range dir that EXISTS but cannot be read (here: empty — schema
    inference fails) must propagate instead of silently reading the
    state unguarded."""
    from pyspark.errors import AnalysisException

    from martech_pipelines_spark.operators.windows import journey_state
    from martech_pipelines_spark.streaming.stream import read_journey_state

    early, _ = _split_events(spark)
    root = str(tmp_path / "jr_corrupt")
    journey_state(early).write.mode("overwrite").parquet(f"{root}/batch_id=0")
    (tmp_path / "jr_corrupt" / "_range").mkdir()
    with pytest.raises(AnalysisException):
        read_journey_state(spark, root).collect()


def test_journey_state_marker_only_batch_is_harmless(spark, tmp_path):
    """The marker is written BEFORE the state partition, so a crash
    between the two leaves a marker with no state — the reader must
    accept that (replay overwrites both)."""
    from martech_pipelines_spark.operators.windows import (
        journey_readout,
        journey_state,
    )
    from martech_pipelines_spark.streaming.stream import (
        apply_journey_batch,
        read_journey_state,
    )

    early, late = _split_events(spark)
    root = str(tmp_path / "jr_crash")
    apply_journey_batch(early, 0, root)
    # simulate the crash: batch 1's marker landed, its state did not
    late.agg(F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts")).write.mode(
        "overwrite"
    ).parquet(f"{root}/_range/batch_id=1")
    got = sorted(map(tuple, read_journey_state(spark, root).collect()))
    want = sorted(map(tuple, journey_readout(journey_state(early)).collect()))
    assert got == want


def test_transitions_state_missing_marker_raises(spark, tmp_path):
    """Same coverage contract for the transition-matrix state (cells +
    bounds both checked against the marker set)."""
    from martech_pipelines_spark.operators.windows import (
        transition_bounds,
        transition_cells,
    )
    from martech_pipelines_spark.streaming.stream import (
        apply_transitions_batch,
        read_transitions_state,
    )

    early, late = _split_events(spark)
    root = str(tmp_path / "tr_gap")
    apply_transitions_batch(early, 0, root)
    transition_cells(late).write.mode("overwrite").parquet(
        f"{root}/cells/batch_id=1"
    )
    transition_bounds(late).write.mode("overwrite").parquet(
        f"{root}/bounds/batch_id=1"
    )
    with pytest.raises(ValueError, match="no _range marker"):
        read_transitions_state(spark, root).collect()


def test_h38_equals_s36(spark):
    """The composed mutual-kNN readout off three-way-split maintained
    state must equal the batch s36 (the IVM proof for a rank+join
    consumer, not just a first-order rank)."""
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, QUERIES["h38_incremental_mutual_knn"](spark, sf).collect()))
    b = sorted(map(tuple, QUERIES["s36_mutual_sparse_knn"](spark, sf).collect()))
    assert a == b and a
