"""Physical-plan regression tests: the 100-TB posture, pinned.

These assert the plan *shapes* that matter at scale — filter pushdown,
column pruning, broadcast joins, no cartesian products — so a refactor
that silently degrades a plan fails CI, not the cluster.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from martech_pipelines_spark.plans import QUERIES
from martech_pipelines_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_incremental_scan_pushes_watermark_filter(spark):
    """A2/H1: the watermark predicate must reach the parquet reader."""
    plan = plan_of(QUERIES["h3_incremental_scan"](spark, SF))
    assert "PushedFilters" in plan
    # the ts filter is on a converted column; the event_id/user_id scans
    # must at minimum show pushdown plumbing and pruned ReadSchema
    assert "ReadSchema" in plan


def test_projection_prunes_parquet_columns(spark):
    """C1: selecting 2 of 5 columns must prune ReadSchema to those two."""
    cust = load_table(spark, SF, "customer").select("c_custkey", "c_name")
    plan = plan_of(cust)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read_schema and "c_name" in read_schema
    assert "c_acctbal" not in read_schema and "c_mktsegment" not in read_schema


def test_filter_pushdown_to_scan(spark):
    """C2: an equality predicate appears in PushedFilters."""
    cust = load_table(spark, SF, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    plan = plan_of(cust)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "c_mktsegment" in pushed


def test_semi_join_dim_broadcasts(spark):
    """D2: the small dim side must broadcast (no shuffle of the fact)."""
    plan = plan_of(QUERIES["d2_semi_join_dim"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_flagship_single_shuffle(spark):
    """E2: the compaction should shuffle exactly once (hash by key) —
    a join-back formulation would show two."""
    plan = plan_of(QUERIES["flagship_cdc_dedup"](spark, SF))
    assert plan.count("(1) Scan parquet") == 1
    assert plan.count("Exchange (") == 1
    # bonus: Spark 4 rewrites the rank<=1 filter into WindowGroupLimit —
    # per-partition top-k before the shuffle, not a full sort
    assert "WindowGroupLimit" in plan


def test_lsh_topk_has_no_cartesian(spark):
    """S2: the scale path must never materialize a cross product."""
    plan = plan_of(QUERIES["s2_lsh_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_broadcasts_bucket_dim(spark):
    """R7: non-equi join against the tiny bucket dim must be a broadcast
    nested-loop, not a shuffled cartesian."""
    plan = plan_of(QUERIES["r7_range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q5_dims_broadcast(spark):
    """Q5: nation/region dims broadcast; fact joins are the only big
    exchanges."""
    plan = plan_of(QUERIES["q5_local_volume"](spark, SF))
    assert plan.count("BroadcastExchange") >= 2


def test_metadata_stats_never_reads_payload(spark):
    """Multimodal: metadata-only aggregation prunes the binary column out
    of the scan entirely."""
    from martech_pipelines_spark.operators import multimodal as MM

    docs = load_table(spark, SF, "documents")
    stats = MM.media_metadata_stats(MM.documents_as_media(docs))
    read_schema = plan_of(stats).split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema  # payload derives from text here
    # the point at parquet level: only the needed source columns are read
    assert "lang" not in read_schema and "source" not in read_schema


def test_t8_and_t9b_are_shuffle_free(spark):
    """PII redaction and the HOF repetition scorer are per-row codegen —
    zero exchanges, zero Python on the data path."""
    for name in ("t8_pii_redact", "t9b_repetition_hof"):
        plan = plan_of(QUERIES[name](spark, SF))
        assert "Exchange" not in plan, name
        assert "Python" not in plan, name


def test_q4_uses_left_semi(spark):
    """Q4's EXISTS must plan as a semi join (no row duplication), never a
    cartesian."""
    plan = plan_of(QUERIES["q4_order_priority"](spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q10_broadcasts_nation_dim(spark):
    plan = plan_of(QUERIES["q10_returned_items"](spark, SF))
    assert "BroadcastExchange" in plan


def test_dd6_no_self_join_of_docs(spark):
    """The contamination audit joins fingerprint aggregates, never doc
    rows to doc rows: no cartesian, bounded exchanges."""
    plan = plan_of(QUERIES["dd6_cross_source"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_stage2_reads_only_the_index(spark, tmp_path):
    """Two-stage MinHash: after minhash_build_index, the candidates+verify
    plan must scan ONLY the materialized signature table — never the raw
    document corpus (that is the whole point of materializing)."""
    from martech_pipelines_spark.operators import dedup as DD

    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(200)
    index_path = str(tmp_path / "mh_index")
    DD.minhash_build_index(docs, index_path, num_perm=16, shingle_n=3)
    stage2 = DD.minhash_index_near_duplicates(
        spark, index_path, threshold=0.5, num_perm=16, bands=4
    )
    plan = plan_of(stage2)
    assert "mh_index" in plan                    # scans the index...
    assert "documents.parquet" not in plan       # ...and nothing else
    # and the stage-2 result matches the inline pipeline bit-for-bit
    inline = DD.minhash_near_duplicates(
        docs, threshold=0.5, num_perm=16, bands=4, shingle_n=3
    )
    assert sorted(map(tuple, stage2.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Bucketing (the co-located-join lever from the 100-TB playbook):
    two tables bucketed by the join key on the same bucket count must
    sort-merge join with ZERO exchanges — at scale this converts the
    nightly fact-fact join from a full shuffle into a local merge."""
    from martech_pipelines_spark.operators.sinks import write_bucketed_table

    od = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    write_bucketed_table(od, "b_orders", ["o_orderkey"], 8, ["o_orderkey"])
    write_bucketed_table(li, "b_lineitem", ["l_orderkey"], 8, ["l_orderkey"])
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the plan shows the bucketed SMJ path the
        # test is about (at real fact-fact scale broadcast is off the
        # table anyway — neither side fits)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_whole_stage_codegen_covers_export_pipeline(spark):
    """The export transform must be one fused codegen stage — no Python,
    no extra exchanges before the sink boundary."""
    plan = plan_of(QUERIES["export_profile_pipeline"](spark, SF))
    assert "codegen id" in plan  # fused whole-stage codegen spans
    assert "Exchange" not in plan  # pure narrow pipeline
    assert "Python" not in plan  # no BatchEvalPython/ArrowEvalPython


def test_dd11_single_tokenize_pass(spark):
    """Paragraph dedup must tokenize the corpus exactly once: one Generate
    (the posexplode), and the only scan that reads `text` feeds it — the
    totals side re-reads doc_id alone."""
    import re

    plan = plan_of(QUERIES["dd11_paragraph_dedup"](spark, SF))
    # one Generate node (formatted mode lists each node in the tree AND
    # in the detail section — match the detail headers only)
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    # two scans: one (doc_id, text) for the explode, one doc_id-only
    read_schemas = [
        line.split("ReadSchema:")[1].strip()
        for line in plan.splitlines()
        if "ReadSchema:" in line
    ]
    assert set(read_schemas) == {
        "struct<doc_id:bigint>",  # totals side: id only
        "struct<doc_id:bigint,text:string>",  # explode side
    }
    assert "CartesianProduct" not in plan


def test_mart5_no_cartesian_and_user_keyed_join(spark):
    """Attribution pairs via the user_id equi-join (range is a post-join
    filter), never a cartesian."""
    plan = plan_of(QUERIES["mart5_linear_attribution"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "user_id" in plan


def test_t19_postings_filtered_before_shuffle(spark):
    """BM25's term IN-list must apply before the tf aggregation's
    exchange — the shuffle sees |terms|-bounded postings."""
    plan = plan_of(QUERIES["t19_bm25"](spark, SF))
    assert "CartesianProduct" not in plan
    # the IN-list appears as a Filter on the exploded postings
    assert "dup" in plan and "fast" in plan and "scan" in plan


def test_mart4_single_shuffle(spark):
    """SCD2 is one keyed exchange + window — no self-join of history."""
    plan = plan_of(QUERIES["mart4_scd2"](spark, SF))
    assert plan.count("Exchange") <= 2  # hash exchange (+AQE shuffle read)
    assert "Join" not in plan


def test_t19b_query_stage_prunes_partitions_and_skips_corpus(spark, tmp_path):
    """Materialized BM25: the query-stage plan reads ONLY the index —
    the postings scan carries the term IN-list as PartitionFilters and
    the documents parquet appears nowhere."""
    from martech_pipelines_spark.operators import text as TX

    docs = load_table(spark, SF, "documents")
    idx = str(tmp_path / "bm25_idx")
    TX.bm25_build_index(docs, idx)
    out = TX.bm25_query_index(spark, idx, ("dup", "fast", "scan"), k=20)
    plan = plan_of(out)
    assert "documents.parquet" not in plan
    assert "PartitionFilters" in plan
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("term" in l and "dup" in l for l in pf_lines)


def test_pipe10b_probe_reads_only_the_index(spark, tmp_path):
    """Materialized prep funnel: the report plan must scan ONLY the
    doc-stats + window-hash index tables — no raw documents parquet,
    no tokenizer/regex anywhere in the probe (the whole point of
    materializing the prep pipeline)."""
    from martech_pipelines_spark.operators import prep

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    idx = str(tmp_path / "prep_idx")
    prep.prep_index_build(docs, idx, w=8)
    report = prep.prep_funnel_report(spark, idx)
    plan = plan_of(report)
    assert "prep_idx" in plan
    assert "documents.parquet" not in plan
    assert "regexp" not in plan.lower()
    # and the report matches the inline pipe10 stage counts bit-for-bit
    inline = sorted(
        map(tuple, QUERIES["pipe10_prep_funnel"](spark, SF).collect())
    )
    assert sorted(map(tuple, report.collect())) == inline


def test_ann_component_kernels_broadcast_not_shuffle(spark):
    """s2e/s8b candidate generation: centroid/codebook tables broadcast;
    the corpus is never cartesian-joined or shuffled pre-combine."""
    for name in ("s2e_ivf_cells", "s8b_pq_codes", "s2f_ivf_probe_sets"):
        plan = plan_of(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name


def test_s2g_inline_argmin_equals_distributed_kernel(spark):
    """The zero-shuffle literal-centroid argmin (array_min over (d2q,
    cell) structs) must assign every vector the same cell as the
    distributed crossJoin + min(struct) kernel — two formulations, one
    contract."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, SF, "embeddings")
    cents_df = SIM.modular_representatives(emb, nlist=16)
    want = {
        r["vec_id"]: r["cell"]
        for r in SIM.quantized_cell_assignments(emb, cents_df).collect()
    }
    cent_rows = cents_df.collect()
    got = {
        r["vec_id"]: r["cell"]
        for r in emb.select(
            "vec_id",
            F.array_min(
                SIM._quantized_cell_structs(
                    SIM._as_double(F.col("embedding")), cent_rows
                )
            )["cell"].alias("cell"),
        ).collect()
    }
    assert got == want


def _assert_map_side_topk_plan(plan: str) -> None:
    """The map-side top-k plan: one Arrow kernel over the corpus scan,
    no cartesian, and the window's hash partitioning on query_id as the
    ONLY exchange (the corpus never shuffles)."""
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning(query_id" in plan


def test_s2g_plan_and_recall(spark):
    """s2g end-to-end IVF: the map-side top-k plan shape, and recall@5
    vs the exact s1 top-k clears the same 0.5 gate as the trained IVF."""
    from martech_pipelines_spark.operators import similarity as SIM

    df = QUERIES["s2g_ivf_deterministic_topk"](spark, SF)
    _assert_map_side_topk_plan(plan_of(df))

    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in SIM.brute_force_topk(queries, emb, k=5).collect()
    }
    approx = {(r["query_id"], r["vec_id"]) for r in df.collect()}
    assert len(exact & approx) / len(exact) >= 0.5


def test_s2h_delta_probe_equals_inline_prunes_and_survives_compaction(
    spark, tmp_path
):
    """The deterministic materialized IVF lifecycle (s2h): base build +
    frozen-quantizer delta append + probe must be row-identical to the
    inline s2g search over the whole corpus (the shared-oracle contract
    — exact multisets including rank), the probe must partition-prune
    BOTH sides of the base∪delta union, and nightly compaction must
    leave the answer bit-identical."""
    import re

    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "det_idx")
    delta_pred = (F.col("vec_id") % 5 == 4) & (F.col("vec_id") >= 16)
    SIM.ivf_det_build_index(emb.where(~delta_pred), idx, nlist=16)
    SIM.ivf_det_append_batch(emb.where(delta_pred), 0, idx)

    cols = ("query_id", "vec_id", "cos_sim", "rnk")
    probe = SIM.ivf_det_probe_topk(queries, idx, k=5, nprobe=4).select(*cols)
    inline = {
        tuple(r)
        for r in QUERIES["s2g_ivf_deterministic_topk"](spark, SF).collect()
    }
    got = {tuple(r) for r in probe.collect()}
    assert got == inline and len(got) > 0

    # pruning is real on BOTH scans of the union: with a single query
    # (whose probe set is nprobe=4 of 16 cells) each side carries a
    # literal 4-cell INSET (the 50-query set above unions to all 16
    # cells at this tiny SF, so the pruning check uses one query)
    one = SIM.ivf_det_probe_topk(
        queries.where(F.col("query_id") == 0), idx, k=5, nprobe=4
    )
    plan = one._jdf.queryExecution().executedPlan().toString()
    insets = [
        a or b
        for a, b in re.findall(
            r"PartitionFilters: \[cell#\d+ (?:IN \(([\d,]+)\)|INSET ([\d, ]+))",
            plan,
        )
    ]
    assert len(insets) >= 2, plan
    assert all(len(s.split(",")) == 4 for s in insets), insets

    SIM.ivf_compact_index(spark, idx)
    again = {
        tuple(r)
        for r in SIM.ivf_det_probe_topk(queries, idx, k=5, nprobe=4)
        .select(*cols)
        .collect()
    }
    assert again == inline


def test_s8c_adc_self_consistency_plan_and_recall(spark):
    """s8c end-to-end PQ/ADC: (1) the LUT path and the code-assignment
    path must agree on the one overlap they share — ADC(q, q) equals
    the sum of q's own per-subspace assignment distances (both are
    sum_j d2(q_j, codeword[code(q)_j]) computed through different
    paths); (2) the map-side top-k plan shape;
    (3) an honest recall floor vs exact cosine top-k — lower than the
    trained-PQ 0.5 gate because the modular codebook is an untrained
    geometry stand-in AND ADC ranks by L2 on unnormalized vectors while
    the ground truth is cosine; the query's value is the exact integer
    oracle on the ADC machinery, not retrieval quality."""
    from martech_pipelines_spark.operators import similarity as SIM

    adc_df = QUERIES["s8c_pq_adc_deterministic_topk"](spark, SF)
    _assert_map_side_topk_plan(plan_of(adc_df))

    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = SIM.modular_pq_codebook(emb, m=8, ksub=16, dim=64)
    own = {
        r["vec_id"]: r["s"]
        for r in SIM.quantized_pq_codes(emb, cb, m=8, dim=64)
        .where(F.col("vec_id") % 10 == 0)
        .groupBy("vec_id")
        .agg(F.sum("d2q").alias("s"))
        .collect()
    }
    full = SIM.pq_adc_deterministic_topk(queries, emb, m=8, ksub=16, dim=64, k=5)
    self_rows = {
        r["query_id"]: r["adc_d2q"]
        for r in full.where(F.col("query_id") == F.col("vec_id")).collect()
    }
    # every self-pair that survives its query's top-5 must carry exactly
    # its own assignment-distance sum (and some must survive at all)
    assert self_rows and all(self_rows[q] == own[q] for q in self_rows)

    exact = {
        (r["query_id"], r["vec_id"])
        for r in SIM.brute_force_topk(queries, emb, k=5).collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in adc_df.collect()}
    assert len(exact & got) / len(exact) >= 0.2


def test_s2i_ivfpq_candidates_within_probe_set_and_plan(spark):
    """s2i end-to-end IVFPQ: every returned hit's cell must lie in its
    query's probe set (the structural IVF invariant — ADC can only rank
    candidates the coarse probe admitted), the map-side top-k plan
    shape, and an honest recall floor.  The floor is LOW by design: untrained
    modular coarse quantizer (nprobe 4/16) x untrained residual
    codebook x L2-ADC-vs-cosine ground truth compound — the query
    value-checks the composition machinery (the trained s2d swaps in
    KMeans/Lloyd tables and gates at 0.5), not retrieval quality."""
    from martech_pipelines_spark.operators import similarity as SIM

    df = QUERIES["s2i_ivfpq_deterministic_topk"](spark, SF)
    _assert_map_side_topk_plan(plan_of(df))

    emb = load_table(spark, SF, "embeddings")
    cents = SIM.modular_representatives(emb, nlist=16)
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in SIM.quantized_cell_assignments(emb, cents).collect()
    }
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    probe_of: dict[int, set[int]] = {}
    for r in SIM.quantized_probe_cells(queries, cents, nprobe=4).collect():
        probe_of.setdefault(r["query_id"], set()).add(r["cell"])
    hits = df.collect()
    assert hits
    assert all(cell_of[r["vec_id"]] in probe_of[r["query_id"]] for r in hits)

    exact = {
        (r["query_id"], r["vec_id"])
        for r in SIM.brute_force_topk(queries, emb, k=5).collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in hits}
    assert len(exact & got) / len(exact) >= 0.05


def test_ivf_compaction_preserves_probe_and_recovers(spark, tmp_path):
    """ivf_compact_index folds streamed delta batches into the base
    inverted lists: the probe answer is invariant, the delta dir is
    consumed, the base stays cell-partitioned — and every crash point
    of the swap protocol recovers to the same answer (no lost, no
    double-counted vectors)."""
    import os
    import shutil

    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 3 == 0)
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "idx")
    SIM.ivf_build_index(base, idx, nlist=8)
    SIM.ivf_index_append_batch(emb.where(F.col("vec_id") % 3 == 1), 0, idx)
    SIM.ivf_index_append_batch(emb.where(F.col("vec_id") % 3 == 2), 1, idx)
    want = sorted(map(tuple, SIM.ivf_probe_topk(queries, idx, k=5).collect()))

    SIM.ivf_compact_index(spark, idx)
    assert not os.path.isdir(f"{idx}/corpus_delta")
    assert any(
        d.startswith("cell=") for d in os.listdir(f"{idx}/corpus")
    )  # layout stays partition-prunable
    got = sorted(map(tuple, SIM.ivf_probe_topk(queries, idx, k=5).collect()))
    assert got == want

    # crash point A: died between the two swap renames -> no live
    # corpus, a complete .old, staging still holding the delta
    crash = str(tmp_path / "crash_a")
    SIM.ivf_build_index(base, crash, nlist=8)
    SIM.ivf_index_append_batch(emb.where(F.col("vec_id") % 3 != 0), 0, crash)
    want_c = sorted(
        map(tuple, SIM.ivf_probe_topk(queries, crash, k=5).collect())
    )
    os.rename(f"{crash}/corpus_delta", f"{crash}/corpus_delta.compacting")
    os.rename(f"{crash}/corpus", f"{crash}/corpus.old")
    got_c = sorted(
        map(tuple, SIM.ivf_probe_topk(queries, crash, k=5).collect())
    )  # read path self-heals
    assert got_c == want_c

    # crash point B: died after the swap completed, before cleanup —
    # the live base already CONTAINS the delta; lingering .old and
    # .compacting must be dropped, never re-unioned (double count)
    SIM.ivf_compact_index(spark, crash)
    shutil.copytree(f"{crash}/corpus", f"{crash}/corpus.old")
    os.makedirs(f"{crash}/corpus_delta.compacting", exist_ok=True)
    got_b = sorted(
        map(tuple, SIM.ivf_probe_topk(queries, crash, k=5).collect())
    )
    assert got_b == want_c
    assert not os.path.isdir(f"{crash}/corpus.old")
    assert not os.path.isdir(f"{crash}/corpus_delta.compacting")


def test_quantized_assignment_matches_numpy_argmin(spark):
    """The integer-exact cell assignment must agree with a float64 numpy
    argmin on the same centroids (the quantization cannot move the
    argmin off the true nearest centroid except at sub-1e-6 ties)."""
    import numpy as np

    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, SF, "embeddings")
    cents = SIM.modular_representatives(emb, nlist=8)
    got = {
        r["vec_id"]: r["cell"]
        for r in SIM.quantized_cell_assignments(emb, cents).collect()
    }
    c_rows = sorted(cents.collect(), key=lambda r: r["cell"])
    C = np.array([r["centroid"] for r in c_rows], dtype="float64")
    for r in emb.collect():
        x = np.array(r["embedding"], dtype="float64")
        d2 = ((C - x) ** 2).sum(axis=1)
        assert got[r["vec_id"]] == int(d2.argmin()), r["vec_id"]


def test_dq1_single_pass(spark):
    """The DQ gate is ONE scan + one aggregate: no join of the table to
    itself per constraint (the naive formulation), no Generate."""
    import re

    plan = plan_of(QUERIES["dq1_constraint_check"](spark, SF))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "Join" not in plan


def test_z1_key_is_projection_plus_broadcast_stats(spark):
    """The z-key computation must be a codegen projection over the scan
    with a single broadcast 1-row stats join — no shuffle of the data."""
    plan = plan_of(QUERIES["z1_zorder_key"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the only exchange allowed is the broadcast of the 1-row stats
    assert "Exchange hashpartitioning" not in plan


def _hash_exchanges(plan: str) -> int:
    """Count shuffle Exchange nodes in a formatted plan, excluding
    BroadcastExchange (whose name contains 'Exchange' too)."""
    import re

    return len(re.findall(r"(?<!Broadcast)Exchange \(", plan))


def test_h9_merge_reuses_compaction_shuffles(spark):
    """h9 with non-null keys: the full-outer join must reuse the two
    latest_per_key compaction exchanges — exactly 2 exchanges total
    (regression guard for the null-safe-key coalesce(k,0) plan)."""
    plan = plan_of(QUERIES["h9_merge_upsert"](spark, SF))
    assert _hash_exchanges(plan) == 2
    # null-safe join keys would appear as isnull(user_id)/coalesce pairs
    # in the SortMergeJoin keys; plain equality must not
    assert "isnull(user_id" not in plan


def test_pipe5_single_shuffle(spark):
    """pipe5: compaction window is the ONLY exchange; the export
    transform is a narrow codegen stage on top."""
    plan = plan_of(QUERIES["pipe5_export_e2e"](spark, SF))
    assert _hash_exchanges(plan) == 1
    assert "PushedFilters" in plan  # event_type IN-list reaches the scan


def test_t23_domain_cap_partial_topn(spark):
    """t23: the per-domain cap must run as WindowGroupLimit (partial
    top-n before the exchange bounds skewed domains map-side)."""
    plan = plan_of(QUERIES["t23_domain_cap"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert _hash_exchanges(plan) == 1


def test_r20_gap_fill_no_extra_exchange(spark):
    """r20: daily agg + span grid + ffill window all partition by
    user_id; the grid join must not add exchanges beyond the keyed agg
    and window (2 total)."""
    plan = plan_of(QUERIES["r20_gap_fill"](spark, SF))
    assert _hash_exchanges(plan) <= 2
    assert "CartesianProduct" not in plan


def test_s9_single_aggregation_no_join_back(spark):
    """s9: positive and negative picks come from ONE keyed aggregation
    (struct-max) — no window, no self-join, 1 exchange."""
    plan = plan_of(QUERIES["s9_hard_negatives"](spark, SF))
    assert _hash_exchanges(plan) == 1
    assert "WindowGroupLimit" not in plan  # no window/top-n formulation
    assert "SortMergeJoin" not in plan  # no pos/neg join-back


def test_prep_index_append_equals_full_rebuild(spark, tmp_path):
    """Incremental prep-index maintenance: building on half the corpus
    then appending the other half must yield the identical funnel report
    as a from-scratch build — incremental == full, the dd10 contract."""
    from martech_pipelines_spark.operators import prep

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    full_idx = str(tmp_path / "full_idx")
    prep.prep_index_build(docs, full_idx, w=8)
    want = sorted(map(tuple, prep.prep_funnel_report(spark, full_idx).collect()))

    inc_idx = str(tmp_path / "inc_idx")
    prep.prep_index_build(docs.where(F.col("doc_id") % 2 == 0), inc_idx, w=8)
    prep.prep_index_append(docs.where(F.col("doc_id") % 2 == 1), inc_idx, w=8)
    got = sorted(map(tuple, prep.prep_funnel_report(spark, inc_idx).collect()))
    assert got == want


def test_dd17_cap_is_window_group_limit(spark):
    """dd17: the per-cell cap must run as WindowGroupLimit (partial
    top-k before the exchange), and the centroid side must broadcast."""
    plan = plan_of(QUERIES["dd17_cluster_cap_sample"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_r38_skyline_broadcasts_frontier_no_self_join(spark):
    """r38: the frontier joins back BROADCAST; the part table is never
    sort-merge self-joined (the oracle's quadratic NOT EXISTS is the
    definition, not the plan)."""
    plan = plan_of(QUERIES["r38_skyline"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_h21_merge_is_summary_granularity(spark):
    """h21: the interval folds shuffle summary rows keyed by user —
    no join, no cartesian anywhere in the merge chain."""
    plan = plan_of(QUERIES["h21_incremental_sessionize"](spark, SF))
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_pipe11_histogram_and_agg_share_one_scan_each(spark):
    """pipe11: no joins besides the |sources|-row card join — in
    particular no doc-level self-join for the dup count."""
    plan = plan_of(QUERIES["pipe11_dataset_card"](spark, SF))
    assert "CartesianProduct" not in plan
    # dup counting is an Expand-based distinct agg, not a self-join
    assert "Expand" in plan
