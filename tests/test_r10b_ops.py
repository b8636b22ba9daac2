"""Round-10 wave-2/3/4 operator micro-pins: hand-computed cases for the
trend kit, BFS, the transition stitch, the transforms, and the
histogram-quantile readout."""

from __future__ import annotations

import datetime
import hashlib

from pyspark.sql import functions as F

from martech_pipelines_spark.operators.graph import bfs_hops_rounds
from martech_pipelines_spark.operators.sketches import histogram_quantile_readout
from martech_pipelines_spark.operators.windows import (
    transition_bounds,
    transition_cells,
    transition_readout,
)
from martech_pipelines_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )


# --- dq16 Mann-Kendall ------------------------------------------------------


def test_mann_kendall_hand_case(spark):
    # one type, 4 days with counts 1,2,2,3:
    # pairs: (1,2)+ (1,2)+ (1,3)+ (2,2)0 (2,3)+ (2,3)+ -> S = 5
    # ties: one group of size 2 -> tie_term = 2*1*9 = 18
    # var18 = 4*3*13 - 18 = 138; trend: 9*25=225 > 2*138=276? no -> none
    t = datetime.datetime
    rows = []
    eid = 0
    for day, n in [(1, 1), (2, 2), (3, 2), (4, 3)]:
        for _ in range(n):
            rows.append((eid, 1, "view", t(2024, 1, day, 12)))
            eid += 1
    df = _events(spark, rows)
    # run the registered query body on a temp dir?  simpler: inline the
    # same computation via the registered callable is sf-dir-bound, so
    # recompute expected from the oracle formula instead: pin the
    # DataFrame pipeline by calling the query's building blocks through
    # a parquet round-trip.
    d = spark.createDataFrame([], "x int")  # placeholder to keep flake quiet
    del d
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        out = {
            r["event_type"]: (r["n_days"], r["s_stat"], r["var18"], r["trend"])
            for r in QUERIES["dq16_trend_mann_kendall"](spark, td).collect()
        }
    assert out == {"view": (4, 5, 138, "none")}


def test_sen_slope_hand_case(spark):
    # counts 1,2,4 on days 1,2,3: slopes (2-1)/1=1, (4-1)/2=1.5, (4-2)/1=2
    # lower median of 3 = 2nd smallest = 1.5 -> 1_500_000 e6
    t = datetime.datetime
    rows = []
    eid = 0
    for day, n in [(1, 1), (2, 2), (3, 4)]:
        for _ in range(n):
            rows.append((eid, 1, "view", t(2024, 1, day, 12)))
            eid += 1
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        _events(spark, rows).write.mode("overwrite").parquet(
            f"{td}/events.parquet"
        )
        out = {
            r["event_type"]: (r["n_pairs"], r["slope_e6"])
            for r in QUERIES["dq17_sen_slope"](spark, td).collect()
        }
    assert out == {"view": (3, 1_500_000)}


# --- g8 BFS -----------------------------------------------------------------


def test_bfs_hops_micro_graph(spark):
    # path 1-2-3-4-5 plus branch 2-6; seed=1, 3 rounds:
    # dists: 1:0, 2:1, 3:2, 6:2, 4:3; 5 unreached (absent)
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6)]
    both = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(both, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {
        r["node"]: r["hops"]
        for r in bfs_hops_rounds(edges, seeds, rounds=3).collect()
    }
    assert out == {1: 0, 2: 1, 3: 2, 6: 2, 4: 3}


# --- mart28/h32 transition stitch ------------------------------------------


def test_transition_stitch_counts_boundary_pair(spark):
    # user 1: view@t1, click@t2 | cut | purchase@t3.
    # within-batch cells: (view->click); boundary stitch must add
    # (click->purchase) — a cells-only fold would drop it.
    t = datetime.datetime
    b1 = _events(
        spark,
        [(0, 1, "view", t(2024, 1, 1)), (1, 1, "click", t(2024, 1, 2))],
    )
    b2 = _events(spark, [(2, 1, "purchase", t(2024, 1, 3))])
    stitch = (
        transition_bounds(b1)
        .select("user_id", F.col("last_type").alias("from_type"))
        .join(
            transition_bounds(b2).select(
                "user_id", F.col("first_type").alias("to_type")
            ),
            "user_id",
        )
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n_trans"))
    )
    cells = (
        transition_cells(b1)
        .unionByName(transition_cells(b2))
        .unionByName(stitch)
        .groupBy("from_type", "to_type")
        .agg(F.sum("n_trans").cast("long").alias("n_trans"))
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n_trans"], r["p_e6"])
        for r in transition_readout(cells).collect()
    }
    assert got == {
        ("view", "click"): (1, 1_000_000),
        ("click", "purchase"): (1, 1_000_000),
    }
    # and it equals the full recompute over the union
    full = {
        (r["from_type"], r["to_type"]): (r["n_trans"], r["p_e6"])
        for r in transition_readout(
            transition_cells(b1.unionByName(b2))
        ).collect()
    }
    assert got == full


# --- r40 histogram quantile readout ----------------------------------------


def test_histogram_quantile_interpolation_hand_case(spark):
    # one flag, bins 0 and 1 (width 10000): counts 3 and 1, n=4.
    # p50: target = 2 -> bin 0, est = 0 + (2-0)*10000 div 3 = 6666
    # p90: target = (4*90+99)//100 = 4 -> bin 1, cum_before=3,
    #      est = 10000 + (4-3)*10000 div 1 = 20000
    # p99: target = 4 -> same as p90
    hist = spark.createDataFrame(
        [("A", 0, 3), ("A", 1, 1)], "flag string, bin long, cnt long"
    )
    got = {
        (r["flag"], r["p"]): r["est_cents"]
        for r in histogram_quantile_readout(hist).collect()
    }
    assert got == {("A", 50): 6666, ("A", 90): 20000, ("A", 99): 20000}


# --- t56 redaction ----------------------------------------------------------


def test_pii_redaction_exact_output(spark):
    # doc_id chosen so BOTH injections fire (12 % 4 == 0, 12 % 6 == 0)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(12, "hello world", "en", "s", 11)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{td}/documents.parquet")
        row = QUERIES["t56_pii_redaction"](spark, td).collect()[0]
    expected = (
        "hello world contact [EMAIL] via [URL] call [PHONE]"
    )
    assert row["n_redactions"] == 3
    assert row["redacted_md5"] == hashlib.md5(expected.encode()).hexdigest()


# --- t57 intra-doc dedup ----------------------------------------------------


def test_intradoc_dedup_drops_repeated_chunk(spark):
    # 30 tokens = 3 chunks of 10; chunk1 == chunk3 -> kept = 2, first
    # occurrence order preserved
    c1 = " ".join(f"w{i}" for i in range(10))
    c2 = " ".join(f"x{i}" for i in range(10))
    text = f"{c1} {c2} {c1}"
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(1, text, "en", "s", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{td}/documents.parquet")
        row = QUERIES["t57_intradoc_dedup"](spark, td).collect()[0]
    assert (row["n_chunks"], row["n_kept"]) == (3, 2)
    assert row["kept_md5"] == hashlib.md5(f"{c1} {c2}".encode()).hexdigest()


# --- s32 agreement ----------------------------------------------------------


def test_lexical_dense_agreement_crafted_clusters(spark):
    """Two 6-doc clusters with aligned texts and embeddings: both
    retrievers pick the same-cluster neighbors, so the query docs (0
    and 10) land in the overlap=5 bucket.  Flipping doc 0's EMBEDDING
    to the other cluster drops its overlap to 0 — pinning that the
    histogram actually reads both retrievers, not one twice."""
    import tempfile

    phrase_a = "alpha beta gamma delta epsilon zeta"
    phrase_b = "one two three four five six"
    docs, embs = [], []
    for i in range(12):
        cl = 0 if i < 6 else 1
        text = (phrase_a if cl == 0 else phrase_b) + f" tail{i}"
        docs.append((i, text, "en", "s", len(text)))
        embs.append((i, [1.0, 0.0] if cl == 0 else [0.0, 1.0], cl))
    # make ids 0 and 10 the query subset (vec_id % 10 == 0)
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            docs,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{td}/documents.parquet")
        spark.createDataFrame(
            embs, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(f"{td}/embeddings.parquet")
        got = {
            r["overlap"]: r["n_docs"]
            for r in QUERIES["s32_lexical_dense_agreement"](spark, td).collect()
        }
        assert got == {5: 2}

        # flip doc 0's embedding to cluster B: lexical stays A, dense
        # becomes B -> query 0's overlap drops to 0.  Query 10's dense
        # top-5 now admits vec 0 (cos-1.0 ties break by id: {0,6,7,8,9}
        # displaces 11), while its lexical set stays {6,7,8,9,11} ->
        # overlap 4.  Pins that the histogram reads BOTH retrievers and
        # the dense side's tie-broken self-exclusion.
        embs2 = [(0, [0.0, 1.0], 1)] + embs[1:]
        spark.createDataFrame(
            embs2, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(f"{td}/embeddings.parquet")
        got2 = {
            r["overlap"]: r["n_docs"]
            for r in QUERIES["s32_lexical_dense_agreement"](spark, td).collect()
        }
        assert got2 == {0: 1, 4: 1}


# --- s33 purity --------------------------------------------------------------


def test_cell_label_purity_crafted(spark):
    # 4 vectors in cell 1 (dim1>0 only): labels 7,7,7,3 -> majority 7,
    # purity = round(3/4 * 1e6) = 750000.  1 vector in cell 0 -> purity 1e6.
    import tempfile

    rows = [
        (0, [1.0] + [0.0] * 63, 7),
        (1, [1.0] + [0.0] * 63, 7),
        (2, [1.0] + [0.0] * 63, 7),
        (3, [1.0] + [0.0] * 63, 3),
        (4, [-1.0] + [0.0] * 63, 5),
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(f"{td}/embeddings.parquet")
        got = {
            r["cell"]: (
                r["n_vecs"],
                r["majority_label"],
                r["majority_count"],
                r["purity_e6"],
            )
            for r in QUERIES["s33_cell_label_purity"](spark, td).collect()
        }
    assert got == {1: (4, 7, 3, 750000), 0: (1, 5, 1, 1000000)}


# --- dq18 completeness -------------------------------------------------------


def test_completeness_matrix_crafted_defects(spark):
    # one source with every defect class exactly once
    import tempfile

    rows = [
        (0, "a healthy document body", "en", "s", 23),
        (1, None, "en", "s", 0),            # null text
        (2, "   ", "en", "s", 3),           # blank text (also short)
        (3, "tiny", "en", "s", 4),          # short
        (4, "no language tag here ok", None, "s", 23),   # missing lang
        (5, "stale stats column here", "fr", "s", 99),   # len mismatch
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{td}/documents.parquet")
        r = QUERIES["dq18_completeness_matrix"](spark, td).collect()[0]
        # the incremental twin reads the same merged lang cells: a NULL
        # tag is no language there either
        inc = QUERIES["h35_incremental_completeness"](spark, td).collect()
        assert [tuple(x) for x in inc] == [tuple(r)]
    assert (
        r["n_docs"],
        r["n_null_text"],
        r["n_blank_text"],
        r["n_short"],
        r["n_no_lang"],
        r["n_len_mismatch"],
    ) == (6, 1, 1, 3, 1, 1)
    assert r["n_langs"] == 2  # en, fr (null excluded by count distinct)
