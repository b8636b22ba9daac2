"""Round-3 scale operators: Gopher rule filter, exact-substring window
dedup, SemDeDup, SQ8 quantized search — semantics pinned on crafted
inputs (the full-corpus hash checks live in test_oracle_corpus)."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from martech_pipelines_spark.operators import similarity as SIM  # noqa: E402
from martech_pipelines_spark.operators import text as TX  # noqa: E402
from martech_pipelines_spark.sources import load_table  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def _flags_row(spark, text, **bounds):
    df = spark.createDataFrame([(text,)], "text string")
    flags = TX.gopher_flags(F.col("text"), **bounds)
    return df.select(
        *[flags[k].alias(k) for k in sorted(flags)]
    ).collect()[0].asDict()


def test_gopher_each_rule_fires_independently(spark):
    good = "the quick brown fox jumps over that lazy dog list and more of have to be with words here filling space"
    r = _flags_row(spark, good, min_tokens=5)
    assert r == {
        "keep": True,
        "ok_alpha_words": True,
        "ok_mean_len": True,
        "ok_n_tokens": True,
        "ok_stopwords": True,
        "ok_symbol_ratio": True,
    }
    # too short
    assert not _flags_row(spark, "the and of", min_tokens=5)["ok_n_tokens"]
    # symbol soup: one '#' per word blows the 0.1 symbol-to-word ratio
    sym = "the # and # of # to # that # have # with # be"
    assert not _flags_row(spark, sym, min_tokens=5)["ok_symbol_ratio"]
    # numeric tokens fail the alpha-word rule
    nums = "the 111 222 333 444 555 666 777 888 999 000 of"
    assert not _flags_row(spark, nums, min_tokens=5)["ok_alpha_words"]
    # no stopwords
    assert not _flags_row(spark, "quick brown fox jumps over lazy dog today", min_tokens=5)["ok_stopwords"]
    # mean token length out of published [3, 10] bounds
    short = "a b c d e f g h i j k l m n o p"
    assert not _flags_row(spark, short, min_tokens=5)["ok_mean_len"]


def test_gopher_empty_doc_fails_everything(spark):
    r = _flags_row(spark, "")
    assert not r["keep"]
    assert not r["ok_symbol_ratio"] and not r["ok_alpha_words"]


def test_substring_dup_stats_planted(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 toks
    rows = [
        (1, shared + " lambda mu"),          # 12 tokens -> 5 windows
        (2, "intro words " + shared),        # 12 tokens -> 5 windows
        (3, "one two three four five six seven eight nine ten"),  # disjoint
        (4, "too short"),                    # < 8 tokens -> no windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in TX.substring_dup_stats(df, w=8).collect()
    }
    # doc 4 has no 8-token window at all -> absent from output
    assert set(out) == {1, 2, 3}
    assert out[3]["n_dup_windows"] == 0 and out[3]["dup_ratio"] == 0.0
    # the 10 shared tokens give 3 shared windows; each doc has 5 total
    assert out[1]["n_windows"] == 5 and out[2]["n_windows"] == 5
    assert out[1]["n_dup_windows"] == 3 and out[2]["n_dup_windows"] == 3
    assert out[1]["dup_ratio"] == 0.6


def test_substring_within_doc_repeat_is_not_cross_doc_dup(spark):
    phrase = "red orange yellow green blue indigo violet pink"  # exactly 8
    df = spark.createDataFrame(
        [(1, phrase + " " + phrase), (2, "totally different words forever and ever again more")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in TX.substring_dup_stats(df, w=8).collect()}
    # doc 1 repeats its own phrase: the repeated window is NOT cross-doc
    assert out[1]["n_dup_windows"] == 0


def test_semdedup_drops_scaled_copy_keeps_rest(spark):
    emb = load_table(spark, SF0001, "embeddings").limit(40)
    planted = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0))
        .cast("array<float>")
        .alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(planted)
    out = SIM.semdedup(corpus, dim=64, threshold=0.95, cluster_bits=4)
    rows = {r["vec_id"]: r.asDict() for r in out.collect()}
    originals = [v for v in rows if v < 1_000_000]
    copies = [v for v in rows if v >= 1_000_000]
    assert copies, "fixture must plant copies"
    for c in copies:
        # scaled copy: same direction -> same cluster, and dropped (id > original)
        assert rows[c]["cluster"] == rows[c - 1_000_000]["cluster"]
        assert rows[c]["keep"] is False
        assert rows[c - 1_000_000]["keep"] is True
    # row count preserved: semdedup annotates, it does not filter
    assert len(rows) == len(originals) + len(copies)


def test_sq8_reconstruction_error_bounded(spark):
    emb = load_table(spark, SF0001, "embeddings")
    mins, maxs = SIM.sq8_stats(emb, dim=64)
    # max reconstruction error per dim is half a quantization step
    half_steps = [(mx - mn) / 255.0 / 2.0 + 1e-12 for mn, mx in zip(mins, maxs)]
    dq = emb.select(
        "vec_id",
        SIM.sq8_dequantized(F.col("embedding"), mins, maxs).alias("dq"),
        SIM._as_double(F.col("embedding")).alias("v"),
    )
    err = dq.select(
        F.max(
            F.aggregate(
                F.zip_with("v", "dq", lambda a, b: F.abs(a - b)),
                F.lit(0.0),
                lambda acc, v: F.greatest(acc, v),
            )
        ).alias("worst")
    ).collect()[0]["worst"]
    assert err <= max(half_steps)


def test_sq8_topk_high_recall_vs_exact(spark):
    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.brute_force_topk(queries, emb, k=5)
    approx = SIM.sq8_topk(queries, emb, dim=64, k=5)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # int8 distortion on 64-dim vectors is tiny; recall should be near-exact
    assert recall >= 0.9, f"SQ8 recall {recall} too low"


def test_decontaminate_flags_only_overlapping_train_docs(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 toks
    train = spark.createDataFrame(
        [
            (1, shared + " lambda mu"),                       # overlaps eval
            (2, "one two three four five six seven eight nine ten"),
            (3, "short doc"),                                  # no windows
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "prefix words " + shared)], "doc_id long, text string"
    )
    from martech_pipelines_spark.operators import dedup as DD

    out = {r["doc_id"]: r.asDict() for r in DD.decontaminate(train, eval_docs, w=8).collect()}
    # every train doc appears, windowless ones included (n_eval_hits 0)
    assert set(out) == {1, 2, 3}
    assert out[1]["contaminated"] and out[1]["n_eval_hits"] == 3
    assert not out[2]["contaminated"] and out[2]["n_eval_hits"] == 0
    assert not out[3]["contaminated"]


def test_pq_codes_shape_and_determinism(spark):
    emb = load_table(spark, SF0001, "embeddings")
    books = SIM.pq_train_codebooks(emb, dim=64, m=8, ksub=16)
    assert books.shape == (8, 16, 8)
    encode = SIM.pq_encode_udf(books)
    codes = emb.select("vec_id", encode(F.col("embedding")).alias("c")).collect()
    for r in codes:
        assert len(r["c"]) == 8 and all(0 <= c < 16 for c in r["c"])
    # retrain + re-encode must be byte-identical (seeded sample + init)
    books2 = SIM.pq_train_codebooks(emb, dim=64, m=8, ksub=16)
    assert (books == books2).all()


def test_pq_topk_recall_vs_exact(spark):
    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.brute_force_topk(queries, emb, k=5)
    approx = SIM.pq_topk(queries, emb, dim=64, k=5)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"PQ recall {recall} too low"


def test_substring_dup_stats_matches_reference_under_hot_window(spark):
    """A boilerplate header opens 300 of 400 short docs, so its window is
    the hottest hash (15% of all (doc, window) rows); per-doc stats
    must equal a plain-Python window count on the same texts."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    header = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    for i in range(400):
        tail = " ".join(rng.choice(vocab) for _ in range(4))
        rows.append((i, f"{header} {tail}" if i < 300 else " ".join(
            rng.choice(vocab) for _ in range(12))))
    windows = {
        i: [tuple(t.split()[j:j + 8]) for j in range(len(t.split()) - 7)]
        for i, t in rows
    }
    docs_of = {}
    for i, ws in windows.items():
        for w in ws:
            docs_of.setdefault(w, set()).add(i)
    want = {}
    for i, ws in windows.items():
        n_dup = sum(1 for w in ws if len(docs_of[w]) >= 2)
        want[i] = (len(ws), n_dup)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in TX.substring_dup_stats(df, w=8).collect()
    }
    assert {i: (r["n_windows"], r["n_dup_windows"]) for i, r in got.items()} == want
    for i, (n, d) in want.items():
        assert abs(got[i]["dup_ratio"] - d / n) <= 5e-5


def test_training_shard_writer_deterministic_and_complete(spark, tmp_path):
    import json

    from martech_pipelines_spark.operators.sinks import write_training_shards

    docs = load_table(spark, SF0001, "documents").withColumn(
        "n_tok", TX.token_count(F.col("text")).cast("long")
    )
    m1 = write_training_shards(
        docs, str(tmp_path / "shards1"), shards=8, token_col="n_tok"
    )
    # reorder + repartition the input: shard membership must not move
    shuffled = docs.orderBy(F.rand(7)).repartition(13)
    m2 = write_training_shards(
        shuffled, str(tmp_path / "shards2"), shards=8, token_col="n_tok"
    )
    assert m1 == m2
    assert m1["total_rows"] == docs.count()
    assert set(m1["per_shard"]) <= {str(i) for i in range(8)}
    # manifest on disk matches the returned one
    with open(tmp_path / "shards1" / "_manifest.json") as f:
        assert json.load(f) == m1
    # read-back: every row lands in the shard md5 says it should
    back = spark.read.parquet(str(tmp_path / "shards1"))
    expect = (TX.md5_bucket32(F.col("doc_id").cast("string"), "shard") % 8).cast("int")
    assert back.where(F.col("__shard") != expect).count() == 0
    assert back.count() == m1["total_rows"]


def test_window_ops_null_and_empty_text_safe(spark):
    """NULL/empty text must not crash any window-hash consumer and must
    produce the documented degenerate outputs."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in TX.substring_dup_stats(df, w=8).collect()}
    # null/empty docs have no windows -> absent; the real doc has 2
    assert set(out) == {3}
    assert out[3]["n_windows"] == 2 and out[3]["n_dup_windows"] == 0

    from martech_pipelines_spark.operators import dedup as DD

    eval_docs = spark.createDataFrame([(9, "x y z")], "doc_id long, text string")
    decon = {r["doc_id"]: r.asDict() for r in DD.decontaminate(df, eval_docs).collect()}
    assert set(decon) == {1, 2, 3}
    assert all(not v["contaminated"] for v in decon.values())

    flags = TX.gopher_flags(F.col("text"))
    row = df.where(F.col("doc_id") == 1).select(
        *[flags[k].alias(k) for k in sorted(flags)]
    ).collect()[0]
    # NULL text: no rule may evaluate to True (NULL keep is falsy on filter)
    assert not any(v is True for v in row.asDict().values())


def _cc_bruteforce(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in parent}


def _spy_star_phase(monkeypatch):
    """Count how often ``dup_clusters`` hands its edges to the star phase."""
    from martech_pipelines_spark.operators import dedup as DD

    calls = []
    star = DD._star_clusters

    def spy(*args):
        calls.append(args)
        return star(*args)

    monkeypatch.setattr(DD, "_star_clusters", spy)
    return calls


def test_star_cc_matches_union_find_on_random_graph(spark, monkeypatch):
    """Both phases of ``dup_clusters`` against a driver-side union-find:
    propagation at the default budget, and the star phase after a
    one-round budget."""
    import random

    from martech_pipelines_spark.operators import dedup as DD

    rng = random.Random(11)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _cc_bruteforce(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    calls = _spy_star_phase(monkeypatch)
    got = {r["id"]: r["cluster"] for r in DD.dup_clusters(pairs).collect()}
    assert got == want and not calls
    got = {r["id"]: r["cluster"] for r in DD.dup_clusters(pairs, max_iter=1).collect()}
    assert got == want and len(calls) == 1


def test_star_cc_converges_on_chain_beyond_propagation_budget(spark, monkeypatch):
    """A 150-link path has diameter 150: min-label propagation's default
    20-round budget cannot finish it, so ``dup_clusters`` switches to the
    star phase, which must finish in O(log n) rounds."""
    from martech_pipelines_spark.operators import dedup as DD

    chain = [(i, i + 1) for i in range(150)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    calls = _spy_star_phase(monkeypatch)
    got = {r["id"]: r["cluster"] for r in DD.dup_clusters(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == 151
    assert len(calls) == 1


def test_star_cc_equals_propagation_on_shallow_graph(spark, monkeypatch):
    from martech_pipelines_spark.operators import dedup as DD

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    calls = _spy_star_phase(monkeypatch)
    a = {r["id"]: r["cluster"] for r in DD.dup_clusters(pairs).collect()}
    assert not calls
    b = {r["id"]: r["cluster"] for r in DD.dup_clusters(pairs, max_iter=1).collect()}
    assert len(calls) == 1
    assert a == b == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_ivfpq_recall_and_pruned_probe(spark, tmp_path):
    emb = load_table(spark, SF0001, "embeddings")
    idx = str(tmp_path / "ivfpq")
    SIM.ivfpq_build_index(emb, idx, dim=64, nlist=8, m=8, ksub=16)
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.brute_force_topk(queries, emb, k=5)
    approx = SIM.ivfpq_probe_topk(
        queries, idx, k=5, nprobe=4, refine_corpus=emb
    )
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # nprobe=4 of nlist=8 scans ~half the corpus; refined shortlist should
    # recover most true neighbors
    assert recall >= 0.5, f"IVFPQ recall {recall} too low"
    # code table is the only per-vector payload: m ints per row
    codes = spark.read.parquet(f"{idx}/codes")
    row = codes.limit(1).collect()[0]
    assert len(row["codes"]) == 8
    # deterministic rebuild: same codes for same input
    idx2 = str(tmp_path / "ivfpq2")
    SIM.ivfpq_build_index(emb, idx2, dim=64, nlist=8, m=8, ksub=16)
    c1 = {r["vec_id"]: (r["cell"], tuple(r["codes"])) for r in codes.collect()}
    c2 = {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{idx2}/codes").collect()
    }
    assert c1 == c2


# --- dd10 incremental dedup --------------------------------------------------


def test_incremental_dedup_equals_full_run_filtered(spark, tmp_path):
    """Pairs from (index signed once) + (batch probe) must equal the
    full-corpus pipeline's pairs restricted to batch membership."""
    from martech_pipelines_spark.operators import dedup as DD

    docs = load_table(spark, SF0001, "documents").select("doc_id", "text")
    index_corpus = docs.where(F.col("doc_id") % 5 == 0)
    batch = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" zz yy xx")).alias("text"),
    )
    idx = str(tmp_path / "sig_index")
    DD.minhash_build_index(index_corpus, idx, num_perm=16, shingle_n=3)
    incr = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in DD.minhash_incremental_dedup(
            spark, idx, batch, threshold=0.5, num_perm=16, bands=4
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in DD.minhash_near_duplicates(
            index_corpus.unionByName(batch),
            threshold=0.5,
            num_perm=16,
            bands=4,
            shingle_n=3,
        ).collect()
        if r["id_b"] >= 2000000
    }
    assert incr == full and len(incr) > 0


def test_incremental_dedup_finds_batch_internal_pairs(spark, tmp_path):
    from martech_pipelines_spark.operators import dedup as DD

    index_corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (100, "one two three four five six seven"),
            (101, "one two three four five six seven"),  # dup WITHIN batch
            (102, "alpha beta gamma delta epsilon zeta"),  # dup of index
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "sig_tiny")
    DD.minhash_build_index(index_corpus, idx, num_perm=16, shingle_n=3)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_incremental_dedup(
            spark, idx, batch, threshold=0.9, num_perm=16, bands=4
        ).collect()
    }
    assert (100, 101) in pairs  # batch-internal
    assert (1, 102) in pairs  # batch-vs-index


# --- t17 n-gram LM scoring ---------------------------------------------------


def test_ngram_lm_smoothing_arithmetic_on_micro_corpus(spark):
    """Hand-check the add-k arithmetic: corpus = {'a b', 'a b', 'a c'};
    V=3, c(a)=3, c(a b)=2, c(a c)=1."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in TX.ngram_lm_scores(docs, add_k=0.5).collect()}
    k, v = 0.5, 3
    nll_ab = -math.log((2 + k) / (3 + k * v))
    nll_ac = -math.log((1 + k) / (3 + k * v))
    assert out[1]["n_bigrams"] == 1
    assert abs(out[1]["avg_nll"] - round(nll_ab, 4)) < 1e-9
    assert abs(out[3]["avg_nll"] - round(nll_ac, 4)) < 1e-9
    # rarer continuation => higher nll
    assert out[3]["avg_nll"] > out[1]["avg_nll"]


def test_ngram_lm_short_docs_get_null(spark):
    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two words here")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in TX.ngram_lm_scores(docs).collect()}
    assert out[1]["n_bigrams"] == 0 and out[1]["avg_nll"] is None
    assert out[2]["n_bigrams"] == 0 and out[2]["avg_nll"] is None
    assert out[3]["n_bigrams"] == 2 and out[3]["avg_nll"] is not None


# --- t18 DSIR importance -----------------------------------------------------


def test_dsir_ranks_target_like_docs_higher(spark):
    rows = (
        [(i, "wiki", "science history article reference citation") for i in range(20)]
        + [(100, "web", "science history article reference citation")]
        + [(101, "web", "click buy cheap deal offer")]
        + [(102, "web", "")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: r
        for r in TX.dsir_importance(docs, target_source="wiki").collect()
    }
    assert set(out) == {100, 101, 102}  # target docs excluded from output
    assert out[100]["importance"] > out[101]["importance"]
    assert out[102]["n_feats"] == 0 and out[102]["importance"] is None


# --- mm6 perceptual-hash near-dup --------------------------------------------


def test_phash_finds_exact_and_near_payload_dups(spark):
    from martech_pipelines_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "Xhe quick brown fox jumps over the lazy dog again and again"),
            (4, "completely different content with other words 0123456789 !!!"),
        ],
        "doc_id long, text string",
    )
    media = MM.documents_as_media(docs)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in MM.phash_near_duplicates(media, max_hamming=2, bands=4).collect()
    }
    assert pairs[(1, 2)] == 0  # identical payloads
    assert (1, 3) in pairs and pairs[(1, 3)] <= 2  # one substituted byte
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_phash_segments_capture_position_not_just_histogram(spark):
    """Same byte multiset, different order => different hash (the reason
    the segment form replaced a pure histogram, which was corpus-degenerate)."""
    from martech_pipelines_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, "zzzzzzzzaaaaaaaa"), (2, "aaaaaaaazzzzzzzz")],
        "doc_id long, text string",
    )
    ph = {
        r["doc_id"]: r["phash"]
        for r in MM.phash16_table(MM.documents_as_media(docs)).collect()
    }
    assert ph[1] != ph[2]


# --- BPE merge learning ------------------------------------------------------


def test_bpe_learns_sennrich_example_merges(spark):
    """Hand-computed merge sequence on the classic (Sennrich et al. 2016)
    word-frequency example: low x5, lower x2, newest x6, widest x3."""
    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
        "doc_id long, text string",
    )
    merges = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in TX.bpe_learn_merges(docs, n_merges=4).orderBy("rank").collect()
    ]
    # es(9) ties st(9) -> lexicographic; then est(9); lo(7) ties ow(7); low(7)
    assert merges == [
        (0, "e", "s", 9),
        (1, "es", "t", 9),
        (2, "l", "o", 7),
        (3, "lo", "w", 7),
    ]


def test_bpe_merge_apply_is_greedy_leftmost(spark):
    df = spark.createDataFrame([(["a", "a", "a"],)], "sym array<string>")
    from martech_pipelines_spark.operators.text import _bpe_merge_expr

    out = df.select(_bpe_merge_expr(F.col("sym"), "a", "a").alias("m")).collect()
    assert out[0]["m"] == ["aa", "a"]


def test_bpe_merge_budget_guard(spark):
    """The merge budget is an explicit up-front failure (each merge is a
    sequential vocab-sized job), mirroring dup_clusters' iteration cap."""
    import pytest as _pytest

    docs = spark.createDataFrame([(1, "aa bb")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="merge budget"):
        TX.bpe_learn_merges(docs, n_merges=TX._BPE_MAX_MERGES + 1)
    with _pytest.raises(ValueError, match=">= 0"):
        TX.bpe_learn_merges(docs, n_merges=-1)
    # n_merges=0 is a legal no-op returning the empty table
    assert TX.bpe_learn_merges(docs, n_merges=0).count() == 0


def test_bm25_rebuild_purges_stream_batches(spark, tmp_path):
    """Re-running the batch build over an index grown by streaming
    ingest must be FULL overwrite: stale batch_id=N postings/stats
    would double-count re-ingested docs in every later query."""
    docs = load_table(spark, SF0001, "documents").limit(30)
    idx = str(tmp_path / "bm25_idx")
    TX.bm25_build_index(docs, idx)
    # simulate a stream append of the SAME docs (worst-case duplication)
    post = spark.read.parquet(f"{idx}/postings/batch_id=-1")
    post.write.partitionBy("term").parquet(f"{idx}/postings/batch_id=0")
    stats = spark.read.parquet(f"{idx}/stats/batch_id=-1")
    stats.write.parquet(f"{idx}/stats/batch_id=0")

    TX.bm25_build_index(docs, idx)  # rebuild = full overwrite
    n_docs = (
        spark.read.option("basePath", idx + "/stats")
        .parquet(idx + "/stats")
        .agg(F.sum("n_docs"))
        .collect()[0][0]
    )
    assert n_docs == 30  # not 60: the stale batch is gone
