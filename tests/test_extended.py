"""Extended-surface operators: dedup, similarity, text, multimodal, windows."""

from __future__ import annotations

from pyspark.sql import functions as F

from martech_pipelines_spark.operators import dedup as DD
from martech_pipelines_spark.operators import multimodal as MM
from martech_pipelines_spark.operators import similarity as SIM
from martech_pipelines_spark.operators import text as TX
from martech_pipelines_spark.sources import load_table

SF = "/root/testdata/sf0.001"


# --- text --------------------------------------------------------------------


def test_tokens_and_shingles_edges(spark):
    df = spark.createDataFrame(
        [("The cat, the CAT!",), ("",), ("one two",), (None,)], "t string"
    )
    out = df.select(
        TX.tokens(F.col("t")).alias("tk"),
        TX.shingles(F.col("t"), 3).alias("sh"),
    ).collect()
    assert out[0]["tk"] == ["the", "cat", "the", "cat"]
    assert out[0]["sh"] == ["the cat the", "cat the cat"]  # distinct
    assert out[1]["tk"] == [] and out[1]["sh"] == []
    assert out[2]["sh"] == []  # shorter than shingle width
    assert out[3]["tk"] is None


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog of a house",),
            ("el gato y la casa de que si",),
            ("zzz qqq www",),
        ],
        "t string",
    )
    out = [r[0] for r in df.select(TX.lang_id(F.col("t")).alias("lang")).collect()]
    assert out == ["en", "es", "und"]


def test_lang_id_tie_breaks_alphabetically(spark):
    """Tied marker scores -> alphabetically-first language, matching the
    oracle's de->en->es->fr CASE order (ADVICE r01)."""
    df = spark.createDataFrame(
        [
            ("der das the and",),  # de=2, en=2 -> de
            ("the of le la",),  # en=2, fr=2 -> en
        ],
        "t string",
    )
    out = [r[0] for r in df.select(TX.lang_id(F.col("t")).alias("lang")).collect()]
    assert out == ["de", "en"]


def test_quality_score_bounds(spark):
    docs = load_table(spark, SF, "documents")
    stats = docs.select(TX.quality_score(F.col("text")).alias("q")).agg(
        F.min("q"), F.max("q")
    ).collect()[0]
    assert 0.0 <= stats[0] <= stats[1] <= 1.0


def test_pii_redaction_counts_and_mask(spark):
    df = spark.createDataFrame(
        [
            ("mail Bob.Smith+x@Example.COM and call 9876543210 now",),
            ("digits 123456789 are only nine",),  # not a 10-digit phone
            ("no pii here",),
            ("Keep My Case, mail bob@x.com",),
        ],
        "t string",
    )
    c = TX.pii_counts(F.col("t"))
    out = df.select(
        c["n_emails"].alias("e"),
        c["n_phones"].alias("p"),
        TX.redact_pii(F.col("t")).alias("r"),
    ).collect()
    assert [(r["e"], r["p"]) for r in out] == [(1, 1), (0, 0), (0, 0), (1, 0)]
    assert out[0]["r"] == "mail [PII] and call [PII] now"
    # non-PII text keeps its casing — only the spans are masked
    assert out[3]["r"] == "Keep My Case, mail [PII]"


def test_repetition_ratio_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),  # 3 bigrams, all 'spam spam'
            (2, "a b c d"),  # 3 distinct bigrams
            (3, "one"),  # <2 tokens -> no row
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in TX.repetition_table(df).collect()}
    assert rows[1]["rep_ratio"] == 1.0 and rows[1]["n_bigrams"] == 3
    assert abs(rows[2]["rep_ratio"] - 0.3333) < 1e-9
    assert 3 not in rows


def test_sequence_pack_offset_semantics(spark):
    # 4 docs of 3 tokens each, budget 5: offsets 0,3,6,9 -> packs 0,0,1,1
    df = spark.createDataFrame(
        [(i, "x y z", "s") for i in range(4)],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source"], r["pack_id"]): (r["n_docs"], r["total_tokens"])
        for r in TX.sequence_pack(df, budget=5).collect()
    }
    assert out == {("s", 0): (2, 6), ("s", 1): (2, 6)}


def test_chunk_spans_edges(spark):
    df = spark.createDataFrame(
        [(1, "a" * 350), (2, ""), (3, "xyz")], "doc_id long, text string"
    )
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_len"])
        for r in TX.chunk_spans(df, chunk_chars=200, stride=150).collect()
    )
    # doc1: [0:200], [150:350], [300:350]; doc2 empty -> none; doc3 one short
    assert rows == [(1, 0, 200), (1, 1, 200), (1, 2, 50), (3, 0, 3)]


def test_deterministic_sample_is_partitioning_invariant(spark):
    docs = load_table(spark, SF, "documents")
    a = {r["doc_id"] for r in TX.deterministic_sample(docs, pct=30).collect()}
    b = {
        r["doc_id"]
        for r in TX.deterministic_sample(docs.repartition(17), pct=30).collect()
    }
    assert a == b and 0 < len(a) < docs.count()
    # monotone: raising pct only adds members (nested splits)
    c = {r["doc_id"] for r in TX.deterministic_sample(docs, pct=60).collect()}
    assert a <= c


def test_cross_source_dup_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "a", "same text"),
            (2, "b", "same text"),  # cross-source dup with 1
            (3, "a", "unique one"),
            (4, "a", "also same"),
            (5, "a", "also same"),  # same-source dup: NOT cross-source
        ],
        "doc_id long, source string, text string",
    )
    rows = {r["source"]: r for r in DD.cross_source_dup_stats(df).collect()}
    assert rows["a"]["n_docs"] == 4 and rows["a"]["n_cross_source"] == 1
    assert rows["b"]["n_docs"] == 1 and rows["b"]["n_cross_source"] == 1


def test_normalized_embeddings_array_form(spark):
    # Pins the array-returning operator directly: the s5 corpus query only
    # checks the exploded scalar projection (driver-hashability), so the
    # unit-vector array contract lives here.
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None)],
        "vec_id int, embedding array<float>",
    )
    rows = {r["vec_id"]: r["unit"] for r in SIM.normalized_embeddings(df).collect()}
    assert rows[1] == [0.6, 0.8]
    assert rows[2] is None  # zero vector -> null, not NaN components
    assert rows[3] is None


def test_label_centroids_exact(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [5.0, 6.0])],
        "label int, embedding array<float>",
    )
    rows = {(r["label"], r["dim"]): r for r in SIM.label_centroids(df).collect()}
    assert rows[(1, 0)]["mean_v"] == 2.0 and rows[(1, 1)]["mean_v"] == 3.0
    assert rows[(2, 0)]["n_vecs"] == 1


# --- dedup -------------------------------------------------------------------


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world!"), (3, "different text")],
        "doc_id long, text string",
    )
    out = sorted(r["doc_id"] for r in DD.exact_dedup(df).collect())
    assert out == [1, 3]  # 2 normalizes identically to 1


def test_minhash_finds_planted_near_dup(spark):
    docs = (
        load_table(spark, SF, "documents")
        .where(F.col("doc_id") < 50)
        .select("doc_id", "text")
    )
    near = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" tail word")).alias("text"),
    )
    corpus = docs.unionByName(near)
    pairs = DD.minhash_near_duplicates(corpus, threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {(i, i + 1000) for i in range(50)}
    # LSH is probabilistic but with 4 bands on ~0.9-Jaccard pairs recall
    # should be near-total on this corpus
    assert len(found & planted) >= 40
    assert all(r["jaccard"] >= 0.5 for r in pairs.collect())


def test_simhash_exact_dup_has_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    out = DD.simhash_near_duplicates(df, max_hamming=0)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["hamming"] == 0


def test_dup_clusters_transitive_merge(spark):
    """Chains and stars must collapse to min-id clusters even when the
    endpoints never pair directly."""
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),  # chain 1-2-3-4 -> cluster 1
            (10, 11), (10, 12),      # star at 10 -> cluster 10
            (20, 21),                # isolated pair -> cluster 20
        ],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster"] for r in DD.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dup_clusters_raises_when_unconverged(spark, monkeypatch):
    """Silent wrong labels are worse than an error: a diameter-5 chain
    cannot converge in one propagation round nor in one star round, and
    the loop must say so."""
    import pytest as _pytest

    monkeypatch.setattr(DD, "_STAR_MAX_ROUNDS", 1)
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        DD.dup_clusters(chain, max_iter=1)


def test_caching_scope_releases_only_inner_handles(spark):
    """scope() must not drain caches registered outside it (the global
    release() hazard flagged in round-2 advice)."""
    from martech_pipelines_spark import caching

    caching.release()  # drain residue left registered by earlier tests
    outer = caching.register(spark.range(10).persist())
    outer.count()
    with caching.scope():
        inner = caching.register(spark.range(20).persist())
        inner.count()
        assert inner.storageLevel.useMemory
    assert not inner.storageLevel.useMemory  # scoped handle released
    assert outer.storageLevel.useMemory      # outer survives the scope
    assert caching.release() == 1            # global drain still works


# --- similarity --------------------------------------------------------------


def test_bruteforce_topk_self_is_rank_one(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = SIM.brute_force_topk(queries, emb, k=3)
    r1 = {r["query_id"]: r["vec_id"] for r in top.where(F.col("rnk") == 1).collect()}
    assert all(q == v for q, v in r1.items())  # self-similarity = 1.0


def test_bruteforce_arrow_equals_hof_form(spark):
    """The Arrow map-side-top-k kernel must reproduce s1's exact results
    (same rounded sims, same ranks) — it is a physical rewrite only."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hof = SIM.brute_force_topk(queries, emb, k=5)
    arrow = SIM.brute_force_topk_arrow(queries, emb, k=5)
    a = {(r["query_id"], r["vec_id"], r["cos_sim"], r["rnk"]) for r in hof.collect()}
    b = {(r["query_id"], r["vec_id"], r["cos_sim"], r["rnk"]) for r in arrow.collect()}
    assert a == b


def test_lsh_topk_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.brute_force_topk(queries, emb, k=5)
    approx = SIM.lsh_topk(queries, emb, dim=64, k=5)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall {recall} too low"


def test_ivf_topk_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.brute_force_topk(queries, emb, k=5)
    approx = SIM.ivf_topk(queries, emb, k=5, nlist=16, nprobe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall {recall} too low"
    # self-match must always survive: the query's own cell is probed first
    r1 = {r["query_id"]: r["vec_id"] for r in approx.collect() if r["rnk"] == 1}
    assert all(q == v for q, v in r1.items())


def test_ivf_materialized_matches_inline_and_prunes_partitions(spark, tmp_path):
    """Two-stage IVF (VERDICT r01 #3): same results as the in-line form
    (same seed/centroids), and the probe's corpus scan must carry a
    PartitionFilters cell IN-list — only probed cells are read."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index_path = str(tmp_path / "ivf")
    SIM.ivf_build_index(emb, index_path=index_path, nlist=16)
    probed = SIM.ivf_probe_topk(queries, index_path, k=5, nprobe=4)
    inline = SIM.ivf_topk(queries, emb, k=5, nlist=16, nprobe=4)
    got = {(r["query_id"], r["vec_id"], r["rnk"]) for r in probed.collect()}
    want = {(r["query_id"], r["vec_id"], r["rnk"]) for r in inline.collect()}
    assert got == want

    import re

    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the index scan must carry the literal cell INSET partition filter,
    # and pruning must be real: fewer cells listed than nlist
    m = re.search(r"PartitionFilters: \[cell#\d+ INSET ([\d, ]+)", plan)
    assert m, plan
    assert len(m.group(1).split(",")) < 16


def test_embedding_near_dup_catches_planted_pair(spark):
    emb = load_table(spark, SF, "embeddings").where(F.col("vec_id") < 100)
    clone = emb.where(F.col("vec_id") == 7).select(
        F.lit(9999).cast("long").alias("vec_id"),
        "embedding",
        "label",
    )
    corpus = emb.unionByName(clone)
    dups = SIM.embedding_near_duplicates(corpus, dim=64, threshold=0.999)
    pairs = {(r["id_a"], r["id_b"]) for r in dups.collect()}
    assert (7, 9999) in pairs  # identical vector always collides in LSH


def test_s3_query_recovers_every_planted_pair(spark):
    """The s3 corpus query plants scaled copies (cosine 1.0, identical
    signature) so the driver's rows-only gate has real signal (VERDICT r01
    #2); every planted pair must come back."""
    from martech_pipelines_spark.plans import QUERIES

    rows = QUERIES["s3_embedding_near_dup"](spark, SF).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    planted_ids = [
        r["vec_id"]
        for r in load_table(spark, SF, "embeddings")
        .where(F.col("vec_id") % 20 == 0)
        .select("vec_id")
        .collect()
    ]
    assert planted_ids, "fixture must contain planted source vectors"
    missing = [
        (i, i + 10_000_000) for i in planted_ids if (i, i + 10_000_000) not in pairs
    ]
    assert not missing


# --- multimodal --------------------------------------------------------------


def test_binary_ingest_glob_filter(spark):
    """binaryFile source with pathGlobFilter reads only matching files."""
    media_dir = "/root/repo/fixtures/media"
    all_files = MM.binary_ingest_summary(MM.read_binary_dir(spark, media_dir))
    wavs = MM.binary_ingest_summary(
        MM.read_binary_dir(spark, media_dir, glob="*.wav")
    )
    names = {r["file_name"] for r in wavs.collect()}
    assert names == {"clip_000.wav", "clip_001.wav"}
    assert all_files.count() == 5


def test_media_adapter_and_features(spark):
    docs = load_table(spark, SF, "documents").limit(20)
    media = MM.documents_as_media(docs)
    assert [f.name for f in media.schema.fields] == ["doc_id", "payload", "meta"]
    assert media.schema["payload"].dataType.typeName() == "binary"

    feats = MM.extract_features(media)
    rows = {r["doc_id"]: r for r in feats.collect()}
    docs_rows = {r["doc_id"]: r for r in docs.collect()}
    assert set(rows) == set(docs_rows)
    for did, r in rows.items():
        assert r["size_bytes"] == len(docs_rows[did]["text"].encode("utf-8"))
        assert len(r["hist16"]) == 16
        assert sum(r["hist16"]) == r["size_bytes"]


def test_decode_stub_raises():
    import pytest

    with pytest.raises(NotImplementedError):
        MM.decode_image_stub(b"\x89PNG")


def test_resize_kernel_exact_bytes(spark):
    df = spark.createDataFrame([(1, bytes(range(8)))], "doc_id long, payload binary")
    out = MM.resize_images(df, 2, 2).collect()[0]
    # stride resample of 8 bytes down to 4: indices 0,2,4,6
    assert bytes(out["payload"]) == bytes([0, 2, 4, 6])
    assert (out["width"], out["height"], out["size_bytes"]) == (2, 2, 4)
    # empty payload -> zero-filled target
    empty = spark.createDataFrame([(2, b"")], "doc_id long, payload binary")
    assert bytes(MM.resize_images(empty, 2, 2).collect()[0]["payload"]) == bytes(4)


def test_frame_sampling_expands_rows(spark):
    payload = bytes(range(256))  # 16 frames of 16 bytes
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    rows = MM.sample_frames(df, frame_bytes=16, every_n=4).collect()
    assert [r["frame_idx"] for r in rows] == [0, 4, 8, 12]
    assert all(r["frame_size"] == 16 for r in rows)
    assert bytes(rows[1]["frame_bytes"]) == bytes(range(64, 80))


def test_approx_percentiles_bounded_error(spark):
    li = load_table(spark, SF, "lineitem")
    approx = li.agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000).alias("p")
    ).collect()[0]["p"]
    exact = li.agg(
        F.expr("percentile(l_extendedprice, array(0.5, 0.95))").alias("p")
    ).collect()[0]["p"]
    for a, e in zip(approx, exact):
        assert abs(a - e) / max(abs(e), 1e-9) < 0.02


def test_metadata_stats_prunes_payload(spark):
    docs = load_table(spark, SF, "documents")
    media = MM.documents_as_media(docs)
    stats = MM.media_metadata_stats(media)
    out = stats.collect()
    assert out[0]["n"] == docs.count()
    # payload must not appear in the optimized plan's scan columns
    plan = stats._jdf.queryExecution().optimizedPlan().toString()
    assert "encode(text" not in plan.split("Aggregate")[0]
