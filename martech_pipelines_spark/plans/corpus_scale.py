"""Round-3 scale-operator corpus: Gopher rule filters, exact-substring
window dedup, SemDeDup semantic dedup, and SQ8 quantized ANN — the
training-data-pipeline operators from the published playbooks (Gopher
App. A; Lee et al. 2022; Abbas et al. 2023; FAISS SQ), each with a full
DuckDB oracle (the quantizers here are deterministic, unlike trained
PQ/k-means, so even the ANN paths hash-match).

Same oracle-portability ground rules as corpus.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from martech_pipelines_spark.operators import similarity as SIM
from martech_pipelines_spark.operators import text as TX
from martech_pipelines_spark.plans.corpus import q
from martech_pipelines_spark.plans.corpus_extended import (
    _DUCK_NORM,
    _DUCK_TOKENS,
    _rp_sig_sql,
)
from martech_pipelines_spark.sources import load_table

# =============================================================================
# t13: Gopher-style rule filter
# =============================================================================

# Corpus-tuned bounds (FIXTURES.md: token counts 10..99, mean word length
# 3.7..5.3 — the paper's 50..100k / 3..10 would be degenerate here); the
# operator defaults stay at the published values.
_T13_BOUNDS = dict(
    min_tokens=20,
    max_tokens=90,
    min_mean_token_len=4.0,
    max_mean_token_len=5.0,
    max_symbol_ratio=0.1,
    min_alpha_word_ratio=0.8,
    min_stop_hits=2,
)

_T13_STOP = ", ".join(f"'{w}'" for w in TX.GOPHER_STOPWORDS)

_T13_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, text, {_DUCK_TOKENS.format(col='text')} AS toks
        FROM documents
    ), feat AS (
        SELECT doc_id,
               len(toks) AS n_tok,
               CASE WHEN len(toks) > 0
                    THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                         / len(toks)
                    ELSE 0.0 END AS mean_len,
               len(string_split(text, '#')) - 1
                 + len(string_split_regex(text, '\\.\\.\\.')) - 1 AS n_sym,
               len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
               len(list_filter(toks, x -> x IN ({_T13_STOP}))) AS n_stop
        FROM base
    )
    SELECT doc_id,
           n_tok >= {_T13_BOUNDS['min_tokens']}
             AND n_tok <= {_T13_BOUNDS['max_tokens']} AS ok_n_tokens,
           mean_len >= {_T13_BOUNDS['min_mean_token_len']}
             AND mean_len <= {_T13_BOUNDS['max_mean_token_len']} AS ok_mean_len,
           CASE WHEN n_tok > 0
                THEN n_sym / n_tok <= {_T13_BOUNDS['max_symbol_ratio']}
                ELSE FALSE END AS ok_symbol_ratio,
           CASE WHEN n_tok > 0
                THEN n_alpha / n_tok >= {_T13_BOUNDS['min_alpha_word_ratio']}
                ELSE FALSE END AS ok_alpha_words,
           n_stop >= {_T13_BOUNDS['min_stop_hits']} AS ok_stopwords,
           (n_tok >= {_T13_BOUNDS['min_tokens']}
             AND n_tok <= {_T13_BOUNDS['max_tokens']})
           AND (mean_len >= {_T13_BOUNDS['min_mean_token_len']}
             AND mean_len <= {_T13_BOUNDS['max_mean_token_len']})
           AND (CASE WHEN n_tok > 0
                THEN n_sym / n_tok <= {_T13_BOUNDS['max_symbol_ratio']}
                ELSE FALSE END)
           AND (CASE WHEN n_tok > 0
                THEN n_alpha / n_tok >= {_T13_BOUNDS['min_alpha_word_ratio']}
                ELSE FALSE END)
           AND n_stop >= {_T13_BOUNDS['min_stop_hits']} AS keep
    FROM feat
    """


@q("t13_gopher_filter", _T13_ORACLE)
def t13_gopher_filter(spark, sf_dir):
    """Gopher rule filter (Rae et al. 2021 App. A1.1): per-rule flags +
    conjunction, one narrow codegen projection, no shuffle. Line-level
    rules omitted (single-line corpus, FIXTURES.md)."""
    docs = load_table(spark, sf_dir, "documents")
    flags = TX.gopher_flags(F.col("text"), **_T13_BOUNDS)
    return docs.select(
        "doc_id",
        *[
            flags[k].alias(k)
            for k in (
                "ok_n_tokens",
                "ok_mean_len",
                "ok_symbol_ratio",
                "ok_alpha_words",
                "ok_stopwords",
                "keep",
            )
        ],
    )


# =============================================================================
# dd8: exact-substring window dedup
# =============================================================================

_DD8_W = 8

_DD8_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex({_DUCK_NORM.format(col='text')},
                   '[^a-z0-9'']+'), x -> x <> '') AS t
        FROM documents
    ), win AS (
        SELECT doc_id,
               md5(array_to_string(
                   t[CAST(i AS INTEGER):CAST(i + {_DD8_W - 1} AS INTEGER)], ' '
               )) AS h
        FROM toks, unnest(range(1, len(t) - {_DD8_W - 2})) u(i)
        WHERE len(t) >= {_DD8_W}
    ), pdh AS (
        SELECT doc_id, h, count(*) AS cnt FROM win GROUP BY 1, 2
    ), cross_h AS (
        SELECT h FROM pdh GROUP BY h HAVING count(*) >= 2
    ), per_doc AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_windows FROM pdh GROUP BY 1
    ), dup AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_dup_windows
        FROM pdh WHERE h IN (SELECT h FROM cross_h) GROUP BY 1
    )
    SELECT p.doc_id, p.n_windows,
           coalesce(d.n_dup_windows, 0) AS n_dup_windows,
           round(coalesce(d.n_dup_windows, 0) / p.n_windows, 4) AS dup_ratio
    FROM per_doc p LEFT JOIN dup d USING (doc_id)
    """


@q("dd8_substring_window", _DD8_ORACLE)
def dd8_substring_window(spark, sf_dir):
    """Exact-substring dedup (Lee et al. 2022): hash every 8-token window,
    count per doc how many windows also occur in another doc. The
    generator's planted near-dup docs share most windows, so the stats
    carry real signal (1,015 cross-doc hashes at sf0.01). Shuffles once on
    the window hash with two-level aggregation — never a self-join of the
    window table."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.substring_dup_stats(docs, w=_DD8_W)


# =============================================================================
# s6: SemDeDup semantic dedup
# =============================================================================

_S6_ORACLE = f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 10000000,
               CAST(list_transform(embedding,
                    x -> CAST(CAST(x AS DOUBLE) * 1.5 AS FLOAT)) AS DOUBLE[])
        FROM embeddings WHERE vec_id % 20 = 0
    ), sig AS (
        SELECT vec_id, v, {_rp_sig_sql('v', bits=4)} AS cluster FROM corpus
    ), pairs AS (
        SELECT b.vec_id AS id_b,
               round(CASE WHEN sqrt(list_dot_product(a.v, a.v))
                               * sqrt(list_dot_product(b.v, b.v)) > 0
                     THEN list_dot_product(a.v, b.v)
                          / (sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(b.v, b.v)))
                     END, 4) AS cs
        FROM sig a JOIN sig b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ), dropped AS (
        SELECT DISTINCT id_b FROM pairs WHERE cs >= 0.95
    )
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
           vec_id NOT IN (SELECT id_b FROM dropped) AS keep
    FROM sig
    """


@q("s6_semdedup", _S6_ORACLE)
def s6_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) with a deterministic twist: clusters
    come from the low 4 bits of the md5-derived hyperplane signature
    instead of k-means, so the ENTIRE pipeline (clustering included) is
    oracle-checked. Planted 1.5x-scaled copies of every 20th vector
    guarantee dropped-row signal (scaling preserves direction => cosine
    1.0 AND identical signature => same cluster). Pairwise work is N^2/C
    within clusters; nothing crosses clusters."""
    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5))
        .cast("array<float>")
        .alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(planted)
    return SIM.semdedup(corpus, dim=64, threshold=0.95, cluster_bits=4)


# =============================================================================
# s7: SQ8 scalar-quantized ANN
# =============================================================================

_S7_ORACLE = """
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), dims AS (
        SELECT CAST(u.i AS INTEGER) AS pos,
               min(v[CAST(u.i AS INTEGER)]) AS mn,
               max(v[CAST(u.i AS INTEGER)]) AS mx
        FROM base, unnest(range(1, 65)) u(i)
        GROUP BY 1
    ), stats AS (
        SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs
        FROM dims
    ), dq AS (
        SELECT vec_id,
               list_transform(range(1, 65), i -> CASE
                   WHEN maxs[CAST(i AS INTEGER)] > mins[CAST(i AS INTEGER)]
                   THEN mins[CAST(i AS INTEGER)]
                        + round((v[CAST(i AS INTEGER)] - mins[CAST(i AS INTEGER)])
                                * 255.0
                                / (maxs[CAST(i AS INTEGER)] - mins[CAST(i AS INTEGER)]))
                          * (maxs[CAST(i AS INTEGER)] - mins[CAST(i AS INTEGER)])
                          / 255.0
                   ELSE mins[CAST(i AS INTEGER)] END) AS dqv
        FROM base CROSS JOIN stats
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               round(CASE WHEN sqrt(list_dot_product(q.v, q.v))
                               * sqrt(list_dot_product(c.dqv, c.dqv)) > 0
                     THEN list_dot_product(q.v, c.dqv)
                          / (sqrt(list_dot_product(q.v, q.v))
                             * sqrt(list_dot_product(c.dqv, c.dqv)))
                     END, 4) AS cos_sim
        FROM base q CROSS JOIN dq c
        WHERE q.vec_id % 10 = 0
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
        ) AS rnk
        FROM scored WHERE cos_sim IS NOT NULL
    ) WHERE rnk <= 5
    """


@q("s7_sq8_topk", _S7_ORACLE)
def s7_sq8_topk(spark, sf_dir):
    """SQ8 asymmetric search (FAISS-style scalar quantizer): per-dim
    min/max codebook, int8 codes, full-precision queries vs reconstructed
    corpus. Deterministic quantization => full DuckDB oracle, unlike
    trained-codebook PQ (s2b covers that niche rows-only). Same broadcast
    plan as s1; the scale win is the 4x-smaller materialized code table."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.sq8_topk(queries, emb, dim=64, k=5).select(
        "query_id", "vec_id", "cos_sim", "rnk"
    )


# =============================================================================
# dd9: train/eval decontamination
# =============================================================================

_DD9_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex({_DUCK_NORM.format(col='text')},
                   '[^a-z0-9'']+'), x -> x <> '') AS t
        FROM documents
    ), win AS (
        SELECT doc_id,
               md5(array_to_string(
                   t[CAST(i AS INTEGER):CAST(i + {_DD8_W - 1} AS INTEGER)], ' '
               )) AS h
        FROM toks, unnest(range(1, len(t) - {_DD8_W - 2})) u(i)
        WHERE len(t) >= {_DD8_W}
    ), eval_h AS (
        SELECT DISTINCT h FROM win WHERE doc_id % 10 = 3
    ), hits AS (
        SELECT w.doc_id, CAST(count(DISTINCT w.h) AS BIGINT) AS n_eval_hits
        FROM win w
        WHERE w.doc_id % 10 <> 3 AND w.h IN (SELECT h FROM eval_h)
        GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(h.n_eval_hits, 0) AS n_eval_hits,
           coalesce(h.n_eval_hits, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 3) d
    LEFT JOIN hits h USING (doc_id)
    """


@q("dd9_decontaminate", _DD9_ORACLE)
def dd9_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id%10==3 act as the eval
    set; every other doc is audited for 8-token-window overlap with it.
    The generator's near-dup pairs straddle the split (6 contaminated
    docs, 370 window hits at sf0.01), so the audit has real signal. Eval
    hash set is broadcast — the train scan is one pass, map-side
    filtered."""
    from martech_pipelines_spark.operators import dedup as DD

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 3)
    eval_docs = docs.where(F.col("doc_id") % 10 == 3)
    return DD.decontaminate(train, eval_docs, w=_DD8_W)


# =============================================================================
# s8: product quantization ANN
# =============================================================================


@q("s8_pq_topk")  # rows-only: trained codebooks; recall gate in pytest
def s8_pq_topk(spark, sf_dir):
    """PQ ADC top-5 with exact refine (m=8 subspaces, 32 centroids each;
    shortlist 8k then re-rank exact): per-query LUT + code gathers,
    map-side top-k, broadcast-shortlist exact re-score. Random synthetic
    embeddings are PQ's adversarial case (near-tie neighbors, no cluster
    structure), hence the larger codebook + refine here (0.86 recall vs
    exact at sf0.01). Trained codebooks => seed-dependent, so the driver
    records rows-only; pytest pins recall and encode determinism. The
    deterministic-quantizer twin with a full oracle is s7_sq8_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.pq_topk(queries, emb, dim=64, k=5, ksub=32, refine=8).select(
        "query_id", "vec_id", "cos_sim", "rnk"
    )


# =============================================================================
# t14: BPE merge-pair statistics (tokenizer induction)
# =============================================================================

_T14_ORACLE = f"""
    WITH toks AS (
        SELECT unnest({_DUCK_TOKENS.format(col='text')}) AS tok FROM documents
    ), pairs AS (
        SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair
        FROM toks, unnest(range(1, length(tok))) u(i)
        WHERE length(tok) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair ASC
    LIMIT 50
    """


@q("t14_bpe_pairs", _T14_ORACLE)
def t14_bpe_pairs(spark, sf_dir):
    """Adjacent-symbol pair frequencies within tokens — the statistic one
    round of BPE vocabulary induction maximizes (Sennrich et al. 2016:
    merge the most frequent pair, recount, repeat; the recount is this
    same query over the merged symbols). Explode + groupBy with map-side
    combine: the shuffle carries the pair vocabulary (bounded by
    charset^2), not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok")).where(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(50)
    )


# =============================================================================
# pipe2: end-to-end prep with the round-3 operators
# =============================================================================


def _pipe2_oracle() -> str:
    """Assembled from the t13/dd8/dd9/t10 fragments, stage for stage."""
    toks = _DUCK_TOKENS.format(col="text")
    norm_toks = (
        "list_filter(string_split_regex("
        + _DUCK_NORM.format(col="text")
        + ", '[^a-z0-9'']+'), x -> x <> '')"
    )
    stop = ", ".join(f"'{w}'" for w in TX.GOPHER_STOPWORDS)
    keep = f"""
        len({toks}) >= {_T13_BOUNDS['min_tokens']}
        AND len({toks}) <= {_T13_BOUNDS['max_tokens']}
        AND list_sum(list_transform({toks}, x -> length(x)))::DOUBLE / len({toks})
            >= {_T13_BOUNDS['min_mean_token_len']}
        AND list_sum(list_transform({toks}, x -> length(x)))::DOUBLE / len({toks})
            <= {_T13_BOUNDS['max_mean_token_len']}
        AND (len(string_split(text, '#')) - 1
             + len(string_split_regex(text, '\\.\\.\\.')) - 1) / len({toks})
            <= {_T13_BOUNDS['max_symbol_ratio']}
        AND len(list_filter({toks}, x -> regexp_matches(x, '[a-z]')))::DOUBLE
            / len({toks}) >= {_T13_BOUNDS['min_alpha_word_ratio']}
        AND len(list_filter({toks}, x -> x IN ({stop})))
            >= {_T13_BOUNDS['min_stop_hits']}
    """
    return f"""
    WITH kept AS (
        SELECT doc_id, source, text FROM documents
        WHERE doc_id % 10 <> 3 AND ({keep})
    ), ktoks AS (
        SELECT doc_id, {norm_toks} AS t FROM kept
    ), kwin AS (
        SELECT doc_id,
               md5(array_to_string(
                   t[CAST(i AS INTEGER):CAST(i + {_DD8_W - 1} AS INTEGER)], ' '
               )) AS h
        FROM ktoks, unnest(range(1, len(t) - {_DD8_W - 2})) u(i)
        WHERE len(t) >= {_DD8_W}
    ), pdh AS (
        SELECT doc_id, h, count(*) AS cnt FROM kwin GROUP BY 1, 2
    ), flagged AS (
        SELECT doc_id, cnt, count(*) OVER (PARTITION BY h) AS n_docs FROM pdh
    ), dupstats AS (
        SELECT doc_id,
               round(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END)
                     / sum(cnt), 4) AS dup_ratio
        FROM flagged GROUP BY doc_id
    ), kept2 AS (
        SELECT k.doc_id, k.source, k.text FROM kept k
        JOIN dupstats d USING (doc_id) WHERE d.dup_ratio <= 0.5
    ), etoks AS (
        SELECT doc_id, {norm_toks} AS t FROM documents WHERE doc_id % 10 = 3
    ), evwin AS (
        SELECT DISTINCT md5(array_to_string(
                   t[CAST(i AS INTEGER):CAST(i + {_DD8_W - 1} AS INTEGER)], ' '
               )) AS h
        FROM etoks, unnest(range(1, len(t) - {_DD8_W - 2})) u(i)
        WHERE len(t) >= {_DD8_W}
    ), k2toks AS (
        SELECT doc_id, {norm_toks} AS t FROM kept2
    ), contaminated AS (
        SELECT DISTINCT doc_id
        FROM (
            SELECT doc_id,
                   md5(array_to_string(
                       t[CAST(i AS INTEGER):CAST(i + {_DD8_W - 1} AS INTEGER)], ' '
                   )) AS h
            FROM k2toks, unnest(range(1, len(t) - {_DD8_W - 2})) u(i)
            WHERE len(t) >= {_DD8_W}
        ) WHERE h IN (SELECT h FROM evwin)
    ), clean AS (
        SELECT doc_id, source, text FROM kept2
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), packed AS (
        SELECT source, doc_id, len({toks}) AS n_tok,
               CAST(floor((sum(len({toks})) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - len({toks})) / 512.0) AS BIGINT) AS pack_id
        FROM clean
    )
    SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM packed GROUP BY 1, 2
    """


@q("pipe2_scale_prep", _pipe2_oracle())
def pipe2_scale_prep(spark, sf_dir):
    """Second end-to-end prep chain, built ENTIRELY from the round-3
    operators: Gopher rule filter -> exact-substring dup gate (drop docs
    with >50% duplicated windows; computed within the filtered train set)
    -> benchmark decontamination (eval = doc_id%10==3, dropped and used
    as the contamination reference) -> 512-token sequence packing.
    Everything is one lazy DataFrame graph; the dup gate and decon joins
    are left-semi so doc payloads never widen through the pipeline. The
    Gopher-filtered stage is persisted (caching registry, caller
    releases): three branches reuse it (dup stats, dup-gate semi join,
    decon window scan) and re-running the filter scan per branch is the
    100-TB waste a real pipeline's stage checkpoint exists to avoid."""
    from pyspark import StorageLevel

    from martech_pipelines_spark import caching
    from martech_pipelines_spark.operators import dedup as DD

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.where(F.col("doc_id") % 10 == 3)
    train = docs.where(F.col("doc_id") % 10 != 3)
    kept = train.where(TX.gopher_flags(F.col("text"), **_T13_BOUNDS)["keep"])
    kept = caching.register(kept.persist(StorageLevel.MEMORY_AND_DISK))
    dup_ok = (
        TX.substring_dup_stats(kept, w=_DD8_W)
        .where(F.col("dup_ratio") <= 0.5)
        .select("doc_id")
    )
    kept2 = kept.join(dup_ok, "doc_id", "left_semi")
    clean_ids = (
        DD.decontaminate(kept2, eval_docs, w=_DD8_W)
        .where(~F.col("contaminated"))
        .select("doc_id")
    )
    clean = kept2.join(clean_ids, "doc_id", "left_semi")
    packed = TX.sequence_pack(clean, budget=512)
    return packed.select(
        "source",
        "pack_id",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
    )


# =============================================================================
# t15: URL / domain blocklist filter
# =============================================================================

_T15_BLOCKLIST = ("spam-site0.example", "spam-site1.example", "spam-site2.example")
_T15_BLOCK_SQL = ", ".join(f"'{d}'" for d in _T15_BLOCKLIST)

_T15_ORACLE = f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 13 = 0
                          THEN ' see https://spam-site' || CAST(doc_id % 3 AS VARCHAR)
                               || '.example/path'
                          ELSE '' END
                  || CASE WHEN doc_id % 17 = 0
                          THEN ' via https://good.org/page' ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
           coalesce(array_to_string(list_sort(list_distinct(
               regexp_extract_all(t, 'https?://([^/\\s]+)', 1))), ','), '')
               AS domains,
           len(list_intersect(
               list_distinct(regexp_extract_all(t, 'https?://([^/\\s]+)', 1)),
               [{_T15_BLOCK_SQL}])) > 0 AS blocked
    FROM aug
    """


@q("t15_url_filter", _T15_ORACLE)
def t15_url_filter(spark, sf_dir):
    """URL extraction + domain blocklist (C4/RefinedWeb source filter).
    The synthetic corpus carries no URLs, so the query plants them
    deterministically (every 13th doc a blocklisted spam domain, every
    17th a clean one — the t8 PII planting idiom) and pins URL counts,
    the sorted domain list, and the blocklist verdict. Pure regexp
    codegen, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" see https://spam-site"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit(".example/path"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0, F.lit(" via https://good.org/page"))
        .otherwise(F.lit("")),
    )
    feats = TX.url_features(txt, blocklist=_T15_BLOCKLIST)
    return docs.select(
        "doc_id",
        feats["n_urls"].alias("n_urls"),
        feats["domains"].alias("domains"),
        feats["blocked"].alias("blocked"),
    )


# =============================================================================
# t16: data-mixture weights per source
# =============================================================================

_T16_ORACLE = f"""
    WITH per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len({_DUCK_TOKENS.format(col='text')})) AS BIGINT)
                   AS total_tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT sum(total_tokens) AS all_tokens FROM per_source
    )
    SELECT source, n_docs, total_tokens,
           round(total_tokens / all_tokens, 4) AS token_share,
           round(sqrt(round(total_tokens / all_tokens, 4)), 4) AS weight_sqrt
    FROM per_source CROSS JOIN tot
    """


@q("t16_mixture_weights", _T16_ORACLE)
def t16_mixture_weights(spark, sf_dir):
    """Per-source token accounting for training-mixture design: doc/token
    totals, each source's token share, and the alpha=0.5 temperature
    weight (sqrt of the ROUNDED share, so the oracle contract is fp-exact;
    the final normalization is a trivial post-step on S rows). One keyed
    agg + a broadcast of the 1-row total — the query a mixture tuner runs
    before setting sampling rates."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).cast("long").alias("total_tokens"),
    )
    tot = per_source.agg(F.sum("total_tokens").alias("all_tokens"))
    share = F.round(F.col("total_tokens") / F.col("all_tokens"), 4)
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        share.alias("token_share"),
        F.round(F.sqrt(share), 4).alias("weight_sqrt"),
    )


# =============================================================================
# s2d: materialized IVF-PQ (IVFADC) probe
# =============================================================================


@q("s2d_ivfpq_materialized")  # rows-only: trained quantizers; gates in pytest
def s2d_ivfpq_materialized(spark, sf_dir):
    """The FAISS IVFADC layout end-to-end: stage 1 writes residual PQ
    codes partitioned by coarse cell (m bytes/vector — 32x smaller than
    float32 at dim=64, m=8) plus centroid/codebook control tables; stage
    2 probes with a literal cell IN-list (static partition pruning, same
    proof as s2c), reconstructs centroid+decode per Arrow batch, and
    exact-refines the ADC shortlist against true vectors by id. Trained
    quantizers => rows-only; pytest gates recall vs exact search and the
    pruned probe scan."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    sf_name = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    index_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".ivfpq_cache",
        sf_name,
    )
    SIM.ivfpq_build_index(emb, index_path, dim=64, nlist=16, m=8, ksub=16)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivfpq_probe_topk(
        queries, index_path, k=5, nprobe=4, refine_corpus=emb
    ).select("query_id", "vec_id", "cos_sim", "rnk")


# =============================================================================
# dd10: incremental dedup of a new batch against a materialized index
# =============================================================================

from martech_pipelines_spark.operators import dedup as DD10_DD  # noqa: E402
from martech_pipelines_spark.plans.corpus_extended import _minhash_oracle  # noqa: E402

# Index = the %5==0 docs; new batch = perturbed near-dups of %10==0 (hit
# the index), exact copies of those perturbed texts for %20==0 (hit each
# other WITHIN the batch), and fresh %5==1 docs (mostly no match).
_DD10_CORPUS_SQL = """
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000, text || ' zz yy xx' FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 3000000, text || ' zz yy xx' FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 5 = 1
"""


@q(
    "dd10_incremental_dedup",
    f"SELECT id_a, id_b, jaccard FROM ({_minhash_oracle(_DD10_CORPUS_SQL)}) WHERE id_b >= 2000000",
)
def dd10_incremental_dedup(spark, sf_dir):
    """Steady-state ingest dedup: the index corpus is signed ONCE
    (minhash_build_index), then the new batch dedups against the index
    AND itself reading only the skinny signature table — the index's raw
    documents are not an input to the probe at all. Oracle = the
    full-corpus MinHash oracle restricted to pairs touching the batch
    (batch ids all >= 2000000 by construction), which is exactly the
    incremental contract: identical pairs, computed without regenerating
    index-vs-index candidates."""
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index_corpus = docs.where(F.col("doc_id") % 5 == 0)
    perturbed = F.concat("text", F.lit(" zz yy xx")).alias("text")
    batch = (
        docs.where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 2000000).alias("doc_id"), perturbed)
        .unionByName(
            docs.where(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"), perturbed
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 5 == 1).select(
                (F.col("doc_id") + 4000000).alias("doc_id"), "text"
            )
        )
    )
    index_path = tempfile.mkdtemp(prefix="minhash_incr_")
    DD10_DD.minhash_build_index(index_corpus, index_path, num_perm=16, shingle_n=3)
    return DD10_DD.minhash_incremental_dedup(
        spark, index_path, batch, threshold=0.5, num_perm=16, bands=4, shingle_n=3
    )


# =============================================================================
# t17: corpus-self bigram-LM scoring (CCNet-style quality signal)
# =============================================================================

_T17_TOKS = _DUCK_TOKENS.format(col="text")


@q(
    "t17_ngram_lm_score",
    f"""
    WITH toks AS (
      SELECT doc_id, {_T17_TOKS} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, t[CAST(i AS INTEGER)] || ' ' || t[CAST(i+1 AS INTEGER)] AS bg
      FROM toks, unnest(range(1, len(t))) AS u(i)
    ),
    uni AS (
      SELECT w1, count(*) AS c1
      FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1
    ),
    vocab AS (SELECT count(*) AS v FROM uni),
    big AS (SELECT bg, count(*) AS c12 FROM grams GROUP BY 1),
    docbg AS (SELECT doc_id, bg, count(*) AS n FROM grams GROUP BY 1, 2),
    scored AS (
      SELECT doc_id,
             CAST(sum(n) AS BIGINT) AS n_bigrams,
             round(sum(n * -ln((c12 + 0.5) / (c1 + 0.5 * v))) / sum(n), 4) AS avg_nll
      FROM docbg
      JOIN big USING (bg)
      JOIN uni ON uni.w1 = split_part(bg, ' ', 1)
      CROSS JOIN vocab
      GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.avg_nll
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def t17_ngram_lm_score(spark, sf_dir):
    """CCNet-style LM quality signal (Wenzek et al. 2020) with the LM
    being add-k bigram/unigram counts over the corpus itself — docs with
    high avg negative log-likelihood are out-of-distribution noise. All
    joins + map-side-combined aggs; the oracle replicates the smoothing
    arithmetic exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.ngram_lm_scores(docs, add_k=0.5)


# =============================================================================
# t18: DSIR hashed-n-gram importance weights
# =============================================================================


@q(
    "t18_dsir_importance",
    f"""
    WITH feats AS (
      SELECT doc_id, source = 'src0' AS is_t,
             ('0x' || substr(md5('dsir:' || w), 1, 8))::BIGINT % 256 AS f
      FROM (
        SELECT doc_id, source, unnest({_T17_TOKS}) AS w FROM documents
      )
    ),
    counts AS (
      SELECT f, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
      FROM feats GROUP BY 1
    ),
    totals AS (
      SELECT sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tot_t,
             sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS tot_r
      FROM feats
    ),
    ratio AS (
      SELECT f, ln((ct + 0.5) / (tot_t + 0.5 * 256))
                - ln((cr + 0.5) / (tot_r + 0.5 * 256)) AS llr
      FROM counts CROSS JOIN totals
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             round(avg(llr), 4) AS importance
      FROM feats JOIN ratio USING (f)
      WHERE NOT is_t
      GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(s.n_feats, 0) AS n_feats, s.importance
    FROM documents d LEFT JOIN scored s USING (doc_id)
    WHERE d.source <> 'src0'
    """,
)
def t18_dsir_importance(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): rank every non-target
    doc by how target-like (source='src0') its hashed-unigram feature
    distribution is. Fixed-width (256-bucket) feature space keeps both
    distributions broadcastable at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.dsir_importance(docs, target_source="src0", n_buckets=256)


# =============================================================================
# mm6: perceptual-hash near-dup over binary payloads — FULL oracle
# =============================================================================

# The payload is the utf-8 encoding of `text` (documents_as_media), so the
# oracle can recompute the byte-level hash from the string side: ascii() of
# each char == the payload byte for this ASCII corpus. This makes mm6 the
# one binary-kernel query with a full value oracle (mm2/mm4/mm5 stay
# rows-only because their outputs have no SQL-expressible form).
_MM6_CORPUS_SQL = """
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id + 2000000, 'q' || substr(text, 2) FROM documents WHERE doc_id % 20 = 10
"""


@q(
    "mm6_phash_near_dup",
    f"""
    WITH corpus AS (
{_MM6_CORPUS_SQL}
    ),
    chars AS (
      SELECT doc_id, ((i - 1) * 16) // length(text) AS seg,
             ascii(substr(text, CAST(i AS INTEGER), 1)) AS b
      FROM corpus, unnest(range(1, length(text) + 1)) AS u(i)
    ),
    seg AS (
      SELECT doc_id, seg, sum(b)::DOUBLE / count(*) AS m FROM chars GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, sum(b)::DOUBLE / count(*) AS mt FROM chars GROUP BY 1
    ),
    ph AS (
      SELECT s.doc_id,
             CAST(sum(CASE WHEN m > mt THEN (1::BIGINT << CAST(seg AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash
      FROM seg s JOIN tot t USING (doc_id) GROUP BY 1
    ),
    bands AS (
      SELECT doc_id, phash, b AS band, (phash >> (4 * b)) & 15 AS bv
      FROM ph, unnest([0, 1, 2, 3]) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.phash AS pa, b.phash AS pb
      FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(pa, pb)) <= 1
    """,
)
def mm6_phash_near_dup(spark, sf_dir):
    """Perceptual-hash near-dup over binary media payloads: 16-segment
    positional hash (Arrow kernel over the binary column), 4-band Hamming
    blocking, popcount verify at hamming <= 1 — the image-dedup shape
    (pigeonhole recall guarantee, never all-pairs). Corpus plants exact
    payload copies (+1e6) and single-byte-substituted near-copies (+2e6).
    Full oracle: the payload is the utf-8 bytes of `text`, so DuckDB
    recomputes the identical hash from ascii()."""
    from martech_pipelines_spark.operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 10 == 0)
    exact = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = docs.where(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit("q"), F.expr("substring(text, 2)")).alias("text"),
    )
    media = MM.documents_as_media(base.unionByName(exact).unionByName(near))
    return MM.phash_near_duplicates(media, max_hamming=1, bands=4)


# =============================================================================
# pipe3: mixture-resample executor (t16 weights -> deterministic sampling)
# =============================================================================

_PIPE3_ORACLE = f"""
    WITH per_source AS (
        SELECT source,
               CAST(sum(len({_DUCK_TOKENS.format(col='text')})) AS BIGINT) AS total_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(total_tokens) AS all_tokens FROM per_source),
    rates AS (
        SELECT source,
               CASE WHEN round(total_tokens / all_tokens, 4) = 0 THEN 1.0
                    ELSE least(1.0, round(0.5 * round(sqrt(round(total_tokens / all_tokens, 4)), 4)
                                          / round(total_tokens / all_tokens, 4), 4))
               END AS rate
        FROM per_source CROSS JOIN tot
    )
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN rates r USING (source)
    WHERE ('0x' || substr(md5(d.source || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
          < CAST(round(r.rate * 10000) AS BIGINT)
"""


@q("pipe3_mixture_resample", _PIPE3_ORACLE)
def pipe3_mixture_resample(spark, sf_dir):
    """The mixture EXECUTOR: turn t16's alpha=0.5 temperature weights
    into per-source admission rates (upsample factor weight/share, scaled
    0.5, capped at 1) and apply them with the t12 deterministic-sampling
    primitive — membership = md5(source:doc_id) bucket, so the sampled
    corpus is identical across engines, partitionings, and cluster sizes.
    Rates are S rows (broadcast); the data path is one scan + one
    codegen filter. The all-4dp-rounded rate arithmetic is what makes the
    oracle contract fp-exact."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(TX.token_count(F.col("text"))).cast("long").alias("total_tokens")
    )
    tot = per_source.agg(F.sum("total_tokens").alias("all_tokens"))
    share = F.round(F.col("total_tokens") / F.col("all_tokens"), 4)
    rates = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        F.when(share == 0, F.lit(1.0))
        .otherwise(
            F.least(
                F.lit(1.0),
                F.round(F.lit(0.5) * F.round(F.sqrt(share), 4) / share, 4),
            )
        )
        .alias("rate"),
    )
    bucket = TX.md5_bucket32(F.col("doc_id").cast("string"), F.col("source")) % 10000
    return (
        docs.join(F.broadcast(rates), "source")
        .where(bucket < F.round(F.col("rate") * 10000).cast("long"))
        .select("doc_id", "source", "rate")
    )


# =============================================================================
# t14b: BPE merge learning (iterative tokenizer induction)
# =============================================================================


@q("t14b_bpe_learn")  # rows-only: iterative driver loop, no closed SQL form
def t14b_bpe_learn(spark, sf_dir):
    """Full BPE merge-table induction (Sennrich et al. 2016) — t14's
    one-round pair count run to 8 ranked merges. Iterative driver loop
    over the VOCAB-sized word-frequency table (corpus-sized work happens
    exactly once, in the initial word count); merge application is a pure
    fold expression, no UDF. Deterministic tie-breaks make the merge
    table stable; the exact sequence is pinned on the paper's own example
    in tests/test_scale_ops.py."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.bpe_learn_merges(docs, n_merges=8)


# =============================================================================
# r17: blocked fuzzy (edit-distance) join
# =============================================================================


@q(
    "r17_fuzzy_join",
    f"""
    WITH vocab AS (
        SELECT DISTINCT w FROM (
            SELECT unnest({_DUCK_TOKENS.format(col='text')}) AS w FROM documents
        ) WHERE length(w) >= 5
    ),
    probes AS (
        SELECT DISTINCT 'q' || substr(w, 2) AS p
        FROM vocab WHERE w NOT LIKE 'q%'
    )
    SELECT p AS probe, w AS match, CAST(levenshtein(p, w) AS INTEGER) AS dist
    FROM probes JOIN vocab
      ON right(p, 4) = right(w, 4) AND length(p) = length(w)
    WHERE levenshtein(p, w) <= 2
    """,
)
def r17_fuzzy_join(spark, sf_dir):
    """Blocked fuzzy join — the entity-resolution / spell-correction
    primitive: probes (vocabulary words with a planted leading-char typo)
    matched to the dictionary under edit distance <= 2, with candidates
    restricted by a (suffix-4, length) blocking key so the expensive
    levenshtein only runs inside blocks — never all-pairs. The planted
    single-substitution edits are guaranteed recalled by this key
    (suffix and length are untouched); production recall for arbitrary
    edits layers more keys (q-gram or split-prefix blocks), same plan
    shape. Both engines implement plain Levenshtein, so the verify is
    oracle-exact."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("w"))
        .where(F.length("w") >= 5)
        .distinct()
    )
    probes = (
        vocab.where(~F.col("w").startswith("q"))
        .select(F.concat(F.lit("q"), F.expr("substring(w, 2)")).alias("p"))
        .distinct()
    )
    cand = probes.join(
        vocab,
        (F.expr("right(p, 4)") == F.expr("right(w, 4)"))
        & (F.length("p") == F.length("w")),
    )
    dist = F.levenshtein("p", "w")
    return (
        cand.where(dist <= 2)
        .select(F.col("p").alias("probe"), F.col("w").alias("match"), dist.cast("int").alias("dist"))
    )
