"""Round-11 corpus: the r10 VERDICT directives as oracle-checked queries.

- ``s8c3``/``s2i3`` — fixed-|Q| twins of the deterministic PQ/IVFPQ
  searches (VERDICT r10 #3): the originals draw their query set as 10%
  of the corpus (``vec_id % 10 == 0``), which makes BENCH_sf1 growth
  quadratic in sf BY CONSTRUCTION (|Q| and corpus both scale).  These
  twins pin |Q| = 500 at every sf (``vec_id < 500`` — vec_ids are
  sequential from 0 at every shipped tier, and the sf1 synthesis keeps
  copy 0's ids), so their sf0.1 -> sf1 growth isolates ENGINE scaling.
  The originals stay registered as the correctness anchors.

- ``s13b_power_iteration_det`` — the PCA eigensolve value check
  (VERDICT r10 #4): three unrolled power-iteration rounds over the
  exact integer covariance, all BIGINT half-up arithmetic, with a full
  DuckDB oracle — the s2j (Lloyd's) / t14c (BPE) fixed-iteration
  discipline applied to the last driver-side-trained rows-only family.
  ``s13_pca_project`` stays rows-only (LAPACK eigenvectors are trained
  state); this twin value-checks the covariance -> matvec machinery
  that the projection math rides on.

- ``pipe6b_tokenize_pack_oracled`` — pipe6 with a FULL assembled
  oracle (VERDICT r10 #5): pipe6 was rows-only because its per-doc
  lengths come from the BPE encode; t26b's unrolled 8-merge encode
  oracle now supplies ``n_bpe_tokens`` SQL-side, so the whole
  tokenize -> offset-pack composition is hash-checked end to end.

Reference anchor: all four extend SURVEY.md §2.J/§7.3 north-star
surface (ANN serving, PCA pre-indexing statistics, training-batch
assembly); the reference's own compute layer
(martech_pipelines/tasks/user_profile/clevertap.py) has no analog —
these are the LLM-data-pipeline extensions the build plan prescribes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from martech_pipelines_spark.operators import linalg as LA
from martech_pipelines_spark.operators import text as TX
from martech_pipelines_spark.plans.corpus import q
from martech_pipelines_spark.plans.corpus_r7 import (
    _NLIST,
    _NPROBE,
    _PQ_M,
    _S2I_ORACLE,
    _S8C_ORACLE,
)
from martech_pipelines_spark.plans.corpus_r10 import _bpe_learn_ctes
from martech_pipelines_spark.sources import load_table

# =============================================================================
# s8c3 / s2i3: fixed-|Q| PQ/IVFPQ twins (VERDICT r10 #3)
# =============================================================================

_FIXQ = 500  # |Q| at EVERY sf: 500 vectors exist under vec_id < 500
             # at sf0.001/0.01 (all 500), sf0.1 (of 2000) and the
             # synthesized sf1 (copy 0 keeps base ids) alike.

_S8C3_ORACLE = _S8C_ORACLE.replace(
    "q.vec_id % 10 = 0", f"q.vec_id < {_FIXQ}"
)
_S2I3_ORACLE = _S2I_ORACLE.replace(
    "x.vec_id % 10 = 0", f"x.vec_id < {_FIXQ}"
)
# the replace MUST have fired exactly once each, or the twin would
# silently share the original's scaling query set
assert _S8C_ORACLE.count("q.vec_id % 10 = 0") == 1
assert _S2I_ORACLE.count("x.vec_id % 10 = 0") == 1


def _fixed_queries(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id") < _FIXQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


@q("s8c3_pq_adc_fixedq", _S8C3_ORACLE)
def s8c3_pq_adc_fixedq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s8c's fixed-|Q| scale twin: the identical deterministic PQ/ADC
    kernel with |Q| pinned at 500 queries at every sf, so BENCH_sf1
    growth reads engine behavior (per-batch encode + ADC gathers),
    not the workload quadratic the %10 query set bakes in (s8c grew
    26.9x at 10x data because BOTH |Q| and the corpus scaled).  Same
    full oracle family; only the query predicate differs."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.pq_adc_deterministic_topk(
        _fixed_queries(emb), emb, m=_PQ_M, ksub=_NLIST, dim=64, k=5
    ).select("query_id", "vec_id", "adc_d2q", "rnk")


@q("s2i3_ivfpq_fixedq", _S2I3_ORACLE)
def s2i3_ivfpq_fixedq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s2i's fixed-|Q| scale twin (same rationale as s8c3: s2i grew
    11.2x at 10x data on the %10 query set).  Probes stay
    partition-pruned to nprobe=4 cells; the corpus-sized work
    (assign + residual encode) is the index BUILD, which legitimately
    scales linearly — the twin isolates exactly that."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ivfpq_deterministic_topk(
        _fixed_queries(emb), emb, nlist=_NLIST, nprobe=_NPROBE, m=_PQ_M,
        ksub=_NLIST, dim=64, k=5,
    ).select("query_id", "vec_id", "adc_d2q", "rnk")


# =============================================================================
# s13b: deterministic power iteration over the exact covariance
# =============================================================================
#
# Fixed-point contract (both engines): embedding values quantize to
# xq = floor(x*1e6 + 0.5); covariance cells are half-up integers at
# 1e6 scale (the s12 moments machinery at round_dp=6); each iteration
# is w = C_scaled @ v (exact integer sums in 128-bit) followed by
# half-up division by 1e6 — i.e. one application of the REAL
# covariance in fixed point.  v0 = 1e10 for every dim keeps ~5
# significant digits through three ~40x shrink rounds (top eigenvalue
# ~0.0275 on the synthetic corpus) while the worst-case magnitude
# d*max|cov|*|v| stays far inside BIGINT.

_PI_ROUNDS = 3
_PI_V0 = 10_000_000_000
_PI_DP = 6


def _s13b_oracle() -> str:
    halfup = (
        "CAST(CASE WHEN w >= 0 THEN (2*w + 1000000) // 2000000 "
        "ELSE -((-2*w + 1000000) // 2000000) END AS BIGINT)"
    )
    rounds = []
    for t in range(1, _PI_ROUNDS + 1):
        prev = "v0" if t == 1 else f"v{t - 1}"
        rounds.append(f"""
w{t} AS (
    SELECT c.i AS dim, sum(CAST(c.c AS HUGEINT) * v.v) AS w
    FROM cells c JOIN {prev} v ON v.dim = c.j GROUP BY 1
),
v{t} AS (SELECT dim, {halfup} AS v FROM w{t})""")
    joins = " ".join(
        f"JOIN v{t} USING (dim)" for t in range(2, _PI_ROUNDS + 1)
    )
    sel = ", ".join(f"v{t}.v AS v{t}" for t in range(1, _PI_ROUNDS + 1))
    return f"""
WITH e AS (
    SELECT vec_id, CAST(i AS INTEGER) - 1 AS dim,
           CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS xq
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
mo AS (
    SELECT a.dim AS i, b.dim AS j, count(*) AS n,
           sum(CAST(a.xq AS HUGEINT) * b.xq) AS sxy,
           sum(CAST(a.xq AS HUGEINT)) AS sx,
           sum(CAST(b.xq AS HUGEINT)) AS sy
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    GROUP BY 1, 2
),
cell0 AS (
    SELECT i, j,
           CAST(CASE WHEN num >= 0 THEN (2*num + den) // (2*den)
                     ELSE -((-2*num + den) // (2*den)) END AS BIGINT) AS c
    FROM (SELECT i, j,
                 (CAST(n AS HUGEINT) * sxy - sx * sy) * 1000000 AS num,
                 CAST(n AS HUGEINT) * n * 1000000000000 AS den
          FROM mo)
),
cells AS (SELECT i, j, c FROM cell0
          UNION ALL
          SELECT j AS i, i AS j, c FROM cell0 WHERE i < j),
v0 AS (SELECT DISTINCT i AS dim, CAST({_PI_V0} AS BIGINT) AS v FROM cells),
{",".join(rounds)}
SELECT CAST(v1.dim AS BIGINT) AS dim, {sel}
FROM v1 {joins}
"""


@q("s13b_power_iteration_det", _s13b_oracle())
def s13b_power_iteration_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA value check: three unrolled deterministic power-iteration
    rounds over the exact integer covariance of every embedding, full
    DuckDB oracle (VERDICT r10 #4).  What it proves: the covariance
    reduce (shared with the oracle-checked s12) AND the matvec/fixed-
    point-normalize arithmetic that any projection onto learned
    components performs — the whole s13 path except the LAPACK eigh
    call, which stays rows-only by nature (pytest ties this twin to the
    real spectrum via a Rayleigh-quotient gate).  Scale shape: the only
    corpus-sized stage is the covariance reduce (O(n*d^2) oracle form;
    s12b's Gram-partial Arrow twin is the 100-TB physical form); the
    iteration itself is keyed joins over the d^2-cell matrix —
    constant in corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = LA.embedding_covariance(
        emb, "embedding", round_dp=_PI_DP, id_col="vec_id",
        as_scaled_int=True,
    )
    out = LA.power_iteration_det(
        cells, rounds=_PI_ROUNDS, cell_dp=_PI_DP, v0=_PI_V0
    )
    return out.select(
        F.col("dim").cast("long").alias("dim"),
        *[f"v{t}" for t in range(1, _PI_ROUNDS + 1)],
    )


# =============================================================================
# pipe6b: tokenize -> pack with the full assembled oracle
# =============================================================================

_PIPE6_BUDGET = 256


def _pipe6b_oracle() -> str:
    from martech_pipelines_spark.plans.corpus_r10 import _DUCK_TOKENS

    toks = _DUCK_TOKENS.format(col="text")
    return f"""
WITH {_bpe_learn_ctes(8)},
enc AS (
  SELECT w, len(string_split(trim(s, '#'), '##')) AS n_pieces FROM w8
),
tok AS (
  SELECT doc_id, toks[i] AS w
  FROM (SELECT doc_id, {toks} AS toks FROM documents) t,
       unnest(range(1, len(toks) + 1)) AS u(i)
),
doclen AS (
  SELECT tok.doc_id, CAST(sum(n_pieces) AS BIGINT) AS n_tok
  FROM tok JOIN enc USING (w) GROUP BY 1
),
lens AS (
  SELECT d.source, d.doc_id, coalesce(n_tok, 0) AS n_tok
  FROM documents d LEFT JOIN doclen USING (doc_id)
),
packed AS (
  SELECT source, doc_id, n_tok,
         CAST(floor((sum(n_tok) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tok) / {_PIPE6_BUDGET}.0) AS BIGINT) AS pack_id
  FROM lens
)
SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM packed GROUP BY 1, 2
"""


@q("pipe6b_tokenize_pack_oracled", _pipe6b_oracle())
def pipe6b_tokenize_pack_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipe6's value-checked twin (VERDICT r10 #5): the SAME
    tokenize -> offset-pack composition — learn 8 BPE merges, encode
    every doc with the real Arrow kernel, pack on ``n_bpe_tokens`` into
    256-token batches per source — now against a full
    assembled oracle (t14c's unrolled merge CTEs supply the encode
    table, t10's window-packing SQL consumes its lengths).  pipe6 stays
    registered for driver-history continuity; pytest pins the two
    row-for-row equal.  Scale shape unchanged: corpus-sized work is
    one word count + the Arrow encode; packing windows partition by
    source (never a global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = TX.bpe_learn_merges(docs, n_merges=8)
    enc = TX.bpe_encode(docs, merges).select("doc_id", "n_bpe_tokens")
    joined = docs.select("doc_id", "source").join(enc, "doc_id")
    return TX.sequence_pack(
        joined, budget=_PIPE6_BUDGET, count_col="n_bpe_tokens"
    ).select(
        "source",
        "pack_id",
        "n_docs",
        F.col("total_tokens").cast("long").alias("total_tokens"),
    )
