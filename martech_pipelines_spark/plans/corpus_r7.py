"""Round-7 corpus additions.

``pipe10b_prep_funnel_materialized`` — pipe10's 100-TB form (VERDICT r6
"Next round" #4): the prep-funnel report answered from a materialized
index (one raw-text scan at build time; the report itself reads only
skinny parquet — doc stats + window hashes).  Shares pipe10's oracle:
the two forms are bit-equal by construction.

ANN candidate-generation component oracles (VERDICT r6 #8): the
rows-only IVF/PQ entries hide fully-deterministic integer stages behind
their trained rankings.  These queries expose exactly those stages and
give them full DuckDB oracles:

``s2e_ivf_cells``    — IVF cell assignment histogram: every vector's
                       nearest-centroid cell (argmin over a FIXED
                       deterministic centroid table) + per-cell counts.
``s2f_ivf_probe_sets`` — per-query probe set: the nprobe nearest cells
                       per query vector against the same fixed
                       centroids — the partition-pruning decision the
                       IVF index makes before any trained ranking.
``s8b_pq_codes``     — product-quantization code assignment: per
                       (vector, subspace) nearest-codeword ids against
                       a fixed codebook — the code table an IVFPQ index
                       stores, before any distance-table ranking.

All three spell argmin-over-L2 as deterministic arithmetic over the
SAME parquet the engine reads; ties broken by lowest centroid/codeword
id in BOTH engines (and verified tie-free on the testdata by the
audit_limit_ties discipline: the argmin is strict on this corpus).

The family closers take the component oracles end to end:

``s2g``          — the complete deterministic IVF search (Arrow
                   map-side top-k kernel);
``s2h``          — the MATERIALIZED lifecycle under the same oracle:
                   base build, frozen-quantizer delta append, probe
                   pruning partitions on both sides of the union;
``s8c``          — end-to-end PQ search: m-byte codes + per-query
                   integer ADC lookup tables, summed and ranked;
``s2i``          — end-to-end IVFPQ: coarse probe composed with
                   RESIDUAL PQ/ADC (residuals subtract exactly in
                   quantized integer space).

After these, only KMeans/Lloyd's training itself stays recall-gated.

Registers into the shared QUERIES/ORACLE dicts at import time.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from martech_pipelines_spark.plans.corpus import ORACLE, QUERIES, q  # noqa: F401
from martech_pipelines_spark.plans.corpus_r6 import _pipe10_oracle
from martech_pipelines_spark.sources import load_table

# ---------------------------------------------------------------------------
# pipe10b: materialized prep funnel
# ---------------------------------------------------------------------------

# Build-once-per-process index cache keyed by sf_dir: the first call per
# (process, sf_dir) pays the single raw-corpus scan, every later call is
# probe-only — exactly the steady-state refresh cost the materialized
# form exists to measure (bench best-of-N reports the probe; the driver's
# one-shot correctness run includes the build and is equally correct).
_PIPE10B_INDEX: dict[str, str] = {}


def _pipe10b_index(spark: SparkSession, sf_dir: str) -> str:
    from martech_pipelines_spark.operators import prep

    path = _PIPE10B_INDEX.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="prep_funnel_idx_")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        prep.prep_index_build(docs, path, w=8)
        _PIPE10B_INDEX[sf_dir] = path
    return path


@q("pipe10b_prep_funnel_materialized", _pipe10_oracle())
def pipe10b_prep_funnel_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """pipe10 through the materialized two-stage form (dd3c/t19b pattern
    applied to the whole prep pipeline): stage 1 writes doc-stats +
    window-hash index tables once; stage 2 computes the 5-stage funnel
    report reading ONLY the index — no tokenizer, no regex, no raw text
    in the probe plan (plan-asserted in tests/test_plans.py).  Shares
    pipe10's oracle — the forms are bit-equal.  At sf1 the inline form
    is linear in corpus text (56 s, BENCH_sf1.json r6); the probe is
    linear only in the window-hash INDEX (16-byte hashes), the 100-TB
    refresh shape."""
    from martech_pipelines_spark.operators import prep

    return prep.prep_funnel_report(spark, _pipe10b_index(spark, sf_dir))


# ---------------------------------------------------------------------------
# ANN candidate-generation component oracles
# ---------------------------------------------------------------------------

_NLIST = 16
_NPROBE = 4
_PQ_M = 8
_PQ_DSUB = 8  # dim 64 / m 8

# Quantized-integer vector + deterministic modular-representative
# centroids, shared by the three oracles.  All distance arithmetic is
# integer-valued doubles < 2^53, where double addition is exact — the
# covariance family's determinism contract applied to argmin geometry.
_QVEC = "list_transform(CAST({col} AS DOUBLE[]), x -> floor(x*1000000 + 0.5))"

_CENT_CTES = f"""
    xq AS (
        SELECT vec_id, {_QVEC.format(col='embedding')} AS q
        FROM embeddings
    ), reps AS (
        SELECT CAST(vec_id % {_NLIST} AS INTEGER) AS cell,
               min(vec_id) AS rid
        FROM embeddings GROUP BY 1
    ), cents AS (
        SELECT r.cell, x.q AS cq
        FROM reps r JOIN xq x ON x.vec_id = r.rid
    )
"""

_S2E_ORACLE = f"""
    WITH {_CENT_CTES}, scored AS (
        SELECT x.vec_id, c.cell,
               CAST(list_dot_product(x.q, x.q) + list_dot_product(c.cq, c.cq)
                    - 2*list_dot_product(x.q, c.cq) AS BIGINT) AS d2q
        FROM xq x CROSS JOIN cents c
    )
    SELECT vec_id, cell, d2q FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY d2q, cell
        ) AS rn FROM scored
    ) WHERE rn = 1
"""


@q("s2e_ivf_cells", _S2E_ORACLE)
def s2e_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment — the deterministic candidate-generation
    stage hiding inside the rows-only s2b/s2c entries, surfaced with a
    full oracle (VERDICT r6 #8): every corpus vector's nearest centroid
    by EXACT integer squared distance against the deterministic
    modular-representative centroid table.  The trained-KMeans variant
    runs the SAME assignment kernel with a different table — this query
    value-checks the geometry, the recall gates check the training.
    Centroids broadcast; candidates collapse map-side via min(struct);
    one keyed exchange of pre-combined rows."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SIM.modular_representatives(emb, nlist=_NLIST)
    return SIM.quantized_cell_assignments(emb, cents).select(
        "vec_id", "cell", "d2q"
    )


_S2F_ORACLE = f"""
    WITH {_CENT_CTES}, scored AS (
        SELECT x.vec_id AS query_id, c.cell,
               CAST(list_dot_product(x.q, x.q) + list_dot_product(c.cq, c.cq)
                    - 2*list_dot_product(x.q, c.cq) AS BIGINT) AS d2q
        FROM xq x CROSS JOIN cents c
        WHERE x.vec_id % 10 = 0
    )
    SELECT query_id, CAST(rn AS BIGINT) AS probe_rank, cell, d2q FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY d2q, cell
        ) AS rn FROM scored
    ) WHERE rn <= {_NPROBE}
"""


@q("s2f_ivf_probe_sets", _S2F_ORACLE)
def s2f_ivf_probe_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query IVF probe set — the partition-pruning decision
    ``ivf_probe_topk`` makes before any ranking (which cells' inverted
    lists get read), value-checked end to end: the nprobe={_NPROBE}
    nearest cells per query by exact integer distance, rank ties to the
    lowest cell.  Query set = every 10th vector (the s1/s19
    convention)."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SIM.modular_representatives(emb, nlist=_NLIST)
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.quantized_probe_cells(queries, cents, nprobe=_NPROBE).select(
        "query_id", "probe_rank", "cell", "d2q"
    )


_S8B_ORACLE = f"""
    WITH {_CENT_CTES}, sub AS (
        SELECT j FROM unnest(range(0, {_PQ_M})) u(j)
    ), cb AS (
        SELECT CAST(s.j AS INTEGER) AS subspace, c.cell AS code,
               c.cq[CAST(s.j*{_PQ_DSUB}+1 AS INTEGER)
                    :CAST(s.j*{_PQ_DSUB}+{_PQ_DSUB} AS INTEGER)] AS cw
        FROM cents c CROSS JOIN sub s
    ), xs AS (
        SELECT x.vec_id, CAST(s.j AS INTEGER) AS subspace,
               x.q[CAST(s.j*{_PQ_DSUB}+1 AS INTEGER)
                   :CAST(s.j*{_PQ_DSUB}+{_PQ_DSUB} AS INTEGER)] AS sq
        FROM xq x CROSS JOIN sub s
    ), scored AS (
        SELECT xs.vec_id, xs.subspace, cb.code,
               CAST(list_dot_product(xs.sq, xs.sq)
                    + list_dot_product(cb.cw, cb.cw)
                    - 2*list_dot_product(xs.sq, cb.cw) AS BIGINT) AS d2q
        FROM xs JOIN cb ON cb.subspace = xs.subspace
    )
    SELECT vec_id, subspace, code, d2q FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id, subspace ORDER BY d2q, code
        ) AS rn FROM scored
    ) WHERE rn = 1
"""


@q("s8b_pq_codes", _S8B_ORACLE)
def s8b_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ code assignment — the deterministic stage of the rows-only
    s8/s2d IVFPQ entries (what ``pq_encode_udf``'s argmin computes),
    against the deterministic modular codebook: per (vector, subspace)
    the nearest codeword by exact integer distance on the
    {_PQ_DSUB}-dim slice.  The m-byte code table an IVFPQ index stores,
    value-checked cell by cell; the trained-codebook variant reuses the
    same argmin with Lloyd's output.  Codebook broadcasts; candidates
    collapse map-side; one keyed exchange on (vec_id, subspace)."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    cb = SIM.modular_pq_codebook(emb, m=_PQ_M, ksub=_NLIST, dim=64)
    return SIM.quantized_pq_codes(emb, cb, m=_PQ_M, dim=64).select(
        "vec_id", "subspace", "code", "d2q"
    )


_S2G_ORACLE = f"""
    WITH {_CENT_CTES}, assign AS (
        SELECT vec_id, cell FROM (
            SELECT x.vec_id, c.cell,
                   row_number() OVER (
                       PARTITION BY x.vec_id
                       ORDER BY CAST(list_dot_product(x.q, x.q)
                                     + list_dot_product(c.cq, c.cq)
                                     - 2*list_dot_product(x.q, c.cq) AS BIGINT),
                                cell
                   ) AS rn
            FROM xq x CROSS JOIN cents c
        ) WHERE rn = 1
    ), probes AS (
        SELECT query_id, cell FROM (
            SELECT x.vec_id AS query_id, c.cell,
                   row_number() OVER (
                       PARTITION BY x.vec_id
                       ORDER BY CAST(list_dot_product(x.q, x.q)
                                     + list_dot_product(c.cq, c.cq)
                                     - 2*list_dot_product(x.q, c.cq) AS BIGINT),
                                cell
                   ) AS rn
            FROM xq x CROSS JOIN cents c
            WHERE x.vec_id % 10 = 0
        ) WHERE rn <= {_NPROBE}
    ), cand AS (
        SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (cell)
    ), scored AS (
        SELECT cand.query_id, cand.vec_id,
               round(
                   list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))),
                   4) AS cos_sim
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.query_id
        JOIN embeddings e ON e.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
        ) AS rnk
        FROM scored WHERE cos_sim IS NOT NULL
    ) WHERE rnk <= 5
"""


@q("s2g_ivf_deterministic_topk", _S2G_ORACLE)
def s2g_ivf_deterministic_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END deterministic IVF search, fully value-checked — the
    upgrade past the component oracles: coarse quantizer = modular
    representatives, cell assignment + probe selection = integer-exact
    int64 argmin per corpus Arrow batch (the map-side top-k kernel: one
    scoring matmul, batches*|Q|*k rows into the one rank exchange),
    ranking = exact cosine within the probed cells under s1's
    rounded-rank + id tie-break contract.  Every stage deterministic =>
    the complete ANN query has a DuckDB oracle; the trained-KMeans
    variants (s2b/s2c) swap only the centroid table and keep the recall
    gates.  Query set = every 10th vector, k=5, nprobe={_NPROBE} of
    {_NLIST} cells."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_deterministic_topk(
        queries, emb, nlist=_NLIST, nprobe=_NPROBE, k=5
    ).select("query_id", "vec_id", "cos_sim", "rnk")


# ---------------------------------------------------------------------------
# s2h: the materialized deterministic IVF lifecycle, probed base + delta
# ---------------------------------------------------------------------------

# Build-once-per-process index cache keyed by sf_dir (the pipe10b
# pattern): the first call builds the base index from the day-0 snapshot
# and appends the "later arrivals" delta batch with the frozen quantizer;
# every later call is probe-only — the steady-state refresh cost.
_S2H_INDEX: dict[str, str] = {}


def _s2h_index(spark: SparkSession, sf_dir: str) -> str:
    from martech_pipelines_spark.operators import similarity as SIM

    path = _S2H_INDEX.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="ivf_det_idx_")
        emb = load_table(spark, sf_dir, "embeddings")
        # Later-arrivals delta: every 5th id past the first _NLIST.  The
        # >= _NLIST guard keeps each modular class's LOWEST id in the
        # base (vec_id is dense from 0 in this corpus), so the quantizer
        # trained on the base alone IS the full-corpus representative
        # table — which is what lets the probe share s2g's whole-corpus
        # oracle verbatim.
        delta_pred = (F.col("vec_id") % 5 == 4) & (F.col("vec_id") >= _NLIST)
        SIM.ivf_det_build_index(emb.where(~delta_pred), path, nlist=_NLIST)
        SIM.ivf_det_append_batch(emb.where(delta_pred), 0, path)
        _S2H_INDEX[sf_dir] = path
    return path


@q("s2h_ivf_delta_probe", _S2G_ORACLE)  # SHARES s2g's oracle
def s2h_ivf_delta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL materialized ANN lifecycle under one oracle: build the
    deterministic IVF index from a base snapshot (cell-partitioned
    inverted lists), append a later-arrivals batch with the FROZEN
    quantizer (the streaming-maintenance path, `corpus_delta/batch=0`),
    then answer the s2g search by probing base + delta with a literal
    ``cell IN (...)`` partition filter on both sides of the union.
    Because assignment/probing are integer-exact and the base preserves
    the modular representatives, the result is bit-equal to the inline
    ``ivf_deterministic_topk`` over the whole corpus — s2g's DuckDB
    oracle value-checks build, append, and pruned probe end to end
    (VERDICT r6 #8 taken past component oracles to the index lifecycle;
    the trained-KMeans lifecycle reuses this exact layout behind the
    recall gates).  At 100 TB this is the shape that matters: the
    nightly ingest touches only the day's vectors, the probe reads
    ~nprobe/nlist of the corpus plus the skinny delta."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_det_probe_topk(
        queries, _s2h_index(spark, sf_dir), k=5, nprobe=_NPROBE
    ).select("query_id", "vec_id", "cos_sim", "rnk")


# ---------------------------------------------------------------------------
# s8c: end-to-end deterministic PQ search (ADC) — the s2g upgrade for the
# PQ family
# ---------------------------------------------------------------------------

_S8C_ORACLE = f"""
    WITH {_CENT_CTES}, sub AS (
        SELECT j FROM unnest(range(0, {_PQ_M})) u(j)
    ), cb AS (
        SELECT CAST(s.j AS INTEGER) AS subspace, c.cell AS code,
               c.cq[CAST(s.j*{_PQ_DSUB}+1 AS INTEGER)
                    :CAST(s.j*{_PQ_DSUB}+{_PQ_DSUB} AS INTEGER)] AS cw
        FROM cents c CROSS JOIN sub s
    ), xs AS (
        SELECT x.vec_id, CAST(s.j AS INTEGER) AS subspace,
               x.q[CAST(s.j*{_PQ_DSUB}+1 AS INTEGER)
                   :CAST(s.j*{_PQ_DSUB}+{_PQ_DSUB} AS INTEGER)] AS sq
        FROM xq x CROSS JOIN sub s
    ), codes AS (
        SELECT vec_id, subspace, code FROM (
            SELECT xs.vec_id, xs.subspace, cb.code,
                   row_number() OVER (
                       PARTITION BY xs.vec_id, xs.subspace
                       ORDER BY CAST(list_dot_product(xs.sq, xs.sq)
                                     + list_dot_product(cb.cw, cb.cw)
                                     - 2*list_dot_product(xs.sq, cb.cw) AS BIGINT),
                                cb.code
                   ) AS rn
            FROM xs JOIN cb ON cb.subspace = xs.subspace
        ) WHERE rn = 1
    ), lut AS (
        SELECT q.vec_id AS query_id, cb.subspace, cb.code,
               CAST(list_dot_product(q.sq, q.sq)
                    + list_dot_product(cb.cw, cb.cw)
                    - 2*list_dot_product(q.sq, cb.cw) AS BIGINT) AS qd2
        FROM xs q JOIN cb ON cb.subspace = q.subspace
        WHERE q.vec_id % 10 = 0
    ), adc AS (
        SELECT l.query_id, c.vec_id,
               CAST(sum(l.qd2) AS BIGINT) AS adc_d2q
        FROM codes c
        JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_d2q, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_d2q, vec_id
        ) AS rnk FROM adc
    ) WHERE rnk <= 5
"""


@q("s8c_pq_adc_deterministic_topk", _S8C_ORACLE)
def s8c_pq_adc_deterministic_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END deterministic PQ search — what the rows-only trained
    ``s8_pq_topk`` computes, value-checked whole: encode the corpus to
    m-byte codes against the modular codebook, build each query's
    m x ksub integer ADC lookup table, rank by summed lookups (ties to
    the lowest vec_id — the tie PQ creates by construction whenever two
    vectors share all m codes, made total and engine-exact).  The s2g
    upgrade applied to the PQ family: the coarse-quantizer lifecycle
    (s2e/s2f/s2g/s2h) and now the fine-quantizer ADC machinery both
    carry full DuckDB oracles; only the Lloyd's training itself stays
    behind the recall gates.  Scale shape: the codebook and query LUT
    are closed over by the map-side top-k kernel, which encodes each
    corpus Arrow batch and scores it by m table gathers; only
    batches*|Q|*k candidate rows reach the one rank exchange."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.pq_adc_deterministic_topk(
        queries, emb, m=_PQ_M, ksub=_NLIST, dim=64, k=5
    ).select("query_id", "vec_id", "adc_d2q", "rnk")


# ---------------------------------------------------------------------------
# s2i: end-to-end deterministic IVFPQ search — coarse probe + residual ADC
# ---------------------------------------------------------------------------

_S2I_ORACLE = f"""
    WITH {_CENT_CTES}, assign AS (
        SELECT vec_id, cell FROM (
            SELECT x.vec_id, c.cell,
                   row_number() OVER (
                       PARTITION BY x.vec_id
                       ORDER BY CAST(list_dot_product(x.q, x.q)
                                     + list_dot_product(c.cq, c.cq)
                                     - 2*list_dot_product(x.q, c.cq) AS BIGINT),
                                cell
                   ) AS rn
            FROM xq x CROSS JOIN cents c
        ) WHERE rn = 1
    ), resid AS (
        SELECT a.vec_id, a.cell,
               list_transform(list_zip(x.q, c.cq), s -> s[1] - s[2]) AS r
        FROM assign a
        JOIN xq x ON x.vec_id = a.vec_id
        JOIN cents c ON c.cell = a.cell
    ), sub AS (
        SELECT j FROM unnest(range(0, {_PQ_M})) u(j)
    ), rreps AS (
        SELECT CAST(vec_id % {_NLIST} AS INTEGER) AS code, min(vec_id) AS rid
        FROM embeddings GROUP BY 1
    ), rcb AS (
        SELECT CAST(s.j AS INTEGER) AS subspace, rr.code,
               r.r[CAST(s.j*{_PQ_DSUB}+1 AS INTEGER)
                   :CAST(s.j*{_PQ_DSUB}+{_PQ_DSUB} AS INTEGER)] AS cw
        FROM rreps rr JOIN resid r ON r.vec_id = rr.rid CROSS JOIN sub s
    ), rs AS (
        SELECT r.vec_id, r.cell, CAST(s.j AS INTEGER) AS subspace,
               r.r[CAST(s.j*{_PQ_DSUB}+1 AS INTEGER)
                   :CAST(s.j*{_PQ_DSUB}+{_PQ_DSUB} AS INTEGER)] AS sq
        FROM resid r CROSS JOIN sub s
    ), codes AS (
        SELECT vec_id, cell, subspace, code FROM (
            SELECT rs.vec_id, rs.cell, rs.subspace, rcb.code,
                   row_number() OVER (
                       PARTITION BY rs.vec_id, rs.subspace
                       ORDER BY CAST(list_dot_product(rs.sq, rs.sq)
                                     + list_dot_product(rcb.cw, rcb.cw)
                                     - 2*list_dot_product(rs.sq, rcb.cw) AS BIGINT),
                                rcb.code
                   ) AS rn
            FROM rs JOIN rcb ON rcb.subspace = rs.subspace
        ) WHERE rn = 1
    ), probes AS (
        SELECT query_id, cell FROM (
            SELECT x.vec_id AS query_id, c.cell,
                   row_number() OVER (
                       PARTITION BY x.vec_id
                       ORDER BY CAST(list_dot_product(x.q, x.q)
                                     + list_dot_product(c.cq, c.cq)
                                     - 2*list_dot_product(x.q, c.cq) AS BIGINT),
                                cell
                   ) AS rn
            FROM xq x CROSS JOIN cents c
            WHERE x.vec_id % 10 = 0
        ) WHERE rn <= {_NPROBE}
    ), qresid AS (
        SELECT p.query_id, p.cell,
               list_transform(list_zip(x.q, c.cq), s -> s[1] - s[2]) AS r
        FROM probes p
        JOIN xq x ON x.vec_id = p.query_id
        JOIN cents c ON c.cell = p.cell
    ), qs AS (
        SELECT q.query_id, q.cell, CAST(s.j AS INTEGER) AS subspace,
               q.r[CAST(s.j*{_PQ_DSUB}+1 AS INTEGER)
                   :CAST(s.j*{_PQ_DSUB}+{_PQ_DSUB} AS INTEGER)] AS sq
        FROM qresid q CROSS JOIN sub s
    ), lut AS (
        SELECT qs.query_id, qs.cell, qs.subspace, rcb.code,
               CAST(list_dot_product(qs.sq, qs.sq)
                    + list_dot_product(rcb.cw, rcb.cw)
                    - 2*list_dot_product(qs.sq, rcb.cw) AS BIGINT) AS qd2
        FROM qs JOIN rcb ON rcb.subspace = qs.subspace
    ), adc AS (
        SELECT l.query_id, c.vec_id,
               CAST(sum(l.qd2) AS BIGINT) AS adc_d2q
        FROM codes c
        JOIN lut l ON l.cell = c.cell AND l.subspace = c.subspace
                  AND l.code = c.code
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_d2q, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_d2q, vec_id
        ) AS rnk FROM adc
    ) WHERE rnk <= 5
"""


@q("s2i_ivfpq_deterministic_topk", _S2I_ORACLE)
def s2i_ivfpq_deterministic_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END deterministic IVFPQ — the composition of the coarse
    quantizer (s2g's modular cells) and the fine quantizer (s8c's ADC)
    through RESIDUAL encoding, value-checking the whole search path of
    the rows-only trained s2d: corpus cells by integer argmin, residuals
    r = xq - cq (integers subtract exactly in either engine), residual
    PQ codebook by the modular trick, per-subspace code argmin, per-
    (query, probed-cell) residual LUTs, ADC ranking with a total vec_id
    tie-break.  The last deterministic stage of the ANN family to gain
    a full DuckDB oracle — after this only Lloyd's/KMeans training
    itself is recall-gated.  Scale shape: centroids, residual codebook
    and per-(query, cell) LUTs are closed over by the map-side top-k
    kernel; each corpus Arrow batch is assigned + encoded (= s2d's
    build job) and scored only against the queries probing its cells."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivfpq_deterministic_topk(
        queries, emb, nlist=_NLIST, nprobe=_NPROBE, m=_PQ_M, ksub=_NLIST,
        dim=64, k=5,
    ).select("query_id", "vec_id", "adc_d2q", "rnk")
