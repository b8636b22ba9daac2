"""Similarity search over embedding columns (north-star surface).

Embeddings are ``array<float>`` columns (embeddings table: 64-dim).  Every
search kernel here -- exact, LSH, IVF, PQ, graph walk, dedup and pair
mining -- is a candidate generator followed by ONE ranking contract:

- cosine in double precision over per-row L2 norms, NULL when either
  norm is zero (a zero vector is never returned);
- rounded to ``round_dp`` BEFORE ranking, so 1-ulp summation-order noise
  cannot flip ranks across engines;
- ranked descending (exact integer distances: ascending), ties to the
  lowest corpus id, ``rnk`` a long <= k.

Each part of the contract has one home:

- ``_side`` -- the (id, double vector, L2 norm) projection of a search
  side, so norms are computed once per row, never per pair;
- ``_cosine_col`` -- the rounded-cosine column over those norms, and
  ``_np_cosine`` its numpy twin for the Arrow scorers;
- ``_rank_topk`` -- the one top-k window.

Candidates come either from a JVM join (broadcast query side x corpus,
band collisions, probed IVF cells, graph edges) scored by higher-order
function folds (``dot``), or from ``_map_side_candidates``: an Arrow
``mapInPandas`` kernel that scores each corpus batch against the
collected query matrix and keeps each query's within-batch shortlist
(REPOSE's local top-k, globally merged by ``_rank_topk``).

Hyperplane determinism: components are derived from md5(seed, plane, dim)
mapped to [-1, 1) -- reproducible across runs/engines with no RNG state.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from martech_pipelines_spark.operators.parallelism import spread


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision; null on zero-norm input."""
    ad, bd = _as_double(a), _as_double(b)
    denom = l2_norm(ad) * l2_norm(bd)
    return F.when(denom > 0, dot(ad, bd) / denom)


def _side(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    prefix: str,
    *extra: Column,
    id_as: str | None = None,
    spread_by_id: bool = False,
) -> DataFrame:
    """(``{prefix}id``, ``{prefix}v`` double vector, ``*extra``,
    ``{prefix}n`` L2 norm) -- one side of a cosine search.  ``id_as``
    keeps a caller-visible id name; ``spread_by_id`` repairs a 1-2
    partition scan (``parallelism.spread``) BEFORE the norm, so the norm
    and the pair scoring run on every core."""
    base = df.select(
        F.col(id_col).alias(id_as or f"{prefix}id"),
        _as_double(F.col(vec_col)).alias(f"{prefix}v"),
        *extra,
    )
    if spread_by_id:
        base = spread(base, by=id_as or f"{prefix}id")
    return base.withColumn(f"{prefix}n", l2_norm(F.col(f"{prefix}v")))


def _cosine_col(round_dp: int, a: str = "__q", b: str = "__c") -> Column:
    """``cos_sim``: the rounded cosine of two ``_side`` projections
    (prefixes ``a`` and ``b``), NULL on a zero norm."""
    denom = F.col(f"{a}n") * F.col(f"{b}n")
    return F.round(
        F.when(denom > 0, dot(F.col(f"{a}v"), F.col(f"{b}v")) / denom), round_dp
    ).alias("cos_sim")


def _np_norms(mat: np.ndarray) -> np.ndarray:
    return np.sqrt((mat * mat).sum(axis=1))


def _np_cosine(dots: np.ndarray, q_norm: np.ndarray, c_norm: np.ndarray) -> np.ndarray:
    """numpy ``_cosine_col`` before rounding: a (|Q|, batch) dot matrix
    over precomputed norms, NaN where either norm is zero."""
    denom = np.outer(q_norm, c_norm)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, dots / denom, np.nan)


def _rank_topk(
    scored: DataFrame,
    by: str,
    score_col: str,
    id_col: str,
    k: int,
    ascending: bool = False,
    rank_col: str = "rnk",
) -> DataFrame:
    """The one top-k window: per ``by``, NULL scores dropped, ordered by
    ``score_col`` descending (``ascending`` for distances) with ties to
    the lowest ``id_col``, ``rank_col`` a long <= k."""
    order = F.col(score_col).asc() if ascending else F.col(score_col).desc()
    w = Window.partitionBy(by).orderBy(order, F.col(id_col).asc())
    return (
        scored.where(F.col(score_col).isNotNull())
        .withColumn(rank_col, F.row_number().over(w).cast("long"))
        .where(F.col(rank_col) <= k)
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast(queries) x corpus -> window.
    Output: (query_id, vec_id, cos_sim, rnk).  The corpus side is never
    shuffled -- the join broadcasts the query set and the window
    partitions by query_id (one narrow shuffle of the scored pairs)."""
    q = _side(queries, query_id, query_vec, "__q")
    # The |Q| x |C| dot products evaluate on the corpus side's
    # partitioning, and the single-row-group testdata scans arrive as
    # 1-2 partitions (measured: s32's dense stage = ONE task x 8.4 s).
    # spread() unlocks every core; no-op on real multi-partition scans.
    c = _side(corpus, corpus_id, corpus_vec, "__c", spread_by_id=True)
    scored = F.broadcast(q).crossJoin(c).select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        _cosine_col(round_dp),
    )
    return _rank_topk(scored, query_id, "cos_sim", corpus_id, k)


#: Driver-side budget for the query matrix every map-side top-k kernel
#: collects (rows * dim float64 cells; 8M = 64 MB).  The kernels'
#: contract is a |Q|-BOUNDED query set — corpus-as-queries callers
#: (graph builds) must go through ``knn_graph``'s blocked path or the
#: banded-LSH build (``knn_graph_lsh`` / s10b), never raise this
#: blindly.  The loud guard is the linalg overflow-guard convention: an
#: unbounded queries.collect() is a silent driver OOM at 100 TB.
_MAX_QUERY_CELLS = 8_000_000


def _map_side_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    make_scorer,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    shortlist: int,
    round_dp: int | None = None,
    score_col: str = "cos_sim",
    max_query_cells: int | None = None,
) -> DataFrame:
    """Candidate producer of every Arrow search kernel: the local half of
    REPOSE's distributed top-k, globally merged by ``_rank_topk``.  The
    query matrix (small by construction) is collected once and closed
    over by a ``mapInPandas`` kernel that scores each corpus Arrow batch
    against ALL queries and emits each query's within-batch top
    ``shortlist`` -- |batches| * |Q| * shortlist rows reach the window's
    one exchange instead of |Q| * N scored pairs.

    ``make_scorer(q_mat)`` receives the (|Q|, dim) float64 query matrix
    and returns ``score(c_mat)``, which maps a (batch, dim) float64
    corpus matrix to a (|Q|, batch) float64 score matrix, NaN where the
    pair is not a candidate.  With ``round_dp`` the score is a
    similarity, selected and output rounded (the module contract); with
    ``round_dp=None`` it is an exact integer distance (exact in float64
    below 2^53), selected ascending and output as a long.

    The query collect is BUDGETED: the driver never materializes more
    than ``max_query_cells`` (default ``_MAX_QUERY_CELLS``) float64
    cells (+1 probe row).  A query set over budget raises loudly with
    the remediation instead of OOMing the driver.  Null query and corpus
    vectors can never score and are dropped up front."""
    if max_query_cells is None:
        max_query_cells = _MAX_QUERY_CELLS
    similarity = round_dp is not None
    out_schema = (
        f"{query_id} {dict(queries.dtypes)[query_id]}, "
        f"{corpus_id} {dict(corpus.dtypes)[corpus_id]}, "
        f"{score_col} {'double' if similarity else 'long'}"
    )
    # Bounded collect: peek the dimension (limit-1 job), cap the row
    # fetch at budget//dim + 1 so the over-budget case collects ONE row
    # past the cap — never the whole query set — before raising.  Every
    # collected row carries ~dim cells, so a silently limit-clipped
    # query set always trips the budget.
    valid = queries.select(query_id, query_vec).where(F.col(query_vec).isNotNull())
    dim_row = valid.select(F.size(query_vec).alias("__d")).first()
    dim = int(dim_row["__d"]) if dim_row is not None else 0
    row_cap = max_query_cells // max(dim, 1) + 1
    q_rows = valid.limit(row_cap + 1).collect()
    if sum(len(r[1]) for r in q_rows) > max_query_cells:
        raise ValueError(
            f"query matrix exceeds the driver-side budget ({max_query_cells} "
            f"float64 cells; dim={dim}, >{row_cap} rows). Map-side top-k "
            f"kernels collect the query side and are only for |Q|-bounded "
            f"query sets. For corpus-as-queries graph builds use knn_graph "
            f"(blocked query side) or knn_graph_lsh (banded self-join, no "
            f"collect)."
        )
    if not q_rows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    q_ids = np.array([r[0] for r in q_rows])
    score = make_scorer(
        np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    )

    def kernel(batches) -> "pd.DataFrame":
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf[corpus_id].to_numpy()
            s = score(
                np.array([np.asarray(v, dtype=np.float64) for v in pdf[corpus_vec]])
            )
            # Candidate selection MUST honor the final ranking contract:
            # selecting on unrounded sims can drop the smaller-id member
            # of a rounded tie that the window would rank.  np.round is
            # half-even vs Spark's HALF_UP — they differ only on exact
            # .5-ulp boundaries, measure-zero for 64-dim double cosines.
            key = -np.round(s, round_dp) if similarity else s
            key = np.where(np.isnan(key), np.inf, key)
            id_rank = np.argsort(np.argsort(c_ids))  # ordinal id rank (any id type)
            id_keys = np.broadcast_to(id_rank, key.shape)
            top = np.lexsort((id_keys, key), axis=1)[:, :shortlist]
            qi = np.repeat(np.arange(len(q_ids)), top.shape[1])
            ci = top.ravel()
            vals = s[qi, ci]
            ok = ~np.isnan(vals)
            yield pd.DataFrame(
                {
                    query_id: q_ids[qi[ok]],
                    corpus_id: c_ids[ci[ok]],
                    score_col: vals[ok] if similarity else vals[ok].astype(np.int64),
                }
            )

    # NOT spread (round-12 A/B, guide §4.1): the kernel's per-row cost is
    # a vectorized matmul slice — tiny — so splitting the 1-2 partition
    # local scan into 32 Python tasks pays 32x the worker/Arrow per-task
    # overhead for negligible CPU gain (s30 interleaved A/B: 3.46s
    # no-spread vs 4.19s spread best-of-4; every round no-spread won).
    # On real multi-split tables the input is already wide.
    src = corpus.select(corpus_id, corpus_vec).where(F.col(corpus_vec).isNotNull())
    cand = src.mapInPandas(kernel, out_schema)
    if similarity:
        cand = cand.select(
            query_id, corpus_id, F.round(score_col, round_dp).alias(score_col)
        )
    return cand


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_dp: int = 4,
    max_query_cells: int = _MAX_QUERY_CELLS,
) -> DataFrame:
    """Exact cosine top-k via the Arrow map-side kernel: one float64
    matmul scores each corpus batch against ALL queries.  Same result as
    ``brute_force_topk`` (pytest pins equality); at 100 TB the shuffle
    shrinks by ~N/(batches*k), the difference between a terabyte-scale
    and a megabyte-scale exchange.  ``max_query_cells`` overrides the
    driver-side query budget for a query set that is genuinely this
    large."""

    def make_scorer(q_mat: np.ndarray):
        q_norm = _np_norms(q_mat)
        return lambda c_mat: _np_cosine(q_mat @ c_mat.T, q_norm, _np_norms(c_mat))

    cand = _map_side_candidates(
        queries, corpus, make_scorer, query_id, corpus_id, query_vec,
        corpus_vec, k, round_dp, max_query_cells=max_query_cells,
    )
    return _rank_topk(cand, query_id, "cos_sim", corpus_id, k)


# --- random-hyperplane LSH ---------------------------------------------------


def _hyperplane(dim: int, plane: int, seed: str = "rp") -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component d =
    md5(seed:plane:d) first 8 hex chars mapped linearly to [-1, 1)."""
    import hashlib

    comps = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}:{plane}:{d}".encode()).hexdigest()[:8]
        comps.append(int(h, 16) / float(1 << 31) - 1.0)
    return comps


def rp_signature(vec: Column, dim: int, bits: int = 16, seed: str = "rp") -> Column:
    """b-bit random-hyperplane signature as a long (bit i = sign of
    dot(vec, plane_i)). Hyperplane constants are baked into the plan as
    literal arrays — no joins, no state, pure codegen.

    NB: Catalyst higher-order functions pay per-element interpretation
    overhead, so ``bits`` dot products per row is the slow path for big
    corpora — ``rp_signature_pandas`` does the same math as one numpy
    matmul per Arrow batch and is the default in the LSH operators."""
    v = _as_double(vec)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        plane = F.array(*[F.lit(c) for c in _hyperplane(dim, i, seed)])
        d = dot(v, plane)
        sig = sig + F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def rp_signature_pandas(dim: int, bits: int = 16, seed: str = "rp"):
    """Arrow-vectorized signature: one (batch x dim) @ (dim x bits) matmul
    per Arrow batch. Identical bit definition to ``rp_signature`` (sign of
    the same deterministic hyperplane dots) — sign decisions are fp-stable
    across formulations except measure-zero exact-zero dots."""
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [_hyperplane(dim, i, seed) for i in range(bits)], dtype=np.float64
    ).T  # (dim, bits)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if m.size == 0:
            return pd.Series([], dtype="int64")
        bits_m = (m @ planes) >= 0  # (batch, bits)
        return pd.Series((bits_m * weights).sum(axis=1).astype("int64"))

    return sig


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bits: int,
    bands: int,
) -> DataFrame:
    """(__id, __v, __n, band, band_val) rows -- the ``_side``
    projection plus one posexplode pass over the Arrow-computed
    hyperplane signature.  One posexplode, not a per-band union, which
    would re-run the signature UDF once per band (no exchange reuse
    across branches).  Not spread: the signature UDF is one matmul per
    Arrow batch -- the round-12 A/B read no-spread faster (2.31s vs
    2.45s best)."""
    band_bits = bits // bands
    sig_udf = rp_signature_pandas(dim, bits)
    base = _side(df, id_col, vec_col, "__", sig_udf(F.col(vec_col)).alias("__sig"))
    band_vals = [
        F.shiftright("__sig", b * band_bits).bitwiseAND(F.lit((1 << band_bits) - 1))
        for b in range(bands)
    ]
    return base.select(
        "__id",
        "__v",
        "__n",
        F.posexplode(F.array(*band_vals)).alias("band", "band_val"),
    )


def _renamed(df: DataFrame, prefix: str, id_as: str | None = None) -> DataFrame:
    """``_side``'s ``__id/__v/__n`` columns under another prefix."""
    return df.withColumnsRenamed(
        {"__id": id_as or f"{prefix}id", "__v": f"{prefix}v", "__n": f"{prefix}n"}
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 16,
    bands: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates = signature-band collisions, then
    exact cosine re-rank of candidates only.

    vs brute force: the crossJoin disappears; the join key is
    (band, band_bits). Recall tuned by bits/bands (more bands = more
    candidates = higher recall); tests pin recall >= 0.5 at 16/4 on the
    synthetic corpus. Signatures via the Arrow matmul UDF (one kernel per
    batch)."""
    qb = _renamed(
        _banded_signatures(queries, query_id, query_vec, dim, bits, bands), "__q"
    )
    cb = _renamed(
        _banded_signatures(corpus, corpus_id, corpus_vec, dim, bits, bands), "__c"
    )
    cand = (
        F.broadcast(qb)
        .join(cb, ["band", "band_val"])
        .select("__qid", "__qv", "__qn", "__cid", "__cv", "__cn")
        .dropDuplicates(["__qid", "__cid"])
    )
    scored = cand.select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        _cosine_col(round_dp),
    )
    return _rank_topk(scored, query_id, "cos_sim", corpus_id, k)


def _centroid_kernels(centroids: np.ndarray, nprobe: int):
    """Arrow kernels over a broadcast centroid matrix: per-batch squared-L2
    to every centroid via one matmul; returns (probe_cells, assign_cell)."""
    from pyspark.sql.functions import pandas_udf

    def _d2(m: np.ndarray) -> np.ndarray:
        # (q - c)^2 = q.q - 2 q.c + c.c
        return (
            (m * m).sum(1, keepdims=True)
            - 2 * (m @ centroids.T)
            + (centroids * centroids).sum(1)
        )

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if m.size == 0:
            return pd.Series([], dtype=object)
        nearest = np.argsort(_d2(m), axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in nearest])

    @pandas_udf("int")
    def assign_cell(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if m.size == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(_d2(m).argmin(axis=1).astype("int32"))

    return probe_cells, assign_cell


def _train_centroids(
    corpus: DataFrame, corpus_vec: str, nlist: int, seed: int
) -> np.ndarray:
    """KMeans coarse quantizer (seeded, capped iterations)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(_as_double(F.col(corpus_vec))).alias("features")
    )
    # A coarse quantizer converges in a handful of iterations: the default
    # 20 rounds of distributed Lloyd's dominate the operator's cost, and
    # the k-means|| init adds ~5 more full passes — random init (seeded)
    # is standard for IVF coarse quantizers and halves training wall-clock
    # with no recall change on the gate (pytest recall tests pin it).
    model = KMeans(
        k=nlist, seed=seed, maxIter=5, initMode="random", featuresCol="features"
    ).fit(train)
    return np.array([np.asarray(c) for c in model.clusterCenters()])


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    seed: int = 42,
    round_dp: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second scale path next
    to random-hyperplane LSH.

    Train: KMeans (seeded) partitions the corpus into ``nlist`` cells;
    each corpus vector is assigned its nearest centroid (the inverted
    lists). Search: each query probes its ``nprobe`` nearest centroids and
    re-ranks exactly within those cells only — the scored set shrinks to
    ~nprobe/nlist of the corpus.

    Centroids are a tiny model artifact (nlist x dim floats) broadcast
    into an Arrow kernel for query assignment. This in-line form retrains
    per call — fine as a one-off; for repeated probing or 100 TB use the
    two-stage materialized form (``ivf_build_index`` + ``ivf_probe_topk``)
    whose corpus table is partitioned by cell so probes prune partitions."""
    centroids = _train_centroids(corpus, corpus_vec, nlist, seed)
    probe_cells, assign_cell = _centroid_kernels(centroids, nprobe)
    c = _side(
        corpus, corpus_id, corpus_vec, "__c",
        assign_cell(F.col(corpus_vec)).alias("cell"),
    )
    qrows = _side(
        queries, query_id, query_vec, "__q",
        F.explode(probe_cells(F.col(query_vec))).alias("cell"),
    )
    scored = F.broadcast(qrows).join(c, "cell").select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        _cosine_col(round_dp),
    )
    return _rank_topk(scored, query_id, "cos_sim", corpus_id, k)


def normalized_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Unit-normalize embeddings (the pre-index step that turns cosine
    into dot product). Zero vectors -> null.

    Two-stage on purpose: the norm is aliased in a prior projection and
    only *referenced* inside the division lambda — checked empirically,
    the optimized plan keeps ONE aggregate fold; a single-expression
    form would re-evaluate the norm subtree per element (Catalyst does
    no CSE inside lambda bodies). Rounded output for oracle stability."""
    staged = _side(corpus, id_col, vec_col, "__", id_as=id_col)
    return staged.select(
        id_col,
        F.when(
            F.col("__n") > 0,
            F.transform("__v", lambda x: F.round(x / F.col("__n"), round_dp)),
        ).alias("unit"),
    )


def label_centroids(
    corpus: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Per-label centroid components — the class-prototype computation
    (few-shot prototypes, cluster summaries, drift monitoring). Output is
    one row per (label, dim) with the rounded mean component: the exploded
    form keeps the whole op a single posexplode + one keyed aggregation
    with map-side combine — no array re-assembly, no UDF, and the oracle
    can express it with unnest WITH ORDINALITY."""
    exploded = corpus.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.round(F.avg("v"), round_dp).alias("mean_v"),
        F.count("*").alias("n_vecs"),
    )


# --- integer-exact candidate generation (the deterministic component of
# --- the IVF/PQ indexes, oracle-checkable on its own: VERDICT r6 #8) --------


def quantized_vec(col: Column, quantize: int = 6) -> Column:
    """Vector quantized to integer-valued doubles: floor(x*10^q + 0.5).

    Products and partial sums of these stay integers below 2^53 (|x|~1,
    dim<=64 => |sum| <= 64*10^12), where double addition is EXACT and
    order-independent — the same determinism trick as the covariance
    family's BIGINT moments, kept in doubles so both engines' list/array
    kernels apply directly."""
    scale = float(10**quantize)
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5))
    )


def quantized_sqdist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between two quantized vectors,
    via |a|^2 + |b|^2 - 2ab (three fold dot-products — every term an
    integer < 2^53, so the double arithmetic is exact)."""
    return (dot(a, a) + dot(b, b) - F.lit(2.0) * dot(a, b)).cast("long")


def modular_representatives(
    corpus: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic centroid table (cell, centroid): the lowest-id
    vector of each ``id % nlist`` class.  A data-derived, engine-exact
    stand-in for a trained coarse quantizer — the assignment/probe
    GEOMETRY downstream is identical whichever table is plugged in, so
    this is what lets the candidate-generation stage carry a full DuckDB
    oracle while KMeans centroids stay behind the recall gates.  One
    tiny agg on a derived key + a broadcast-sized join back."""
    reps = corpus.groupBy(
        (F.col(id_col) % nlist).cast("int").alias("cell")
    ).agg(F.min(id_col).alias("__rid"))
    return (
        reps.join(corpus, reps["__rid"] == corpus[id_col])
        .select("cell", _as_double(F.col(vec_col)).alias("centroid"))
    )


def quantized_cell_assignments(
    corpus: DataFrame,
    centroids: DataFrame,
    quantize: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF cell assignment — the deterministic stage of the IVF index
    (what ``ivf_build_index`` computes per corpus vector before writing
    the inverted lists): nearest centroid by EXACT integer squared
    distance, ties to the lowest cell id.  Output (id, cell, d2q).

    Scale shape: centroids broadcast (nlist x dim), the corpus is
    scanned once producing nlist skinny candidate rows per vector that
    collapse map-side via min(struct(d2q, cell)) — one keyed exchange
    of pre-combined rows, corpus text/vectors never shuffled."""
    cq = centroids.select(
        F.col("cell"), quantized_vec(F.col("centroid"), quantize).alias("__cq")
    )
    scored = (
        spread(corpus.select(F.col(id_col), F.col(vec_col)), by=id_col)
        .select(
            F.col(id_col), quantized_vec(F.col(vec_col), quantize).alias("__xq")
        )
        .crossJoin(F.broadcast(cq))
        .select(
            id_col,
            "cell",
            quantized_sqdist(F.col("__xq"), F.col("__cq")).alias("d2q"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct("d2q", "cell")).alias("__b")
    )
    return best.select(
        id_col,
        F.col("__b.cell").alias("cell"),
        F.col("__b.d2q").alias("d2q"),
    )


def kmeans_lloyd_det(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    quantize: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means in a DETERMINISTIC, fully value-checkable form —
    the LAST unoracled stage of the ANN program (VERDICT r8 #6): fixed
    ``iters`` update rounds from the modular-representative init, all
    geometry in exact integer arithmetic, all ties total.  Output is the
    final (id, cell, d2q) assignment under the post-iteration centroids.

    What makes each piece engine-exact:
    - assignment: the s2e kernel — integer squared distance over
      quantized vectors, ties to the lowest cell id;
    - centroid update: per-(cell, component) INTEGER sums and counts,
      new component = round-half-away-from-zero integer ratio
      ``sign(s) * ((2*|s| + n) div (2*n))`` — the h23 ``div``-on-both-
      engines recipe, so Spark and DuckDB produce bit-identical
      centroids;
    - empty cells vanish on both engines identically (standard Lloyd
      drop-empty-cell).

    Scale shape per iteration: centroids broadcast for the assignment
    (nlist x dim); the update shuffles only map-side-combined partial
    (cell, pos) sums — partitions * nlist * dim cells, the linalg Gram
    discipline — never the corpus.  The trained MLlib-style float
    KMeans stays rows-only behind recall gates; this is its
    value-checked geometry twin."""
    xq = spread(corpus.select(F.col(id_col), F.col(vec_col)), by=id_col).select(
        F.col(id_col), quantized_vec(F.col(vec_col), quantize).alias("__xq")
    )
    cents = modular_representatives(
        corpus, nlist=nlist, vec_col=vec_col, id_col=id_col
    ).select(F.col("cell"), quantized_vec(F.col("centroid"), quantize).alias("__cq"))

    def _assign(cq: DataFrame) -> DataFrame:
        scored = xq.crossJoin(F.broadcast(cq)).select(
            id_col,
            "cell",
            quantized_sqdist(F.col("__xq"), F.col("__cq")).alias("d2q"),
        )
        best = scored.groupBy(id_col).agg(
            F.min(F.struct("d2q", "cell")).alias("__b")
        )
        return best.select(
            id_col,
            F.col("__b.cell").alias("cell"),
            F.col("__b.d2q").alias("d2q"),
        )

    for _ in range(iters):
        assign = _assign(cents)
        comp = (
            assign.select(id_col, "cell")
            .join(xq, id_col)
            .select("cell", F.posexplode("__xq").alias("pos", "val"))
        )
        agg = comp.groupBy("cell", "pos").agg(
            F.sum("val").cast("long").alias("s"), F.count("*").alias("n")
        )
        newv = agg.select(
            "cell",
            "pos",
            (
                F.when(F.col("s") < 0, F.lit(-1)).otherwise(F.lit(1))
                * F.expr("(2 * abs(s) + n) div (2 * n)")
            ).cast("long").alias("cv"),
        )
        cents = newv.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda st: st["cv"],
            ).alias("__cq")
        )
    return _assign(cents)


def _quantized_cell_structs(
    vec: Column, cent_rows: list, quantize: int = 6
) -> Column:
    """Per-row array of (d2q, cell) structs against LITERAL centroids —
    the zero-shuffle form of the assignment kernels for use inside a
    scan projection (the centroid table is nlist x dim, collected
    driver-side like ``ivf_probe_topk``'s control-plane load).  Sorting
    or array_min over the struct array gives argmin with the SAME
    (d2q, cell) tie-break as the distributed min(struct) form — pinned
    equal in pytest.

    The whole centroid table is ONE SQL array literal parsed in a single
    ``F.expr`` call and folded with ONE ``transform`` — building it as
    nlist x dim separate ``F.lit`` nodes costs thousands of py4j round
    trips and seconds of Catalyst analysis per query (measured: ~2.8 s
    of driver time at nlist=16, d=64 — more than the query executes)."""
    scale = float(10**quantize)
    parts = []
    for r in sorted(cent_rows, key=lambda r: r["cell"]):
        cq = [float(math.floor(c * scale + 0.5)) for c in r["centroid"]]
        cc = float(sum(v * v for v in cq))
        arr = ",".join(f"{v!r}D" for v in cq)
        parts.append(
            f"named_struct('cell',{int(r['cell'])},"
            f"'cc',{cc!r}D,'cq',array({arr}))"
        )
    cent_lit = F.expr("array(" + ",".join(parts) + ")")
    xq = F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5))
    )
    xx = dot(xq, xq)
    return F.transform(
        cent_lit,
        lambda c: F.struct(
            (xx + c["cc"] - F.lit(2.0) * dot(xq, c["cq"]))
            .cast("long")
            .alias("d2q"),
            c["cell"].alias("cell"),
        ),
    )


def _quantize(mat: np.ndarray, quantize: int) -> np.ndarray:
    """numpy ``quantized_vec``: floor(x*10^q + 0.5) as exact int64."""
    return np.floor(mat * float(10**quantize) + 0.5).astype(np.int64)


def _modular_centroids(
    corpus: DataFrame, nlist: int, quantize: int, vec_col: str, id_col: str
) -> np.ndarray:
    """The ``modular_representatives`` table collected (control plane:
    nlist x dim) and quantized; row i is the i-th lowest cell id."""
    rows = modular_representatives(
        corpus, nlist=nlist, vec_col=vec_col, id_col=id_col
    ).collect()
    return _quantize(
        np.array(
            [
                np.asarray(r["centroid"], dtype=np.float64)
                for r in sorted(rows, key=lambda r: r["cell"])
            ]
        ),
        quantize,
    )


def _sq_dists(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Exact int64 squared L2 distances (rows of x) x (rows of cents);
    ``argmin(axis=1)`` takes the first occurrence = the lowest cell,
    bit-identical to the SQL (d2q, cell) tie-break."""
    return (
        (x * x).sum(axis=1, keepdims=True)
        + (cents * cents).sum(axis=1)
        - 2 * (x @ cents.T)
    )


def _probe_mask(qq: np.ndarray, cents: np.ndarray, nprobe: int) -> np.ndarray:
    """(|Q|, cells) mask of each query's ``nprobe`` nearest cells, ties
    to the lowest cell (stable argsort over (d2, cell))."""
    idx = np.argsort(_sq_dists(qq, cents), axis=1, kind="stable")[:, :nprobe]
    mask = np.zeros((len(qq), len(cents)), dtype=bool)
    np.put_along_axis(mask, idx, True, axis=1)
    return mask


def _pq_dists(xs: np.ndarray, cb: np.ndarray, cb_sq: np.ndarray) -> np.ndarray:
    """(..., m, dsub) int64 slices x (m, ksub, dsub) codebook ->
    (..., m, ksub) exact squared distances to every codeword.  Integer
    headroom: < 2^44 per slice distance, < 2^47 per m-term ADC sum."""
    return (
        (xs * xs).sum(axis=-1)[..., None]
        + cb_sq
        - 2 * np.einsum("...jd,jcd->...jc", xs, cb)
    )


def ivf_deterministic_topk(
    queries: DataFrame,
    corpus: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    quantize: int = 6,
    round_dp: int = 4,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """END-TO-END deterministic IVF search — the complete s2b/s2c search
    path with every stage engine-exact, hence a FULL DuckDB oracle (not
    just candidate generation, the whole ANN query is value-checked).

    Coarse quantizer = the modular-representative centroid table (the
    trained-KMeans variants swap the table, reuse the geometry).  In the
    map-side kernel (``_map_side_candidates``) each corpus batch gets
    its cells by an int64 numpy argmin (integer distances, lowest-cell
    ties — bit-identical to ``quantized_cell_assignments``) and the
    per-query probe masks non-probed cells out of one scoring matmul.
    The per-pair cost is a matmul lane, ~nprobe/nlist of the
    pairs are candidates, and the one exchange is batches*|Q|*k rows.

    ``candidate_filter`` (a predicate over corpus columns) enables
    FILTERED vector search with INDEX IDENTITY preserved: centroids come
    from the full corpus and each row's cell depends only on its own
    vector and the centroids, so dropping rows before the kernel cannot
    shift anyone's cell — the post-filter semantics production systems
    want, as opposed to rebuilding a per-filter index."""
    cents = _modular_centroids(corpus, nlist, quantize, corpus_vec, corpus_id)

    def make_scorer(q_mat: np.ndarray):
        q_norm = _np_norms(q_mat)
        probe = _probe_mask(_quantize(q_mat, quantize), cents, nprobe)

        def score(c_mat: np.ndarray) -> np.ndarray:
            cells = _sq_dists(_quantize(c_mat, quantize), cents).argmin(axis=1)
            cos = _np_cosine(q_mat @ c_mat.T, q_norm, _np_norms(c_mat))
            return np.where(probe[:, cells], cos, np.nan)

        return score

    if candidate_filter is not None:
        corpus = corpus.where(candidate_filter)  # after the centroids
    cand = _map_side_candidates(
        queries, corpus, make_scorer, query_id, corpus_id, query_vec,
        corpus_vec, k, round_dp,
    )
    return _rank_topk(cand, query_id, "cos_sim", corpus_id, k)


def quantized_probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 4,
    quantize: int = 6,
    vec_col: str = "embedding",
    id_col: str = "query_id",
) -> DataFrame:
    """Per-query probe set — the partition-pruning decision an IVF index
    makes before any ranking (``ivf_probe_topk``'s first stage): the
    ``nprobe`` nearest cells by exact integer distance, rank ties to the
    lowest cell id.  Output (id, probe_rank, cell, d2q).  Queries are
    small by construction, so the queries x nlist candidate table and
    its per-query window are trivial at any corpus scale."""
    cq = centroids.select(
        F.col("cell"), quantized_vec(F.col("centroid"), quantize).alias("__cq")
    )
    scored = (
        queries.select(
            F.col(id_col), quantized_vec(F.col(vec_col), quantize).alias("__xq")
        )
        .crossJoin(F.broadcast(cq))
        .select(
            id_col,
            "cell",
            quantized_sqdist(F.col("__xq"), F.col("__cq")).alias("d2q"),
        )
    )
    return _rank_topk(
        scored, id_col, "d2q", "cell", nprobe, ascending=True, rank_col="probe_rank"
    ).select(id_col, "probe_rank", "cell", "d2q")


def quantized_pq_slice_scores(
    df: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    quantize: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact integer squared distance of every (vector slice, codeword)
    pair: each vector fans out to its m dim/m-wide slices, the codebook
    broadcasts (m x ksub rows), output (id, subspace, code, d2q).  The
    shared scoring stage of PQ: argmin over it per (id, subspace) is
    code ASSIGNMENT (``quantized_pq_codes``); computed for a query set
    it is the per-query ADC lookup table that
    ``pq_adc_deterministic_topk`` builds in numpy."""
    assert dim % m == 0
    dsub = dim // m
    cb = codebook.select(
        "subspace",
        "code",
        quantized_vec(F.col("codeword"), quantize).alias("__cw"),
    )
    slices = spread(df.select(F.col(id_col), F.col(vec_col)), by=id_col).select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("subspace"),
                        quantized_vec(
                            F.slice(_as_double(F.col(vec_col)), j * dsub + 1, dsub),
                            quantize,
                        ).alias("__sq"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("__s"),
    ).select(id_col, F.col("__s.subspace").alias("subspace"), F.col("__s.__sq").alias("__sq"))
    return slices.join(F.broadcast(cb), "subspace").select(
        id_col,
        "subspace",
        "code",
        quantized_sqdist(F.col("__sq"), F.col("__cw")).alias("d2q"),
    )


def quantized_pq_codes(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    quantize: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization code assignment — the deterministic stage of
    an IVFPQ index (what ``pq_encode_udf`` computes, argmin per
    subspace) against an EXPLICIT codebook table (subspace, code,
    codeword).  Exact integer distances on each dim/m-wide slice, ties
    to the lowest code id.  Output (id, subspace, code, d2q) — m rows
    per vector, the m-byte code table the index stores.

    Scale shape: the codebook broadcasts (m x ksub rows); each corpus
    vector fans out to m slice rows and ksub candidates per slice that
    collapse map-side via min(struct) — one keyed exchange on
    (id, subspace), vectors never shuffled."""
    scored = quantized_pq_slice_scores(
        corpus, codebook, m, dim, quantize, vec_col, id_col
    )
    best = scored.groupBy(id_col, "subspace").agg(
        F.min(F.struct("d2q", "code")).alias("__b")
    )
    return best.select(
        id_col,
        "subspace",
        F.col("__b.code").alias("code"),
        F.col("__b.d2q").alias("d2q"),
    )


def pq_adc_deterministic_topk(
    queries: DataFrame,
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    quantize: int = 6,
) -> DataFrame:
    """END-TO-END deterministic PQ search with asymmetric distance
    computation — the s2g upgrade applied to the PQ family: the whole
    search path of the rows-only trained ``pq_topk`` (encode corpus to
    m-byte codes, build per-query distance lookup tables, rank by the
    summed table lookups) run against the deterministic modular
    codebook in exact integer arithmetic, hence a FULL DuckDB oracle.
    Output (query_id, vec_id, adc_d2q, rnk) — rnk by ascending ADC
    distance (the lowest-id tie-break makes it total even when two
    vectors share all m codes, which IS the tie case PQ creates by
    construction).

    The production PQ serving loop in the map-side kernel
    (``_map_side_candidates``): each corpus batch is encoded with one int64
    einsum (first-occurrence argmin = lowest code, bit-identical to
    ``quantized_pq_codes``), then ADC for ALL queries is m table
    GATHERS (``LUT[:, j, codes[:, j]]``).  The two collects are the
    codebook (m x ksub x dim/m) and the query matrix, both bounded.  A
    JVM-side pivot of the same idea (map ``element_at`` fold) was tried
    and REJECTED: Spark map lookups are linear scans.  The trained-Lloyd
    variant (``pq_topk``) swaps the codebook and keeps the recall
    gates; this query value-checks the ADC machinery itself."""
    dsub = dim // m
    cb = np.zeros((m, ksub, dsub), dtype=np.int64)
    for r in modular_pq_codebook(
        corpus, m=m, ksub=ksub, dim=dim, vec_col=corpus_vec, id_col=corpus_id
    ).collect():
        cb[int(r["subspace"]), int(r["code"])] = _quantize(
            np.asarray(r["codeword"], dtype=np.float64), quantize
        )
    cb_sq = (cb * cb).sum(axis=2)  # (m, ksub)

    def make_scorer(q_mat: np.ndarray):
        # LUT[qi, j, c] = exact |q_j - codeword_jc|^2 per subspace slice
        lut = _pq_dists(
            _quantize(q_mat, quantize).reshape(len(q_mat), m, dsub), cb, cb_sq
        )

        def score(c_mat: np.ndarray) -> np.ndarray:
            xs = _quantize(c_mat, quantize).reshape(len(c_mat), m, dsub)
            codes = _pq_dists(xs, cb, cb_sq).argmin(axis=2)  # (B, m)
            return sum(lut[:, j, codes[:, j]] for j in range(m)).astype(np.float64)

        return score

    cand = _map_side_candidates(
        queries, corpus, make_scorer, query_id, corpus_id, query_vec,
        corpus_vec, k, score_col="adc_d2q",
    )
    return _rank_topk(cand, query_id, "adc_d2q", corpus_id, k, ascending=True)


def ivfpq_deterministic_topk(
    queries: DataFrame,
    corpus: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    quantize: int = 6,
) -> DataFrame:
    """END-TO-END deterministic IVFPQ search — the value-check twin of
    the rows-only trained ``s2d_ivfpq_materialized`` path, closing the
    family: coarse quantizer (s2g), fine quantizer (s8c), and their
    COMPOSITION — residual encoding + per-probed-cell ADC — all in
    exact integer arithmetic under one DuckDB oracle.

    Stages, every one engine-exact: (1) corpus cells by quantized
    argmin against the modular representatives; (2) RESIDUALS r = xq -
    cq in quantized integer space; (3) residual PQ codebook = per-
    subspace slices of the lowest-id vector's residual per ``id % ksub``
    class (the modular trick applied to residuals, which is what IVFPQ
    trains on); (4) corpus codes = per-subspace argmin over that
    codebook, ties to the lowest code; (5) queries probe their nprobe
    nearest cells, with one residual LUT per (query, cell); (6) ADC =
    m gathers of those LUTs, non-probed (query, vector) pairs masked
    out, ranked ascending.

    Stages 1, 2 and 4 run per corpus batch inside the map-side kernel
    (``_map_side_candidates``).  Driver-side model artifacts are
    bounded: centroids (nlist x dim), the rep residual codebook
    (m x ksub x dim/m), and the |Q| x nlist x m x ksub int64 LUTs —
    computing every cell in ONE einsum and masking beats a |Q| x nprobe
    loop of small einsums (the measured sf1 bottleneck of the first
    version).  The trained variant swaps KMeans centroids + Lloyd's
    codebooks into the same geometry and keeps the recall gates."""
    assert dim % m == 0
    dsub = dim // m
    cents = _modular_centroids(corpus, nlist, quantize, corpus_vec, corpus_id)
    # Residual codebook from the ksub rep vectors (lowest id per
    # id % ksub class, ordered by code), residuals under the SAME
    # assignment as the corpus rows.
    reps = _modular_centroids(corpus, ksub, quantize, corpus_vec, corpus_id)
    rep_resid = reps - cents[_sq_dists(reps, cents).argmin(axis=1)]
    rcb = rep_resid.reshape(ksub, m, dsub).transpose(1, 0, 2)  # (m, ksub, dsub)
    rcb_sq = (rcb * rcb).sum(axis=2)  # (m, ksub)

    def make_scorer(q_mat: np.ndarray):
        qq = _quantize(q_mat, quantize)
        probe = _probe_mask(qq, cents, nprobe)
        # luta[qi, c, j, code]: query qi's residual to cell c, per slice
        qr = (qq[:, None, :] - cents[None, :, :]).reshape(len(qq), len(cents), m, dsub)
        luta = _pq_dists(qr, rcb, rcb_sq)

        def score(c_mat: np.ndarray) -> np.ndarray:
            xq = _quantize(c_mat, quantize)
            cells = _sq_dists(xq, cents).argmin(axis=1)
            resid = (xq - cents[cells]).reshape(len(xq), m, dsub)
            codes = _pq_dists(resid, rcb, rcb_sq).argmin(axis=2)  # (B, m)
            adc = sum(luta[:, cells, j, codes[:, j]] for j in range(m))
            return np.where(probe[:, cells], adc, np.nan)

        return score

    cand = _map_side_candidates(
        queries, corpus, make_scorer, query_id, corpus_id, query_vec,
        corpus_vec, k, score_col="adc_d2q",
    )
    return _rank_topk(cand, query_id, "adc_d2q", corpus_id, k, ascending=True)


def modular_pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic PQ codebook (subspace, code, codeword): codeword
    ``c`` of subspace ``j`` is the j-th slice of the lowest-id vector of
    the ``id % ksub == c`` class — the same modular-representative trick
    as the coarse-quantizer table, applied per subspace."""
    assert dim % m == 0
    dsub = dim // m
    reps = modular_representatives(
        corpus, nlist=ksub, vec_col=vec_col, id_col=id_col
    ).withColumnRenamed("cell", "code")
    return reps.select(
        "code",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("subspace"),
                        F.slice(F.col("centroid"), j * dsub + 1, dsub).alias(
                            "codeword"
                        ),
                    )
                    for j in range(m)
                ]
            )
        ).alias("__s"),
    ).select(
        F.col("__s.subspace").alias("subspace"),
        "code",
        F.col("__s.codeword").alias("codeword"),
    )


# --- materialized IVF index: one on-disk layout ------------------------------
#   {index_path}/centroids                          (cell, centroid), one file
#   {index_path}/corpus/cell=<c>                    (vec_id, v, n)
#   {index_path}/corpus_delta/batch=<b>/cell=<c>    (vec_id, v, n)


def _write_inverted_lists(
    df: DataFrame, corpus_id: str, corpus_vec: str, cell: Column, path: str
) -> None:
    """(vec_id, v, n) rows partitioned by ``cell`` -- the inverted lists
    as physical partitions, so a probe is partition pruning, not a scan.
    Overwrite makes a replayed batch write exactly-once."""
    (
        _side(df, corpus_id, corpus_vec, "", cell.alias("cell"), id_as="vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def _write_centroids(spark, index_path: str, cells) -> None:
    """The coarse-quantizer table from (cell, centroid) pairs."""
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cells],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")


def _read_centroids(spark, index_path: str) -> list:
    """The frozen coarse quantizer's rows, sorted by cell (control plane:
    nlist x dim)."""
    rows = spark.read.parquet(f"{index_path}/centroids").collect()
    return sorted(rows, key=lambda r: r["cell"])


def _centroid_matrix(spark, index_path: str) -> np.ndarray:
    return np.array([r["centroid"] for r in _read_centroids(spark, index_path)])


def ivf_build_index(
    corpus: DataFrame,
    index_path: str,
    nlist: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 42,
) -> None:
    """Stage 1 of the materialized IVF form: train the coarse quantizer,
    assign every corpus vector its nearest centroid, and write

    - ``{index_path}/corpus``    parquet **partitioned by cell** — the
      inverted lists as physical partitions, so probing is partition
      pruning, not a scan;
    - ``{index_path}/centroids`` tiny parquet (cell, centroid) — the model
      artifact the probe stage loads.

    At 100 TB this is the one-off batch job the in-line ``ivf_topk``
    docstring promises: assignment is a single Arrow-kernel pass over the
    corpus and one partitioned write; no shuffle beyond the write's own
    partitioning."""
    centroids = _train_centroids(corpus, corpus_vec, nlist, seed)
    _, assign_cell = _centroid_kernels(centroids, nprobe=1)
    _write_inverted_lists(
        corpus, corpus_id, corpus_vec, assign_cell(F.col(corpus_vec)),
        f"{index_path}/corpus",
    )
    _write_centroids(corpus.sparkSession, index_path, enumerate(centroids))


def ivf_index_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Incremental IVF maintenance (the prep-index/postings pattern
    applied to the ANN index): assign ONE batch of newly-ingested
    vectors with the index's FROZEN coarse quantizer (standard inverted-
    file practice — the quantizer retrains offline, assignment happens
    online) and land them cell-partitioned under
    ``{index_path}/corpus_delta/batch=<id>/cell=<c>``.

    OVERWRITE of the batch's own directory makes at-least-once
    foreachBatch replays exactly-once, and ``ivf_probe_topk`` reads
    base + delta transparently with the same per-cell partition pruning
    — the nightly 100-TB refresh touches the day's vectors, never the
    historical corpus.  Caller contract: batch ids are disjoint from
    already-indexed ids (the ingest watermark guarantees this upstream,
    same as ``prep.prep_index_append``)."""
    centroids = _centroid_matrix(batch_df.sparkSession, index_path)
    _, assign_cell = _centroid_kernels(centroids, nprobe=1)
    _write_inverted_lists(
        batch_df, corpus_id, corpus_vec, assign_cell(F.col(corpus_vec)),
        f"{index_path}/corpus_delta/batch={int(batch_id)}",
    )


def _recover_ivf_compaction(index_path: str) -> None:
    """Crash recovery for ``ivf_compact_index``'s swap protocol.  Every
    crash point leaves a state this function rolls forward or back to a
    consistent (no lost vectors, no double-counted vectors) layout:

    - stale ``corpus.next`` (died mid-write): drop it — delta intact;
    - no live ``corpus`` but ``corpus.old`` (died between the two swap
      renames): restore the old base — delta intact, compaction reruns;
    - live ``corpus`` AND ``corpus.old`` (died after the swap completed
      but before cleanup — the live base already CONTAINS the compacted
      delta): finish the cleanup, dropping ``.old`` and the consumed
      ``.compacting`` staging dir;
    - lone ``corpus_delta.compacting`` (died before the swap): its rows
      are NOT in the base — rename it back to ``corpus_delta``."""
    import os
    import shutil

    corpus = f"{index_path}/corpus"
    nxt, old = corpus + ".next", corpus + ".old"
    delta = f"{index_path}/corpus_delta"
    staging = delta + ".compacting"
    if os.path.isdir(nxt):
        shutil.rmtree(nxt)
    if not os.path.isdir(corpus) and os.path.isdir(old):
        os.rename(old, corpus)
    if os.path.isdir(corpus) and os.path.isdir(old):
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        shutil.rmtree(old)
    elif os.path.isdir(staging):
        os.rename(staging, delta)


def _read_ivf_corpus(spark, index_path: str, as_of: int | None = None) -> DataFrame:
    """Base inverted lists plus any streamed/appended delta batches —
    one DataFrame, cell stays a partition column in BOTH layouts so a
    probe's ``cell IN (...)`` prunes partitions on each side of the
    union.  Self-healing: an interrupted compaction is rolled to a
    consistent state before the read plans.  Local-FS existence probe
    mirrors the upsert-snapshot sink; an object-store deployment would
    consult the catalog/manifest instead (sources/objectstore.py).

    ``as_of=N`` time-travels: the initial build plus delta batches with
    id <= N — the reproducible-training-run read (pin the batch id a
    run indexed against; its probes replay exactly).  Raises when
    ``ivf_compact_index`` has folded batches beyond N (the marker at
    ``{index_path}/_compacted_through``): compaction trades time-travel
    depth for file counts, and a silent partial answer would
    masquerade as the historical one."""
    import os

    from martech_pipelines_spark.operators.sinks import _read_compaction_marker

    _recover_ivf_compaction(index_path)
    if as_of is not None:
        horizon = _read_compaction_marker(f"{index_path}/_compacted_through")
        if horizon is not None and horizon > int(as_of):
            raise ValueError(
                f"as_of={as_of} is below this IVF index's compaction "
                f"horizon ({horizon}): those delta batches were folded "
                f"into the base. Retain deltas longer if reproducibility "
                f"past this point matters."
            )
    base = spark.read.parquet(f"{index_path}/corpus")
    delta_root = f"{index_path}/corpus_delta"
    if os.path.isdir(delta_root):
        delta = spark.read.parquet(delta_root)
        if as_of is not None:
            delta = delta.where(F.col("batch") <= int(as_of))
        base = base.select("vec_id", "v", "n", "cell").unionByName(
            delta.select("vec_id", "v", "n", "cell")
        )
    return base


def ivf_compact_index(spark, index_path: str) -> None:
    """Fold the streamed/appended ``corpus_delta`` batches back into the
    base inverted lists — the nightly compaction that keeps probe-side
    file counts bounded (each micro-batch lands up-to-nlist small files;
    this job rewrites them into one cell-partitioned base).  No-op when
    no delta exists.

    Offline-maintenance crash safety (the upsert sink's swap protocol,
    partition-aware): the delta is first renamed to a ``.compacting``
    staging dir (atomic), the merged base is written to ``corpus.next``,
    the two swap renames run, then staging and ``.old`` are dropped.
    ``_recover_ivf_compaction`` (invoked by every read) rolls any crash
    point to a consistent layout, so no interleaving loses or
    double-counts a vector.  Run with the ingest stream paused — the
    same contract as any file-layout compaction."""
    import os
    import shutil

    _recover_ivf_compaction(index_path)
    corpus = f"{index_path}/corpus"
    delta = f"{index_path}/corpus_delta"
    staging = delta + ".compacting"
    if not os.path.isdir(delta):
        return
    folded_ids = [
        int(d.split("=", 1)[1])
        for d in os.listdir(delta)
        if d.startswith("batch=")
    ]
    if folded_ids:
        from martech_pipelines_spark.operators.sinks import (
            _write_compaction_marker,
        )

        # Advance the time-travel horizon BEFORE any mutation (ADVICE
        # r8): a crash mid-compaction then errs CONSERVATIVE (as-of
        # reads under the horizon are refused even though recovery
        # restored the deltas), whereas the old write-after-rmtree
        # ordering could leave a compacted corpus with a stale horizon
        # silently serving historical reads that include folded
        # batches.  Markers only advance, so a refused-but-servable
        # read self-heals on the next successful compaction cycle.
        _write_compaction_marker(
            f"{index_path}/_compacted_through", max(folded_ids)
        )
    os.rename(delta, staging)
    merged = (
        spark.read.parquet(corpus)
        .select("vec_id", "v", "n", "cell")
        .unionByName(
            spark.read.parquet(staging).select("vec_id", "v", "n", "cell")
        )
    )
    nxt, old = corpus + ".next", corpus + ".old"
    merged.write.mode("overwrite").partitionBy("cell").parquet(nxt)
    os.rename(corpus, old)
    os.rename(nxt, corpus)
    shutil.rmtree(staging)
    shutil.rmtree(old)


def _probe_ivf_index(
    queries: DataFrame,
    index_path: str,
    cells: Column,
    k: int,
    query_id: str,
    query_vec: str,
    round_dp: int,
    as_of: int | None,
) -> DataFrame:
    """Probe body shared by both IVF index kinds, given ``cells`` (each
    query's probe-cell array).  The distinct probed cells are collected
    driver-side (bounded by nlist -- the watermark-lookup class of
    collect) so the corpus read carries a LITERAL ``cell IN (...)``
    predicate: static partition pruning on both the base and the delta
    side of the union, visible as ``PartitionFilters`` in the scan."""
    qrows = _side(queries, query_id, query_vec, "__q", F.explode(cells).alias("cell"))
    probed = sorted({r["cell"] for r in qrows.select("cell").distinct().collect()})
    c = _read_ivf_corpus(queries.sparkSession, index_path, as_of=as_of).where(
        F.col("cell").isin([int(x) for x in probed])
    )
    scored = F.broadcast(qrows).join(c, "cell").select(
        F.col("__qid").alias(query_id), "vec_id", _cosine_col(round_dp, "__q", "")
    )
    return _rank_topk(scored, query_id, "cos_sim", "vec_id", k)


def ivf_probe_topk(
    queries: DataFrame,
    index_path: str,
    k: int = 5,
    nprobe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    round_dp: int = 4,
    as_of: int | None = None,
) -> DataFrame:
    """Stage 2: probe a prebuilt IVF index with partition pruning (each
    query's ``nprobe`` nearest trained centroids).  Only ~|cells
    probed|/nlist of the corpus is ever read, which is the entire point
    of the inverted-file layout at 100 TB."""
    probe_cells, _ = _centroid_kernels(
        _centroid_matrix(queries.sparkSession, index_path), nprobe
    )
    return _probe_ivf_index(
        queries, index_path, probe_cells(F.col(query_vec)), k,
        query_id, query_vec, round_dp, as_of,
    )


def ivf_det_build_index(
    corpus: DataFrame,
    index_path: str,
    nlist: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    quantize: int = 6,
) -> None:
    """Deterministic twin of ``ivf_build_index`` — same materialized
    layout (cell-partitioned inverted lists + a centroid table), but the
    coarse quantizer is the modular-representative table and assignment
    is the integer-exact argmin (``_quantized_cell_structs`` inline in
    the scan projection, zero shuffles before the partitioned write).
    Because every stage is engine-exact, an index built from a BASE
    snapshot, delta-appended with ``ivf_det_append_batch`` and probed
    with ``ivf_det_probe_topk`` is value-checkable against the inline
    ``ivf_deterministic_topk`` search over base ∪ delta — the full
    DuckDB oracle covers the whole materialized lifecycle, while the
    trained-KMeans build keeps the recall gates."""
    cent_rows = sorted(
        modular_representatives(
            corpus, nlist=nlist, vec_col=corpus_vec, id_col=corpus_id
        ).collect(),  # control-plane: nlist x dim, the frozen quantizer
        key=lambda r: r["cell"],
    )
    cells = _quantized_cell_structs(
        _as_double(F.col(corpus_vec)), cent_rows, quantize
    )
    _write_inverted_lists(
        corpus, corpus_id, corpus_vec, F.array_min(cells)["cell"],
        f"{index_path}/corpus",
    )
    _write_centroids(
        corpus.sparkSession, index_path,
        [(r["cell"], r["centroid"]) for r in cent_rows],
    )


def ivf_det_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    quantize: int = 6,
) -> None:
    """Deterministic twin of ``ivf_index_append_batch``: assign one
    newly-ingested batch with the index's FROZEN quantizer (read back
    from ``{index_path}/centroids``) via the integer-exact inline argmin
    and land it cell-partitioned under ``corpus_delta/batch=<id>``.
    Same idempotent-replay contract (overwrite of the batch's own dir)
    and the same reader (``_read_ivf_corpus``) / compactor
    (``ivf_compact_index``) as the trained form — the layout is
    kernel-agnostic."""
    cells = _quantized_cell_structs(
        _as_double(F.col(corpus_vec)),
        _read_centroids(batch_df.sparkSession, index_path),
        quantize,
    )
    _write_inverted_lists(
        batch_df, corpus_id, corpus_vec, F.array_min(cells)["cell"],
        f"{index_path}/corpus_delta/batch={int(batch_id)}",
    )


def ivf_det_probe_topk(
    queries: DataFrame,
    index_path: str,
    k: int = 5,
    nprobe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    quantize: int = 6,
    round_dp: int = 4,
    as_of: int | None = None,
) -> DataFrame:
    """Deterministic twin of ``ivf_probe_topk``: probe a materialized
    deterministic index (base + any delta batches) with static partition
    pruning.  Probe-set selection is the integer-exact nprobe argmin
    against the frozen centroid table, so the result is bit-equal to
    ``ivf_deterministic_topk`` over the same total corpus — one shared
    oracle value-checks the inline search, the materialized build, the
    frozen-quantizer append, and this probe."""
    qcells = _quantized_cell_structs(
        _as_double(F.col(query_vec)),
        _read_centroids(queries.sparkSession, index_path),
        quantize,
    )
    nearest = F.transform(
        F.slice(F.array_sort(qcells), 1, nprobe), lambda st: st["cell"]
    )
    return _probe_ivf_index(
        queries, index_path, nearest, k, query_id, query_vec, round_dp, as_of
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 16,
    bands: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via signature-band blocking +
    exact-cosine verify (id_a < id_b). The corpus never self-crossJoins."""
    parts = _banded_signatures(corpus, corpus_id, corpus_vec, dim, bits, bands)
    left = _renamed(parts, "__a", id_as="id_a")
    right = _renamed(parts, "__b", id_as="id_b")
    cand = (
        left.join(right, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select("id_a", "id_b", _cosine_col(4, "__a", "__b")).where(
        F.col("cos_sim") >= threshold
    )


# --- SemDeDup: semantic dedup via cluster + in-cluster cosine ----------------


def semdedup(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    cluster_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "rp",
    round_dp: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): bucket
    the corpus into clusters, compare pairs ONLY within a cluster, and
    drop every vector that has an earlier-id in-cluster neighbor with
    cosine >= threshold. Output: (vec_id, cluster, keep).

    The paper clusters with k-means; this operator uses the low
    ``cluster_bits`` bits of the deterministic random-hyperplane signature
    (same md5-derived planes as ``rp_signature``) so the whole pipeline —
    clustering included — is reproducible and oracle-checkable. The drop
    rule ("any lower-id neighbor above threshold") is the one-pass
    deterministic variant of the paper's keep-one-per-group.

    Scale shape: with C = 2**cluster_bits balanced clusters the pairwise
    work is N^2/C, the SemDeDup trade exactly — cluster count grows with
    the corpus (the paper uses 50k clusters for LAION) so in-cluster
    blocks stay bounded; the join shuffles each side once on the cluster
    id and nothing is ever all-pairs across clusters."""
    sig = rp_signature_pandas(dim, bits=cluster_bits, seed=seed)
    base = _side(corpus, id_col, vec_col, "__", sig(F.col(vec_col)).alias("cluster"))
    dropped = (
        _renamed(base, "__a", id_as="id_a")
        .join(_renamed(base, "__b", id_as="id_b"), "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_b"), _cosine_col(round_dp, "__a", "__b"))
        .where(F.col("cos_sim") >= threshold)
        .select(F.col("id_b").alias("__id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return base.join(dropped, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.col("cluster").cast("long").alias("cluster"),
        F.coalesce(F.col("__dropped") == F.lit(False), F.lit(True)).alias("keep"),
    )


# --- SQ8: scalar-quantized (int8) approximate search -------------------------


def sq8_stats(
    corpus: DataFrame, dim: int, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus — the SQ8 codebook. One
    posexplode + tiny groupBy(dim) aggregation; the result is a
    dim-row control table (collected like the IVF centroid table)."""
    rows = (
        corpus.select(F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    mins = [0.0] * dim
    maxs = [0.0] * dim
    for r in rows:
        mins[r["pos"]] = r["mn"]
        maxs[r["pos"]] = r["mx"]
    return mins, maxs


def sq8_dequantized(
    vec: Column, mins: list[float], maxs: list[float]
) -> Column:
    """Quantize each component to an 8-bit code (round((x-mn)*255/(mx-mn)))
    and immediately dequantize (mn + code*(mx-mn)/255) — the exact value a
    stored-int8 index would reconstruct at query time. Expressed per-dim
    with literal codebook constants, so the whole thing is codegen'd; in a
    materialized index the code array (4x smaller than float32) is what's
    written, and this expression is the reader."""
    comps = []
    for d in range(len(mins)):
        x = F.element_at(vec, d + 1).cast("double")
        mn, mx = F.lit(mins[d]), F.lit(maxs[d])
        code = F.when(
            F.lit(maxs[d] > mins[d]), F.round((x - mn) * 255.0 / (mx - mn))
        ).otherwise(F.lit(0.0))
        comps.append(mn + code * (mx - mn) / 255.0)
    return F.array(*comps)


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Asymmetric SQ8 search: full-precision queries scored against the
    int8-reconstructed corpus (ADC). Same plan as ``brute_force_topk``
    (broadcast queries, corpus never shuffled, per-query top-k window) —
    the scale win is the 4x-smaller corpus scan when codes are
    materialized; here quantization is inline and deterministic, so the
    entire path has a full DuckDB oracle (unlike trained-codebook PQ).
    Scoring goes through ``brute_force_topk_arrow``, with
    quantize+reconstruct still a JVM-side projection."""
    mins, maxs = sq8_stats(corpus, dim, vec_col=corpus_vec)
    # not spread (round-12 A/B): the dequant projection is cheap per row
    # and the downstream Arrow kernel prefers few big batches — s7 read
    # 2.70s no-spread vs 3.35s spread (interleaved best-of-3)
    dequant = corpus.select(F.col(corpus_id), F.col(corpus_vec)).select(
        F.col(corpus_id),
        sq8_dequantized(F.col(corpus_vec), mins, maxs).alias("__dq"),
    )
    return brute_force_topk_arrow(
        queries,
        dequant,
        k=k,
        query_id=query_id,
        corpus_id=corpus_id,
        query_vec=query_vec,
        corpus_vec="__dq",
    )


# --- PQ: product quantization (ADC) ------------------------------------------


def pq_train_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    corpus_vec: str = "embedding",
    corpus_id: str = "vec_id",
    sample: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Per-subspace codebooks (m, ksub, dim/m) via local Lloyd's on a
    deterministic sample — the FAISS recipe: PQ codebooks train on a
    bounded sample (~100k vectors) regardless of corpus size, so this is
    driver-side control-plane work even at 100 TB, like the IVF centroid
    table. Sample = first ``sample`` vectors by id (deterministic);
    init = seeded permutation of the sample."""
    assert dim % m == 0, "dim must divide into m subspaces"
    rows = (
        corpus.select(corpus_id, corpus_vec)
        .orderBy(corpus_id)
        .limit(sample)
        .collect()
    )
    x = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    return _pq_lloyds(x, m, ksub, iters=iters, seed=seed)


def pq_encode_udf(codebooks: np.ndarray):
    """Arrow encoder: per batch, one distance matmul per subspace ->
    argmin code. Codes are the materialization unit: m bytes per vector
    (vs 4*dim for float32 — 32x smaller at dim=64, m=8)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype=object)
        return pd.Series([row.tolist() for row in _pq_encode(mat, codebooks)])

    return encode


def _pq_encode(mat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(rows, m) int32 codes: per subspace, the nearest codeword by one
    distance matmul (first-occurrence argmin = lowest code)."""
    m, _, dsub = codebooks.shape
    codes = np.empty((len(mat), m), dtype=np.int32)
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        cent = codebooks[j]
        d2 = (
            (sub * sub).sum(1, keepdims=True)
            - 2 * (sub @ cent.T)
            + (cent * cent).sum(1)
        )
        codes[:, j] = d2.argmin(axis=1)
    return codes


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    seed: int = 42,
    round_dp: int = 4,
    refine: int = 4,
) -> DataFrame:
    """PQ asymmetric-distance search with exact refine (the FAISS
    IVFADC+refine recipe): full-precision queries vs m-byte codes. Each
    corpus batch is encoded in the map-side kernel (``_pq_encode``) and
    a per-query lookup table LUT[j][c] = dot(q_subj, centroid_jc) turns
    scoring into m table gathers per corpus vector. Estimated cosine =
    sum_j LUT[j][code_j] / (|q| * |x_hat|), with |x_hat| reconstructed
    from the codes.

    ADC estimates are noisy where true neighbors are near-ties, so the
    map-side kernel (``_map_side_candidates``) emits a refine*k
    shortlist per (query, batch) and ``exact_rerank`` re-scores it with
    EXACT cosines, touching only candidate rows.  ``refine=0`` ranks raw
    ADC scores directly.  Trained codebooks make shortlist
    membership seed-dependent => rows-only driver check + recall gate in
    pytest (the deterministic-quantizer twin with a full oracle is
    ``sq8_topk``)."""
    codebooks = pq_train_codebooks(
        corpus, dim, m=m, ksub=ksub, corpus_vec=corpus_vec,
        corpus_id=corpus_id, seed=seed,
    )
    dsub = codebooks.shape[2]
    # reconstructed-norm contribution per (j, c): |centroid_jc|^2
    cent_sq = (codebooks * codebooks).sum(axis=2)  # (m, ksub)

    def make_scorer(q_mat: np.ndarray):
        q_norm = _np_norms(q_mat)
        # LUT[q, j, c] = dot(q_subj, centroid_jc)
        lut = np.einsum("qjd,jcd->qjc", q_mat.reshape(len(q_mat), m, dsub), codebooks)

        def score(c_mat: np.ndarray) -> np.ndarray:
            codes = _pq_encode(c_mat, codebooks)
            # ADC inner products: m LUT gathers along the code axis
            ip = sum(lut[:, j, codes[:, j]] for j in range(m))
            xhat_norm = np.sqrt(cent_sq[np.arange(m), codes].sum(axis=1))
            return _np_cosine(ip, q_norm, xhat_norm)

        return score

    cand = _map_side_candidates(
        queries, corpus, make_scorer, query_id, corpus_id, query_vec,
        corpus_vec, max(k, refine * k), round_dp,
    )
    if refine:
        return exact_rerank(
            cand, queries, corpus, k, query_id, corpus_id, query_vec,
            corpus_vec, round_dp,
        )
    return _rank_topk(cand, query_id, "cos_sim", corpus_id, k)


# --- IVF-PQ: cell-partitioned index over residual PQ codes -------------------


def _pq_lloyds(x: np.ndarray, m: int, ksub: int, iters: int, seed: int) -> np.ndarray:
    """Local Lloyd's per subspace over a sample matrix — shared by flat PQ
    and IVF-PQ (which trains on cell residuals)."""
    dsub = x.shape[1] // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.permutation(len(sub))[:ksub]].copy()
        for _ in range(iters):
            d2 = (
                (sub * sub).sum(1, keepdims=True)
                - 2 * (sub @ cent.T)
                + (cent * cent).sum(1)
            )
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books[j] = cent
    return books


def ivfpq_build_index(
    corpus: DataFrame,
    index_path: str,
    dim: int,
    nlist: int = 16,
    m: int = 8,
    ksub: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    sample: int = 4096,
    seed: int = 42,
) -> None:
    """The FAISS IVFADC layout on Spark: coarse cells as physical
    partitions, RESIDUAL PQ codes as the payload.

    Build: train the coarse quantizer; PQ-train on a bounded sample of
    cell residuals (x - centroid[cell]) — residual encoding is what makes
    IVFPQ beat flat PQ (residuals are smaller and better clustered than
    raw vectors); encode every vector to m codes; write
    ``{index_path}/codes`` parquet PARTITIONED BY cell (m ints per vector
    — the only thing a probe scans) plus the tiny centroid and codebook
    tables. One Arrow-kernel pass over the corpus, no shuffle beyond the
    partitioned write."""
    spark = corpus.sparkSession
    centroids = _train_centroids(corpus, corpus_vec, nlist, seed)
    _, assign_cell = _centroid_kernels(centroids, nprobe=1)

    srows = (
        corpus.select(corpus_id, corpus_vec)
        .orderBy(corpus_id)
        .limit(sample)
        .collect()
    )
    sx = np.array([np.asarray(r[1], dtype=np.float64) for r in srows])
    d2 = (
        (sx * sx).sum(1, keepdims=True)
        - 2 * (sx @ centroids.T)
        + (centroids * centroids).sum(1)
    )
    resid = sx - centroids[d2.argmin(axis=1)]
    codebooks = _pq_lloyds(resid, m, ksub, iters=10, seed=seed)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def encode_resid(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype=object)
        codes = _pq_encode(mat - centroids[cells.to_numpy()], codebooks)
        return pd.Series([row.tolist() for row in codes])

    (
        corpus.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).alias("__v"),
            assign_cell(F.col(corpus_vec)).alias("cell"),
        )
        .select("vec_id", "cell", encode_resid(F.col("__v"), F.col("cell")).alias("codes"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_path}/codes")
    )
    _write_centroids(spark, index_path, enumerate(centroids))
    spark.createDataFrame(
        [
            (j, c, codebooks[j, c].tolist())
            for j in range(m)
            for c in range(ksub)
        ],
        "subspace int, code int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/codebooks")


def ivfpq_probe_topk(
    queries: DataFrame,
    index_path: str,
    k: int = 5,
    nprobe: int = 4,
    refine_corpus: DataFrame | None = None,
    refine_mult: int = 4,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """IVFADC probe: partition-pruned read of the PQ code table (literal
    ``cell IN (...)`` like ``ivf_probe_topk``), reconstruct
    centroid[cell] + decode(codes) per Arrow batch, one matmul against
    the collected query matrix, map-side shortlist of refine_mult*k per
    (query, batch). With ``refine_corpus`` the shortlist is exactly
    re-scored by ``exact_rerank`` against true vectors fetched by id (the
    FAISS refine stage, which stores full vectors beside the index);
    without it the ADC estimates rank directly. The probe never reads a
    float vector outside the refine point-lookup — the scan cost is m
    bytes/vector over nprobe/nlist of the corpus."""
    spark = queries.sparkSession
    centroids = _centroid_matrix(spark, index_path)
    cb_rows = spark.read.parquet(f"{index_path}/codebooks").collect()
    m = 1 + max(r["subspace"] for r in cb_rows)
    ksub = 1 + max(r["code"] for r in cb_rows)
    dsub = len(cb_rows[0]["vec"])
    codebooks = np.empty((m, ksub, dsub))
    for r in cb_rows:
        codebooks[r["subspace"], r["code"]] = r["vec"]

    probe_cells, _ = _centroid_kernels(centroids, nprobe)
    qcells = queries.select(
        F.explode(probe_cells(F.col(query_vec))).alias("cell")
    )
    probed = sorted({r["cell"] for r in qcells.distinct().collect()})
    # each row's cell rides in front of its codes: one decoded matrix
    codes_df = (
        spark.read.parquet(f"{index_path}/codes")
        .where(F.col("cell").isin([int(x) for x in probed]))
        .select("vec_id", F.concat(F.array("cell"), "codes").alias("__cc"))
    )

    def make_scorer(q_mat: np.ndarray):
        q_norm = _np_norms(q_mat)

        def score(cc: np.ndarray) -> np.ndarray:
            cc = cc.astype(np.int64)
            # reconstruct: centroid + per-subspace codebook gathers
            recon = centroids[cc[:, 0]]
            for j in range(m):
                recon[:, j * dsub : (j + 1) * dsub] += codebooks[j][cc[:, 1 + j]]
            return _np_cosine(q_mat @ recon.T, q_norm, _np_norms(recon))

        return score

    refine = refine_corpus is not None
    cand = _map_side_candidates(
        queries, codes_df, make_scorer, query_id, "vec_id", query_vec, "__cc",
        max(k, refine_mult * k) if refine else k, round_dp,
    )
    if refine:
        return exact_rerank(
            cand, queries,
            refine_corpus.select(F.col(corpus_id).alias("vec_id"), corpus_vec),
            k, query_id, "vec_id", query_vec, corpus_vec, round_dp,
        )
    return _rank_topk(cand, query_id, "cos_sim", "vec_id", k)


def _mine_best_pairs(
    pairs: DataFrame, query_id: str, corpus_id: str, round_dp: int
) -> DataFrame:
    """Shared fold of hard_negative_mining and its IVF twin: from joined
    anchor x candidate ``_side`` rows (self excluded here), pick the best
    positive and best negative per query in ONE keyed aggregation. Both
    picks are max(struct(sim, -id)) — lexicographic struct ordering = sim
    desc then id asc, the module's ranking contract — so map-side
    combine collapses each partition to one row per anchor.
    One definition guarantees the exact and IVF forms cannot drift
    (their equality at nprobe == nlist is pinned in pytest)."""
    scored = (
        pairs.where(F.col("__cid") != F.col("__qid"))
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            (F.col("__clabel") == F.col("__qlabel")).alias("__same"),
            _cosine_col(round_dp),
        )
        .where(F.col("cos_sim").isNotNull())
    )
    cand = F.struct(
        F.col("cos_sim").alias("s"), (-F.col(corpus_id)).alias("nid")
    )
    agg = scored.groupBy(query_id).agg(
        F.max(F.when(F.col("__same"), cand)).alias("__p"),
        F.max(F.when(~F.col("__same"), cand)).alias("__n"),
    )
    return agg.where(
        F.col("__p").isNotNull() & F.col("__n").isNotNull()
    ).select(
        query_id,
        (-F.col("__p.nid")).alias("pos_id"),
        F.col("__p.s").alias("pos_sim"),
        (-F.col("__n.nid")).alias("neg_id"),
        F.col("__n.s").alias("neg_sim"),
    )


def hard_negative_mining(
    anchors: DataFrame,
    corpus: DataFrame,
    label_col: str = "label",
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Contrastive-pair mining for embedding training: per anchor, the
    nearest SAME-label neighbor (positive, self excluded) and the nearest
    DIFFERENT-label neighbor (the hard negative — the mistake the model
    is closest to making). The pair-mining step of every triplet/InfoNCE
    data pipeline.

    Output: (query_id, pos_id, pos_sim, neg_id, neg_sim), one row per
    anchor that has at least one candidate on each side.

    Scale shape: exactly brute_force_topk's NLJ — broadcast(anchors),
    corpus never shuffles — then ONE keyed aggregation: both picks are
    struct-max aggregates max(struct(sim, -candidate_id))
    (lexicographic struct ordering = sim desc, id asc — the module's
    ranking contract), so map-side combine collapses each partition to one row per
    anchor and the only exchange carries |anchors| x partitions tiny
    rows. A window + self-join formulation costs 4 exchanges; this
    costs 1. Swap the NLJ for an IVF probe when the corpus outgrows
    exact search (the aggregation only needs (query, candidate, sim,
    same_label) rows).
    """
    q = _side(
        anchors, query_id, query_vec, "__q", F.col(label_col).alias("__qlabel")
    )
    c = _side(
        corpus, corpus_id, corpus_vec, "__c", F.col(label_col).alias("__clabel")
    )
    return _mine_best_pairs(
        F.broadcast(q).crossJoin(c), query_id, corpus_id, round_dp
    )


def hard_negative_mining_ivf(
    anchors: DataFrame,
    corpus: DataFrame,
    label_col: str = "label",
    nlist: int = 16,
    nprobe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    seed: int = 42,
    round_dp: int = 4,
) -> DataFrame:
    """``hard_negative_mining``'s 100-TB form: candidates come from the
    anchor's ``nprobe`` nearest IVF cells instead of the whole corpus —
    the scored set shrinks to ~nprobe/nlist of N, exactly the s1→s2b
    exact→IVF swap, applied to contrastive mining.

    Same output schema and the same struct-max single-aggregation fold
    as the exact form; approximation only narrows the CANDIDATE set, so
    (a) with nprobe == nlist it is row-for-row EQUAL to the exact
    operator (pinned in pytest), (b) at nprobe < nlist the positive/
    negative picks match the exact ones whenever they fall in probed
    cells (recall gate in pytest). Mined-pair semantics (self excluded,
    labels respected) hold regardless.
    """
    centroids = _train_centroids(corpus, corpus_vec, nlist, seed)
    probe_cells, assign_cell = _centroid_kernels(centroids, nprobe)

    c = _side(
        corpus, corpus_id, corpus_vec, "__c",
        F.col(label_col).alias("__clabel"),
        assign_cell(F.col(corpus_vec)).alias("cell"),
    )
    qrows = _side(
        anchors, query_id, query_vec, "__q",
        F.col(label_col).alias("__qlabel"),
        F.explode(probe_cells(F.col(query_vec))).alias("cell"),
    )
    return _mine_best_pairs(
        F.broadcast(qrows).join(c, "cell"), query_id, corpus_id, round_dp
    )


# --- k-NN graph (round 5b) ---------------------------------------------------


def knn_graph(
    vectors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    block_cells: int = _MAX_QUERY_CELLS,
) -> DataFrame:
    """EXACT k-nearest-neighbor graph: for every vector, its top-k cosine
    neighbors (self excluded). Output (src_id, nbr_id, cos_sim, rnk).

    The graph is every corpus vector run as a brute-force top-(k+1)
    query over the corpus, so it rides the Arrow matmul lane of
    ``brute_force_topk_arrow`` (measured 66.8s -> 2.1s at sf0.1, k=8,
    against the JVM-HOF all-pairs form).  The scale form is
    ``knn_graph_lsh`` below, whose candidates come from a banded
    signature SELF-join (a keyed shuffle, no collect), recall-pinned
    against this one in pytest.

    Corpus-as-queries means the query side is NOT |Q|-bounded, so the
    collect is BLOCKED (VERDICT r8): when the corpus exceeds
    ``block_cells`` float64 cells, the query side is split into
    deterministic hash-mod id blocks, each block rides the kernel
    within budget, and the per-block top-(k+1) results are unioned —
    per-query output is independent of blocking (pinned in pytest).
    Peak driver memory is one block; the corpus is re-scanned once per
    block, which is the honest cost of an EXACT O(N^2) build.

    Self-exclusion: self is requested as one extra slot and then
    filtered.  Under exact-duplicate ties self may rank BELOW a
    lower-id duplicate (both cos 1.0), but it is always within the
    top-(k+1), so dropping it and re-ranking gives the exact (cos DESC,
    id ASC) neighbor order that s10's oracle checks.

    Graph uses: SemDeDup-style connected-component dedup over embedding
    space, label propagation, and kNN-classifier data curation."""
    queries = vectors.select(
        F.col(id_col).alias("__gq"), F.col(vec_col).alias("__gv")
    )
    total_cells = (
        vectors.select(
            F.sum(F.coalesce(F.size(F.col(vec_col)), F.lit(0))).alias("__c")
        ).first()["__c"]
        or 0
    )
    if total_cells <= block_cells:
        topk1 = brute_force_topk_arrow(
            queries,
            vectors,
            k=k + 1,
            query_id="__gq",
            corpus_id=id_col,
            query_vec="__gv",
            corpus_vec=vec_col,
            round_dp=round_dp,
            max_query_cells=block_cells,
        )
    else:
        from functools import reduce

        n_blocks = math.ceil(total_cells / block_cells)
        # hash-mod blocks are uniform regardless of id distribution;
        # 2x slack on the per-block budget absorbs the mod skew.
        parts = [
            brute_force_topk_arrow(
                queries.where(
                    F.pmod(F.xxhash64(F.col("__gq")), F.lit(n_blocks)) == i
                ),
                vectors,
                k=k + 1,
                query_id="__gq",
                corpus_id=id_col,
                query_vec="__gv",
                corpus_vec=vec_col,
                round_dp=round_dp,
                max_query_cells=2 * block_cells,
            )
            for i in range(n_blocks)
        ]
        topk1 = reduce(lambda a, b: a.unionByName(b), parts)
    kept = topk1.where(F.col("__gq") != F.col(id_col)).select(
        F.col("__gq").alias("src_id"),
        F.col(id_col).alias("nbr_id"),
        "cos_sim",
    )
    return _rank_topk(kept, "src_id", "cos_sim", "nbr_id", k)


def knn_graph_lsh(
    vectors: DataFrame,
    dim: int,
    k: int = 3,
    bits: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Approximate k-NN graph at scale: candidate pairs from a banded
    random-hyperplane signature SELF-join, exact cosine re-rank of
    candidates only. Output (src_id, nbr_id, cos_sim, rnk) like
    ``knn_graph``.

    Scale shape: unlike ``lsh_topk`` (which broadcasts a small query
    set), BOTH sides here are the corpus — so the band join is a plain
    keyed shuffle on (band, band_val): each side shuffles once, band
    buckets are 2^(bits/bands)-way partitioned, and no corpus-sized
    broadcast exists anywhere. Work is sum of squared bucket sizes per
    band — the banded analogue of a blocked self-join; skewed buckets
    fall out of AQE skew-join splitting. Signature computation is one
    Arrow matmul per batch, computed ONCE (single posexplode pass).

    Deterministic (md5-derived hyperplanes) => full SQL oracle; recall
    vs the exact graph is gated in pytest.

    Shuffle discipline: the band self-join and the pair dedup move ONLY
    (band, band_val, id) / (qid, cid) rows — the d-dim vectors are
    re-attached AFTER dedup by two id-keyed joins against the (small
    relative to the pair table) vector side.  Carrying both vectors
    through the candidate join would multiply the dominant shuffle by
    ~2d floats per pair (measured 1.8x wall-clock on the sf0.1 graph)."""
    banded = _banded_signatures(vectors, id_col, vec_col, dim, bits, bands)
    sig = banded.select("band", "band_val", "__id")
    pairs = (
        sig.withColumnRenamed("__id", "__qid")
        .join(sig.withColumnRenamed("__id", "__cid"), ["band", "band_val"])
        .where(F.col("__qid") != F.col("__cid"))
        .select("__qid", "__cid")
        .dropDuplicates()
    )
    vec = _side(vectors, id_col, vec_col, "__")
    cand = pairs.join(_renamed(vec, "__q"), "__qid").join(_renamed(vec, "__c"), "__cid")
    scored = cand.select(
        F.col("__qid").alias("src_id"),
        F.col("__cid").alias("nbr_id"),
        _cosine_col(round_dp),
    )
    return _rank_topk(scored, "src_id", "cos_sim", "nbr_id", k)


# =============================================================================
# Maximum inner-product search (MIPS). Recommendation / retrieval scoring
# ranks by RAW dot product (unnormalized user·item affinity), which is
# NOT a metric — cosine LSH/IVF machinery does not apply directly. The
# public reduction (Bachrach et al. RecSys 2014; Shrivastava & Li NIPS
# 2014 "ALSH") appends one coordinate sqrt(M^2 - |x|^2) to every corpus
# vector (M = max corpus norm) and 0 to every query, after which
# COSINE order against the augmented corpus equals dot-product order —
# so every cosine ANN structure in this module (s2 LSH, s2b/s2c IVF)
# becomes a MIPS index for free. mips_topk is the exact baseline
# (full oracle, s11); the augmentation equivalence is pinned in pytest.
# =============================================================================


def mips_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Exact top-k by inner product: broadcast(queries) x corpus ->
    per-query window on (rounded dot desc, corpus id asc). Same plan
    shape as brute_force_topk — the corpus is never shuffled, only the
    scored candidate rows move — but the score is the raw dot product
    (no norms at all, so the projection is one fused fold per pair).

    Output: (query_id, vec_id, dot_score, rnk), rnk 1..k."""
    q = queries.select(
        F.col(query_id).alias("__qid"),
        _as_double(F.col(query_vec)).alias("__qv"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        _as_double(F.col(corpus_vec)).alias("__cv"),
    )
    scored = F.broadcast(q).crossJoin(c).select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        F.round(dot(F.col("__qv"), F.col("__cv")), round_dp).alias("dot_score"),
    )
    return _rank_topk(scored, query_id, "dot_score", corpus_id, k)


def augment_for_mips(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The MIPS->cosine reduction: corpus rows get the extra coordinate
    sqrt(M^2 - |x|^2) (M = max corpus L2 norm, computed as a 1-row
    broadcast scalar — no collect), queries get 0. Against the augmented
    vectors, cosine ranking == dot-product ranking, because the
    augmented corpus norms are all exactly M and the query norm is a
    per-query constant — neither affects within-query order. Pinned
    against mips_topk in pytest; feed the outputs to ANY cosine ANN
    operator in this module to get approximate MIPS."""
    c = corpus.withColumn("__n2", F.aggregate(
        _as_double(F.col(corpus_vec)), F.lit(0.0), lambda a, v: a + v * v
    ))
    mx = c.agg(F.max("__n2").alias("__m2"))
    c_aug = c.join(F.broadcast(mx)).withColumn(
        corpus_vec,
        F.concat(
            _as_double(F.col(corpus_vec)),
            F.array(F.sqrt(F.col("__m2") - F.col("__n2"))),
        ),
    ).drop("__n2", "__m2")
    q_aug = queries.withColumn(
        query_vec, F.concat(_as_double(F.col(query_vec)), F.array(F.lit(0.0)))
    )
    return c_aug, q_aug


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    n_candidates: int = 10,
    k: int = 5,
    quantize: int = 6,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversification re-rank (Carbonell &
    Goldstein 1998) over a deterministic candidate set — the retrieval-
    diversity stage RAG/dedup pipelines run AFTER top-k search so the k
    results are not k near-copies of each other.

    Fully engine-exact: relevance and pairwise similarity are integer
    inner products of ``quantized_vec`` vectors (exact integer-valued
    doubles), and the lambda=0.5 greedy objective
    ``argmax(rel(c) - max_{s in S} sim(c, s))`` compares integers with a
    total lowest-id tie-break, so the selection order is identical on
    any engine — the DuckDB oracle replays the greedy loop as k chained
    CTE steps and matches bit-for-bit.

    Physical plan: candidate generation is the s1 shape (broadcast query
    set x corpus, window top-n_candidates — swap in the IVF/Arrow
    candidate generators at scale); the re-rank stage joins candidates
    to candidates WITHIN a query (n_candidates^2 rows per query) and
    runs the greedy loop as an ``applyInPandas`` kernel over int64
    numpy — per-group work is O(k * n_candidates^2) on a
    n_candidates^2-row group, so the exchange after candidate
    generation is |Q| * n_candidates^2 tiny rows regardless of corpus
    size.  The iterative argmax genuinely cannot be expressed as a
    fixed DataFrame expression tree (each step's scores depend on the
    previous selection), which is the justified-Arrow-kernel criterion.

    ``candidates`` swaps in ANY candidate generator: a
    (query_id, corpus_id, rel) DataFrame — e.g. the partition-pruned
    IVF probe or the Arrow batch-top-k kernel at 100 TB — and the
    default brute-force stage is skipped; only the re-rank (pair sims +
    greedy kernel) runs.  ``rel`` must be the quantized integer inner
    product for the selection to stay engine-exact.
    """
    qid_type = dict(queries.dtypes)[query_id]
    cid_type = dict(corpus.dtypes)[corpus_id]

    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        quantized_vec(F.col(corpus_vec), quantize).alias("__cv"),
    )
    if candidates is None:
        q = queries.select(
            F.col(query_id).alias("__qid"),
            quantized_vec(F.col(query_vec), quantize).alias("__qv"),
        )
        scored = F.broadcast(q).crossJoin(c).select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            dot(F.col("__qv"), F.col("__cv")).cast("long").alias("rel"),
        )
        cand = _rank_topk(
            scored, query_id, "rel", corpus_id, n_candidates, rank_col="rn"
        ).drop("rn")
    else:
        cand = candidates.select(query_id, corpus_id, "rel")
    # pairwise sims among each query's candidates: k^2 rows per query,
    # vectors re-attached via two broadcast-sized joins to the corpus
    cv = cand.join(c, cand[corpus_id] == c["__cid"]).select(
        F.col(query_id), F.col(corpus_id), F.col("rel"), F.col("__cv")
    )
    a = cv.select(
        F.col(query_id),
        F.col(corpus_id).alias("a"),
        F.col("rel").alias("rel_a"),
        F.col("__cv").alias("__va"),
    )
    b = cv.select(
        F.col(query_id), F.col(corpus_id).alias("b"), F.col("__cv").alias("__vb")
    )
    pairs = (
        a.join(b, query_id)
        .where(F.col("a") != F.col("b"))
        .select(
            query_id,
            "a",
            "rel_a",
            "b",
            dot(F.col("__va"), F.col("__vb")).cast("long").alias("sim"),
        )
    )
    # Presence rows (null b/sim) keep every candidate in its query's
    # group even when the a!=b pair join yields nothing for it — a
    # one-candidate query otherwise VANISHES from the output instead of
    # returning its sole candidate at mmr_rank 1 (ADVICE r8; reachable
    # through the external ``candidates`` extension point).  For
    # multi-candidate queries these rows change nothing: the kernel
    # reads them for (a, rel_a) presence and skips them in the sim fill.
    pairs = pairs.unionByName(
        a.select(
            query_id,
            "a",
            "rel_a",
            F.lit(None).cast(cid_type).alias("b"),
            F.lit(None).cast("long").alias("sim"),
        )
    )

    out_schema = (
        f"{query_id} {qid_type}, {corpus_id} {cid_type}, "
        "mmr_rank long, mmr_score long"
    )

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        qv = pdf[query_id].iloc[0]
        cands = (
            pdf[["a", "rel_a"]].drop_duplicates().sort_values("a")
        )
        ids = cands["a"].to_numpy()
        rel = cands["rel_a"].to_numpy(dtype=np.int64)
        n = len(ids)
        pos = {v: i for i, v in enumerate(ids)}
        sim = np.zeros((n, n), dtype=np.int64)
        real = pdf[pdf["b"].notna()]  # skip the presence rows
        if len(real):
            # nullable b arrives float64/object from Arrow: cast the
            # mapped positions back to int for fancy indexing
            sim[
                real["a"].map(pos).to_numpy(dtype=np.int64),
                real["b"].map(pos).to_numpy(dtype=np.int64),
            ] = real["sim"].to_numpy(dtype=np.int64)
        remaining = np.ones(n, dtype=bool)
        sel: list[int] = []
        out_ids, out_rank, out_score = [], [], []
        for step in range(min(k, n)):
            if sel:
                sc = rel - sim[:, sel].max(axis=1)
            else:
                sc = rel.copy()
            sc_m = np.where(remaining, sc, np.iinfo(np.int64).min)
            pick = int(np.argmax(sc_m))  # first max = lowest id (sorted)
            sel.append(pick)
            remaining[pick] = False
            out_ids.append(ids[pick])
            out_rank.append(step + 1)
            out_score.append(int(sc[pick]))
        return pd.DataFrame(
            {
                query_id: [qv] * len(out_ids),
                corpus_id: out_ids,
                "mmr_rank": out_rank,
                "mmr_score": out_score,
            }
        )

    return pairs.groupBy(query_id).applyInPandas(kernel, out_schema)


# --- cluster-capped diversity sampling ---------------------------------------


def cluster_cap_sample(
    corpus: DataFrame,
    nlist: int = 16,
    cap: int = 20,
    keep: str = "far",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Diversity-capped subset selection: assign every vector to its
    nearest cell (deterministic modular-representative centroids, the
    s2e assignment kernel) and keep at most ``cap`` per cell — the
    cluster-balanced pruning step LLM data pipelines run between
    near-dedup and mixture sampling so no dense region of embedding
    space dominates the training set (the SemDeDup/DCLM-style
    counterpart of per-domain caps like t23).

    ``keep='far'`` ranks candidates farthest-from-centroid first (the
    anti-prototype rule: redundant near-centroid mass is what the cap
    is pruning); ``keep='near'`` keeps prototypes.  Rank ties break on
    id, so the selection is engine-exact given the deterministic
    centroid table — swap in trained KMeans centroids and the identical
    plan serves as the production form behind recall/balance gates.

    Scale shape: centroids broadcast, assignment collapses map-side
    (one keyed exchange of pre-combined rows), then ONE window pass
    partitioned by cell — WindowGroupLimit prunes each partition to the
    cap before the final project, so the post-assignment shuffle
    carries (id, cell, d2q) rows only, never vectors."""
    if keep not in ("far", "near"):
        raise ValueError(f"keep must be 'far' or 'near', got {keep!r}")
    cents = modular_representatives(corpus, nlist, vec_col, id_col)
    assigned = quantized_cell_assignments(corpus, cents, vec_col=vec_col, id_col=id_col)
    return _rank_topk(
        assigned, "cell", "d2q", id_col, cap, ascending=keep == "near", rank_col="rk"
    ).select("cell", id_col, "d2q", "rk")


def ivf_probe_sweep_topk(
    queries: DataFrame,
    corpus: DataFrame,
    nlist: int = 16,
    probes: tuple = (1, 2, 4),
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    quantize: int = 6,
    round_dp: int = 4,
) -> DataFrame:
    """Deterministic IVF search at SEVERAL probe budgets in one pass —
    the parameter-sweep harness behind the recall-vs-nprobe tuning
    curve (s25).  Because sorted probe sets are NESTED (the nprobe=1
    set is a prefix of the nprobe=4 set), the corpus is scored ONCE
    against the max-probe candidate set with each candidate tagged by
    its cell's probe_rank; every smaller budget is then a filter + 
    per-query top-k window over that persisted skinny table.  Result
    rows are IDENTICAL to per-budget ``ivf_deterministic_topk`` calls
    (pinned in tests) at ~1/sum(p_i) of the scoring work.

    Output: (nprobe, query_id, vec_id, cos_sim, rnk)."""
    from martech_pipelines_spark import caching

    max_p = max(probes)
    cent_rows = modular_representatives(
        corpus, nlist=nlist, vec_col=corpus_vec, id_col=corpus_id
    ).collect()  # control-plane: nlist x dim

    cells = _quantized_cell_structs(
        _as_double(F.col(corpus_vec)), cent_rows, quantize
    )
    c = _side(
        corpus, corpus_id, corpus_vec, "__c",
        F.array_min(cells)["cell"].alias("cell"), id_as=corpus_id,
    )
    c = caching.register(c.persist())  # same barrier rationale as s2g

    qcells = _quantized_cell_structs(
        _as_double(F.col(query_vec)), cent_rows, quantize
    )
    qrows = _side(
        queries, query_id, query_vec, "__q",
        F.posexplode(
            F.transform(
                F.slice(F.array_sort(qcells), 1, max_p), lambda s: s["cell"]
            )
        ).alias("__pr0", "cell"),
    )
    scored = F.broadcast(qrows).join(c, "cell").select(
        F.col("__qid").alias(query_id),
        F.col(corpus_id),
        (F.col("__pr0") + 1).alias("probe_rank"),
        _cosine_col(round_dp),
    ).where(F.col("cos_sim").isNotNull())
    # the sweep's whole point: materialize the scored candidates once,
    # serve every budget from the (|Q| x candidates) skinny table
    scored = caching.register(scored.persist())

    parts = []
    for p in probes:
        parts.append(
            _rank_topk(
                scored.where(F.col("probe_rank") <= p),
                query_id, "cos_sim", corpus_id, k,
            ).select(
                F.lit(p).cast("long").alias("nprobe"),
                query_id,
                corpus_id,
                "cos_sim",
                "rnk",
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


def exact_rerank(
    candidates: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Exact-cosine re-rank of a per-query candidate table — stage 2 of
    the retrieve-then-rerank serving pattern (a cheap quantized stage
    proposes n candidates, the exact metric re-scores only those), and
    the refine stage of ``pq_topk`` and ``ivfpq_probe_topk``.  Any
    deterministic retriever composed with this stays fully oracle-able.

    Scale shape: vectors are fetched by TWO keyed joins on the skinny
    candidate table (|Q| x n rows) — the corpus is never scanned for
    scoring, which is the entire point of retrieving first."""
    qv = _side(queries, query_id, query_vec, "__q", id_as=query_id)
    cv = _side(corpus, corpus_id, corpus_vec, "__c", id_as=corpus_id)
    scored = (
        candidates.select(query_id, corpus_id)
        .join(qv, query_id)
        .join(cv, corpus_id)
        .select(query_id, corpus_id, _cosine_col(round_dp))
    )
    return _rank_topk(scored, query_id, "cos_sim", corpus_id, k)


def adc_retrieve_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    n_retrieve: int = 20,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """The standard two-stage production serving pattern, deterministic
    end to end: PQ/ADC retrieves ``n_retrieve`` candidates from the
    code table (cheap — the scan is m-byte codes), exact cosine
    re-ranks only those to the final ``k``.  Both stages carry full
    oracles on the deterministic codebook, so the COMPOSITION does too
    — the refine step the rows-only trained ``s8_pq_topk`` performs,
    value-checked."""
    cand = pq_adc_deterministic_topk(
        queries, corpus, m=m, ksub=ksub, dim=dim, k=n_retrieve,
        query_id=query_id, corpus_id=corpus_id,
    ).select(query_id, corpus_id)
    return exact_rerank(
        cand, queries, corpus, k=k, query_id=query_id, corpus_id=corpus_id
    )


def graph_ann_beam_search(
    queries: DataFrame,
    corpus: DataFrame,
    graph: DataFrame,
    entry_id: int,
    hops: int = 3,
    beam: int = 4,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_dp: int = 4,
    sweep_hops: "list[int] | None" = None,
) -> DataFrame:
    """Graph-based ANN (the NSW/HNSW family's search primitive) in its
    DETERMINISTIC, oracle-able form: fixed-hop beam search over a
    prebuilt neighbor graph.  Every query starts at the same entry
    node; each hop expands the current beam's out-neighbors, scores the
    frontier exactly, and keeps the top-``beam``; the answer is the
    top-``k`` of everything scored.  Fixed hops + total tie-breaks replace HNSW's
    insertion-order-dependent layers and data-dependent stopping rule —
    the build is the deterministic kNN graph (s10; swap in the banded
    LSH graph s10b for the scale build), so the whole search unrolls
    into CTEs and carries a full DuckDB oracle.

    ``sweep_hops`` turns one walk into the tuning curve (the s25
    sweep-kernel pattern): visited sets are nested across hops, so the
    per-hop top-k snapshots come from the SAME single walk — an extra
    ``hops`` column marks each budget; rows match running the search
    independently per hop count (pinned in pytest).

    Scale shape per hop: one keyed join of the (|Q| x beam) beam table
    against the adjacency list + two skinny vector-fetch joins for
    scoring — the corpus is never scanned after the graph is built,
    which is the graph-index trade: walk edges instead of probing
    cells."""
    qv = _side(queries, query_id, query_vec, "__q", id_as=query_id)
    cv = _side(corpus, corpus_id, corpus_vec, "__c", id_as="__node")
    from martech_pipelines_spark import caching

    # The graph IS the index: every hop (and the visited-set union)
    # joins it, and without a barrier Catalyst re-derives the build —
    # O(N^2) scoring — once per reference.  A materialized deployment
    # reads the edge table from storage; inline, the persist is that
    # materialization.  (The larger build win is algorithmic: see
    # knn_graph, 16x the JVM-HOF exact form at sf0.1.)
    edges = caching.register(
        graph.select(
            F.col("src_id").alias("__src"), F.col("nbr_id").alias("__nbr")
        ).persist()
    )

    def score(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(qv, query_id)
            .join(cv, frontier["node"] == cv["__node"])
            .select(query_id, F.col("node"), _cosine_col(round_dp))
            .where(F.col("cos_sim").isNotNull())
        )

    def top(vis: DataFrame, n: int, rank_col: str = "__r") -> DataFrame:
        return _rank_topk(vis, query_id, "cos_sim", "node", n, rank_col=rank_col)

    # The entry node rides in as a 1-row broadcast RELATION, not a
    # literal: F.lit(entry) constant-folds through the first beam
    # selection, degenerating the hop-1 adjacency join (node = __src)
    # into a CartesianProduct (bounded — |Q| x deg(entry) — but the
    # flagged plan shape); an attribute from a LocalRelation keeps every
    # hop a plain equi join (round-9 SHUFFLES audit finding).
    entry_df = corpus.sparkSession.createDataFrame(
        [(int(entry_id),)], "node long"
    )
    beam_df = queries.select(F.col(query_id)).crossJoin(F.broadcast(entry_df))
    visited = score(beam_df)
    beam_df = top(visited, beam).select(query_id, "node")

    def topk(vis: DataFrame) -> DataFrame:
        return top(vis, k, "rnk").select(
            query_id, F.col("node").alias(corpus_id), "cos_sim", "rnk"
        )

    # NOTE (round 12): per-hop localCheckpoint(eager=False) of beam_df +
    # visited was tried to truncate the geometrically growing unrolled
    # plan (s30: 516 Exchange refs) and REJECTED on measurement — the
    # extra materialization barriers cost far more than the planning
    # they saved (s30 interleaved A/B: 12.5s truncated vs 5.5s not,
    # best-of-4).  The big plan is planner work, which AQE + ReuseExchange
    # already keep from becoming executor work.
    per_hop: list[DataFrame] = []
    for h in range(1, hops + 1):
        nbrs = beam_df.join(
            edges, beam_df["node"] == edges["__src"]
        ).select(query_id, F.col("__nbr").alias("node"))
        frontier = beam_df.unionByName(nbrs).distinct()
        scored = score(frontier)
        beam_df = top(scored, beam).select(query_id, "node")
        visited = visited.unionByName(scored).distinct()
        if sweep_hops and h in sweep_hops:
            per_hop.append(
                topk(visited).withColumn("hops", F.lit(h).cast("long"))
            )
    if sweep_hops:
        out = per_hop[0]
        for nxt in per_hop[1:]:
            out = out.unionByName(nxt)
        return out
    return topk(visited)
