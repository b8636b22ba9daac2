"""Round-8b corpus additions (queued for the round-9+ driver windows).

``h21_incremental_sessionize`` — sessionization as INCREMENTALLY
                          MAINTAINABLE state: session summaries are
                          mergeable intervals, so arbitrary (even
                          non-time-ordered) delta batches fold into
                          state without reprocessing history; the
                          oracle is the full recompute, so
                          incremental == full is engine-checked (the
                          h16 IVM discipline applied to the one
                          windowing op people assume needs a full
                          re-sort).
``r38_skyline``         — 2-D Pareto frontier (skyline) via a
                          domain-bounded histogram + running-max scan,
                          checked against the literal NOT EXISTS
                          dominance definition.
``dd17_cluster_cap_sample`` — cluster-balanced diversity cap: nearest
                          deterministic-centroid assignment (the s2e
                          kernel) + top-``cap`` farthest-from-centroid
                          per cell — the embedding-space counterpart of
                          the per-domain cap (t23).
``t49_ngram_novelty``   — per-source novelty of 8-token windows vs a
                          reference corpus: the "does this new crawl
                          add anything" report (complement of dd9's
                          per-doc contamination audit).
``s25_recall_vs_probes`` — recall@5 of the DETERMINISTIC IVF searcher
                          as a function of nprobe (1/2/4) against the
                          exact ranker — the accuracy-vs-cost tuning
                          curve every ANN deployment reads before
                          picking its probe budget; deterministic end
                          to end, so the whole curve carries a full
                          oracle.
``pipe11_dataset_card`` — the per-source dataset-card summary (docs,
                          langs, exact-dup count, chars, tokens, exact
                          length percentiles) in two keyed passes over
                          one scan — the intake report every corpus
                          release ships.
``h22_incremental_skyline`` — the frontier as its own mergeable state
                          (sky(A∪B) == sky(sky(A)∪sky(B))); shares
                          r38's oracle, the IVM proof.
``a12_partitioned_pruned_scan`` — hive partitionBy layout + a
                          partition-PRUNED read value-checked against
                          the unpartitioned original.
``g4_label_propagation`` — sync LPA with a total tie-break for fixed
                          rounds: the deterministic, oracle-able form
                          of community detection (rounds unrolled as
                          CTEs in the oracle).
``t50_char_entropy``    — per-doc character entropy (the gibberish /
                          base64 detector word filters miss).
``pipe12_incremental_dataset_card`` — the card maintained off
                          mergeable (source, lang, fp, length) state;
                          shares pipe11's oracle, the IVM proof.
``s26_ivf_cell_balance`` — inverted-list balance report (fourth leg of
                          the index-quality suite).
``dd18_cluster_size_histogram`` — dup-cluster size distribution over
                          the recursive-CTE-checked CC chain.
``fe5_session_features`` — per-user engagement features read off the
                          session-interval state.
``dq11_benford_deviation`` — Benford first-digit plausibility monitor
                          (exact decimal-string digits, shared literal
                          constants).
``mart21_revenue_gini`` — exact integer Gini per market segment
                          (DECIMAL(38)/HUGEINT intermediates).
``h23_incremental_gini`` — Gini off mergeable customer totals with a
                          RANK-FREE histogram read (tie-group rank-sum
                          identity); shares mart21's oracle.
``dq12_temporal_consistency`` — cross-table event-ordering invariant
                          (ship-before-order), per month.

Reference scope: the reference engine's profile/dedup/search tasks
motivate the family (SURVEY.md §2 north-star extensions); every query
is engine-exact (integer comparisons / half-up BIGINT ratios / the
t17-precedent single-rounded log trees only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from martech_pipelines_spark.operators.transforms import (
    customer_revenue_state,
    gini_readout,
    sum_merge,
)
from martech_pipelines_spark.plans.corpus import ORACLE, QUERIES, q  # noqa: F401
from martech_pipelines_spark.plans.corpus_r7 import _CENT_CTES, _NLIST
from martech_pipelines_spark.plans.corpus_extended import _DUCK_NORM
from martech_pipelines_spark.sources import load_table

_GAP_S = 30 * 60


# ---------------------------------------------------------------------------
# h21: incremental sessionization (mergeable interval state)
# ---------------------------------------------------------------------------

_H21_ORACLE = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > CAST({_GAP_S} AS BIGINT) * 1000000 THEN 1
                    ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    )
    SELECT user_id,
           CAST(sid AS BIGINT) AS session_seq,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sid
"""


@q("h21_incremental_sessionize", _H21_ORACLE)
def h21_incremental_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM proof for sessionization: the event stream split into three
    ARBITRARY batches (event_id % 3 — not time-ordered, so deltas land
    in the middle of existing sessions and must still merge correctly),
    each batch sessionized independently into interval summaries, the
    summaries folded pairwise via gaps-and-islands over intervals
    (operators/windows.py:merge_session_intervals — lossless because
    interval ends are real event times), then numbered at read.  The
    oracle is the FULL recompute, so incremental == full is
    engine-checked.  Each fold costs one keyed exchange over |sessions|
    rows — at 100 TB the nightly delta folds into summary-granularity
    state instead of re-sorting the event history."""
    from martech_pipelines_spark.operators import windows as W

    ev = load_table(spark, sf_dir, "events")
    state = W.session_intervals(ev.where(F.col("event_id") % 3 == 0), _GAP_S)
    for i in (1, 2):
        delta = W.session_intervals(
            ev.where(F.col("event_id") % 3 == i), _GAP_S
        )
        state = W.merge_session_intervals(state, delta, _GAP_S)
    return W.numbered_sessions(state)


# ---------------------------------------------------------------------------
# r38: 2-D skyline (Pareto frontier)
# ---------------------------------------------------------------------------

_R38_ORACLE = """
    WITH p AS (
        SELECT p_partkey,
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
               CAST(p_size AS BIGINT) AS p_size
        FROM part
    )
    SELECT p_partkey, price_c, p_size
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
          AND (b.price_c < a.price_c OR b.p_size > a.p_size)
    )
"""


@q("r38_skyline", _R38_ORACLE)
def r38_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier over parts (minimize price, maximize size) — the
    skyline operator.  The oracle states the textbook NOT EXISTS
    dominance definition (quadratic); the engine plan is the scalable
    form: collapse to a per-cost best-gain histogram (map-side combine,
    |distinct prices| rows), one running-max scan over that tiny
    table, broadcast the surviving frontier back onto the scan — the
    full table is never self-joined or globally sorted.  Duplicate
    (price, size) points tie and all survive, matching the strict
    dominance rule."""
    from martech_pipelines_spark.operators.windows import pareto_frontier_2d

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return pareto_frontier_2d(p, "price_c", "p_size").select(
        "p_partkey", "price_c", "p_size"
    )


# ---------------------------------------------------------------------------
# dd17: cluster-capped diversity sampling
# ---------------------------------------------------------------------------

_DD17_CAP = 8

_DD17_ORACLE = f"""
    WITH {_CENT_CTES}, scored AS (
        SELECT x.vec_id, c.cell,
               CAST(list_dot_product(x.q, x.q) + list_dot_product(c.cq, c.cq)
                    - 2*list_dot_product(x.q, c.cq) AS BIGINT) AS d2q
        FROM xq x CROSS JOIN cents c
    ), assign AS (
        SELECT vec_id, cell, d2q FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY d2q, cell
            ) AS rn FROM scored
        ) WHERE rn = 1
    )
    SELECT cell, vec_id, d2q, rk FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY cell ORDER BY d2q DESC, vec_id
        ) AS BIGINT) AS rk FROM assign
    ) WHERE rk <= {_DD17_CAP}
"""


@q("dd17_cluster_cap_sample", _DD17_ORACLE)
def dd17_cluster_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity cap: every embedding assigned to its
    nearest deterministic centroid (the s2e integer-exact kernel), at
    most {cap} kept per cell ranked farthest-from-centroid first
    (redundant near-centroid mass is what the cap prunes) with id
    tie-breaks — the embedding-space counterpart of t23's per-domain
    cap, run between near-dedup and mixture sampling so no dense region
    dominates the training set.  Centroids broadcast; assignment
    collapses map-side; the one window pass shuffles (id, cell, d2q)
    rows only and WindowGroupLimit prunes to the cap before the final
    project.  Swap in trained KMeans centroids for the production form
    (recall/balance gates); the plan is identical."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cluster_cap_sample(emb, nlist=_NLIST, cap=_DD17_CAP, keep="far")


# ---------------------------------------------------------------------------
# t49: per-source n-gram novelty vs a reference corpus
# ---------------------------------------------------------------------------

_T49_W = 8

_T49_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex({_DUCK_NORM.format(col='text')},
                   '[^a-z0-9'']+'), x -> x <> '') AS t
        FROM documents
    ), win AS (
        SELECT doc_id, source,
               md5(array_to_string(
                   t[CAST(i AS INTEGER):CAST(i + {_T49_W - 1} AS INTEGER)], ' '
               )) AS h
        FROM toks, unnest(range(1, len(t) - {_T49_W - 2})) u(i)
        WHERE len(t) >= {_T49_W}
    ), ref_h AS (
        SELECT DISTINCT h FROM win WHERE doc_id % 2 = 0
    ), cand AS (
        SELECT DISTINCT source, h FROM win WHERE doc_id % 2 = 1
    ), flags AS (
        SELECT c.source,
               CASE WHEN r.h IS NULL THEN 1 ELSE 0 END AS novel
        FROM cand c LEFT JOIN ref_h r USING (h)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(novel) AS BIGINT) AS novel_grams,
           CAST((CAST(sum(novel) AS BIGINT) * 20000 + count(*))
                // (2 * count(*)) AS BIGINT) AS novelty_e4
    FROM flags GROUP BY source
"""


@q("t49_ngram_novelty", _T49_ORACLE)
def t49_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 8-gram novelty: the share of each source's candidate
    slice (doc_id odd) whose distinct token windows never occur in the
    reference slice (doc_id even) — the "does this crawl add anything"
    intake report, dd9's machinery pointed at sources instead of docs.
    Reference hash set broadcast, candidate side one scan collapsed to
    distinct (source, hash) map-side, then a |sources|-row agg; the
    ratio is a half-up BIGINT e4 (t39 recipe), so the whole report is
    engine-exact."""
    from martech_pipelines_spark.operators.text import ngram_novelty_by_source

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty_by_source(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
        w=_T49_W,
    )


# ---------------------------------------------------------------------------
# s25: IVF recall-vs-probes tuning curve (deterministic end to end)
# ---------------------------------------------------------------------------

_S25_PROBES = (1, 2, 4)
_S25_K = 5

_COS_SQL = """round(
                   list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))),
                   4)"""


def _s25_oracle() -> str:
    """One probe/cand/score/select CTE chain per nprobe (each the exact
    s2g SQL with a different rn cutoff), one exact-ranker CTE, and a
    per-nprobe LEFT JOIN recall row — the whole tuning curve as a
    single statement."""
    k = _S25_K
    blocks = [
        f"""exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id,
                   {_COS_SQL} AS cos_sim,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_COS_SQL} DESC, e.vec_id ASC
                   ) AS rnk
            FROM embeddings q CROSS JOIN embeddings e
            WHERE q.vec_id % 10 = 0
              AND {_COS_SQL} IS NOT NULL
        ) WHERE rnk <= {k}
    ), assign AS (
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
    ), probe_rank AS (
        SELECT query_id, cell, rn FROM (
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
        )
    )"""
    ]
    rows = []
    for p in _S25_PROBES:
        blocks.append(
            f"""sel{p} AS (
        SELECT query_id, vec_id FROM (
            SELECT s.query_id, s.vec_id,
                   row_number() OVER (
                       PARTITION BY s.query_id
                       ORDER BY s.cos_sim DESC, s.vec_id ASC
                   ) AS rnk
            FROM (
                SELECT pr.query_id, a.vec_id, {_COS_SQL} AS cos_sim
                FROM probe_rank pr
                JOIN assign a USING (cell)
                JOIN embeddings q ON q.vec_id = pr.query_id
                JOIN embeddings e ON e.vec_id = a.vec_id
                WHERE pr.rn <= {p} AND {_COS_SQL} IS NOT NULL
            ) s
        ) WHERE rnk <= {k}
    )"""
        )
        rows.append(
            f"""SELECT CAST({p} AS BIGINT) AS nprobe,
           CAST(count(DISTINCT x.query_id) AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(a.vec_id) AS BIGINT) AS hits,
           CAST((CAST(count(a.vec_id) AS BIGINT) * 20000 + count(*))
                // (2 * count(*)) AS BIGINT) AS recall_e4
    FROM exact x LEFT JOIN sel{p} a
      ON a.query_id = x.query_id AND a.vec_id = x.vec_id"""
        )
    return (
        "WITH " + _CENT_CTES + ", " + ",\n    ".join(blocks)
        + "\n    " + "\n    UNION ALL\n    ".join(rows)
    )


@q("s25_recall_vs_probes", _s25_oracle())
def s25_recall_vs_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning curve: recall@5 of the deterministic IVF searcher
    (s2g, unchanged) at nprobe = 1/2/4 against the exact ranker (s1,
    unchanged) — the accuracy-vs-cost trade every deployment reads
    before fixing its probe budget, and because every stage is
    deterministic the ENTIRE curve is value-checked against DuckDB
    (trained-KMeans indexes report the same curve behind recall gates
    instead).  Plan shape: the exact ranker runs ONCE (persisted —
    |Q| x k rows behind the one expensive all-pairs lineage) through
    the ARROW map-side-top-k twin, which is pytest-pinned bit-equal to
    the SQL anchor s1 including rank (measured 2.3x the SQL form here:
    8.99s -> 3.90s best-of-3 at sf0.1); the IVF side runs as
    ``ivf_probe_sweep_topk`` — nested probe sets mean one max-probe
    scoring pass serves every budget from a persisted skinny candidate
    table, ~1/7 of the three-independent-searches scoring work.  Hits
    land in one inner join grouped by nprobe; the ratio is a half-up
    BIGINT e4."""
    from martech_pipelines_spark import caching
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = caching.register(
        SIM.brute_force_topk_arrow(queries, emb, k=_S25_K)
        .select("query_id", "vec_id")
        .persist()
    )
    sweep = SIM.ivf_probe_sweep_topk(
        queries, emb, nlist=_NLIST, probes=_S25_PROBES, k=_S25_K
    ).select("nprobe", "query_id", "vec_id")
    hits = (
        exact.join(sweep, ["query_id", "vec_id"])
        .groupBy("nprobe")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    totals = exact.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    grid = spark.createDataFrame(
        [(int(p),) for p in _S25_PROBES], "nprobe long"
    )
    return (
        grid.crossJoin(F.broadcast(totals))
        .join(F.broadcast(hits), "nprobe", "left")
        .select(
            "nprobe",
            "n_queries",
            "n_pairs",
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.expr(
                "(coalesce(hits, 0) * CAST(20000 AS BIGINT) + n_pairs)"
                " div (2 * n_pairs)"
            ).cast("long").alias("recall_e4"),
        )
    )


# ---------------------------------------------------------------------------
# pipe11: dataset-card summary report
# ---------------------------------------------------------------------------

_PIPE11_ORACLE = f"""
    WITH base AS (
        SELECT source, lang, n_chars,
               CAST(len(list_filter(string_split_regex(lower(text),
                   '[^a-z0-9'']+'), x -> x <> '')) AS BIGINT) AS n_toks,
               md5({_DUCK_NORM.format(col='text')}) AS fp
        FROM documents
    ), agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dup_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(n_toks) AS BIGINT) AS total_tokens
        FROM base GROUP BY 1
    ), hist AS (
        SELECT source, n_chars AS y, count(*) AS cnt
        FROM documents GROUP BY 1, 2
    ), cum AS (
        SELECT source, y, cnt,
               sum(cnt) OVER (
                   PARTITION BY source ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS c,
               sum(cnt) OVER (PARTITION BY source) AS n
        FROM hist
    ), pct AS (
        SELECT source,
               min(CASE WHEN c >= ceil(n * 0.50) THEN y END) AS p50_chars,
               min(CASE WHEN c >= ceil(n * 0.90) THEN y END) AS p90_chars
        FROM cum GROUP BY source
    )
    SELECT agg.*, pct.p50_chars, pct.p90_chars
    FROM agg JOIN pct USING (source)
"""


@q("pipe11_dataset_card", _PIPE11_ORACLE)
def pipe11_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card intake report, per source: doc count, language
    count, exact-duplicate count (docs minus distinct normalized-text
    fingerprints), char/token totals, and EXACT p50/p90 length
    percentiles by the r29 histogram rule.  Two keyed passes over one
    scan: a 5-metric agg (the two DISTINCTs expand the skinny projected
    rows 3x map-side — measured cheaper than two extra shuffle
    lineages) plus the domain-bounded length histogram, joined on
    |sources| rows.  Every output column is BIGINT — the report a
    corpus release ships next to its mixture weights (t16/t46)."""
    from martech_pipelines_spark.operators.text import (
        fingerprint,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        token_count(F.col("text")).cast("long").alias("n_toks"),
        fingerprint(F.col("text")).alias("fp"),
    )
    agg = base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        (F.count("*") - F.count_distinct("fp")).cast("long").alias("dup_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
    )
    from martech_pipelines_spark.operators.prep import exact_length_percentiles

    hist = docs.groupBy("source", F.col("n_chars").alias("y")).agg(
        F.count("*").alias("cnt")
    )
    return agg.join(exact_length_percentiles(hist), "source")


# ---------------------------------------------------------------------------
# h22: incremental skyline maintenance (shares r38's oracle)
# ---------------------------------------------------------------------------


@q("h22_incremental_skyline", _R38_ORACLE)  # SHARES r38's oracle
def h22_incremental_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM proof for the skyline: sky(A UNION B) == sky(sky(A) UNION
    sky(B)) (dominance is transitive, so points dominated within a
    slice stay dominated globally) — the frontier itself is the
    mergeable state.  The part table split into three arbitrary slices,
    each reduced to its frontier, the frontiers folded pairwise through
    the same operator; the oracle is r38's full NOT EXISTS recompute,
    so incremental == full is engine-checked.  At 100 TB the nightly
    delta folds its own (tiny) frontier into the running frontier —
    no rescan of history, the h16/h21 discipline on an op whose state
    is orders of magnitude smaller than its input."""
    from martech_pipelines_spark.operators.windows import pareto_frontier_2d

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    state = pareto_frontier_2d(
        p.where(F.col("p_partkey") % 3 == 0), "price_c", "p_size"
    )
    for i in (1, 2):
        delta = pareto_frontier_2d(
            p.where(F.col("p_partkey") % 3 == i), "price_c", "p_size"
        )
        state = pareto_frontier_2d(
            state.unionByName(delta), "price_c", "p_size"
        )
    return state.select("p_partkey", "price_c", "p_size")


# ---------------------------------------------------------------------------
# a12: hive-partitioned layout + partition-pruned scan
# ---------------------------------------------------------------------------

# Build-once-per-process layout cache keyed by sf_dir (the pipe10b
# convention): the first call pays the partitioned rewrite, every later
# call is the pruned read the layout exists to serve.
_A12_LAYOUT: dict[str, str] = {}


def _a12_layout(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    path = _A12_LAYOUT.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="events_by_type_")
        (
            load_table(spark, sf_dir, "events")
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(path)
        )
        _A12_LAYOUT[sf_dir] = path
    return path


_A12_TYPES = ("purchase", "signup")

_A12_ORACLE = f"""
    SELECT event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events
    WHERE event_type IN {_A12_TYPES!r}
    GROUP BY 1, 2
"""


@q("a12_partitioned_pruned_scan", _A12_ORACLE)
def a12_partitioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition-PRUNED read: the events table
    rewritten ``partitionBy(event_type)`` once per process, then a
    two-type daily revenue report read through the layout — the filter
    resolves against DIRECTORY NAMES at planning time (PartitionFilters
    in the scan node, plan-asserted in tests/test_r8b_ops.py), so the
    3/5 non-matching partitions are never opened.  This is the base
    layout decision for any 100-TB event store (partition by coarse
    selective key, z-order within — z1 — for the fine keys); the oracle
    reads the original unpartitioned parquet, value-checking the
    round-trip through the layout as well as the pruning."""
    lay = _a12_layout(spark, sf_dir)
    ev = spark.read.parquet(lay)
    return (
        ev.where(F.col("event_type").isin(*_A12_TYPES))
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).cast("long").alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# g4: deterministic label propagation (community detection)
# ---------------------------------------------------------------------------

_G4_ITERS = 3


def _g4_oracle(iters: int = _G4_ITERS) -> str:
    """The sync-LPA rounds unrolled as CTEs: round N joins the edge
    list to round N-1's labels and takes the (count DESC, label ASC)
    mode per node — the exact update rule of graph.label_propagation."""
    blocks = [
        """und AS (
        SELECT a.p AS a, b.p AS b
        FROM (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem) b
          ON a.k = b.k AND a.p < b.p
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), sym AS (
        SELECT a AS s, b AS d FROM und UNION SELECT b, a FROM und
    ), lab0 AS (
        SELECT DISTINCT s AS node, s AS lab FROM sym
    )"""
    ]
    for n in range(1, iters + 1):
        blocks.append(
            f"""it{n} AS (
        SELECT e.s AS node, l.lab, count(*) AS c
        FROM sym e JOIN lab{n - 1} l ON l.node = e.d
        GROUP BY 1, 2
    ), lab{n} AS (
        SELECT node, lab FROM (
            SELECT node, lab, row_number() OVER (
                PARTITION BY node ORDER BY c DESC, lab ASC
            ) AS rn FROM it{n}
        ) WHERE rn = 1
    )"""
        )
    return (
        "WITH " + ",\n    ".join(blocks)
        + f"\n    SELECT node, lab AS label FROM lab{iters}"
    )


@q("g4_label_propagation", _g4_oracle())
def g4_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the support>=2 co-purchase graph (g2b's
    graph) via SYNCHRONOUS label propagation with a total tie-break
    (most frequent neighbor label, ties to the smallest) for a fixed 3
    rounds — deterministic by construction, so the full assignment
    carries a DuckDB oracle with the rounds unrolled as CTEs (classic
    async LPA is unreproducible; this is the verification-first form,
    the same contract that made the ANN family oracle-able).  Per
    round: one edge-label join + one two-level mode agg, T keyed
    shuffles of skinny rows total.  A persist() of the symmetric edge
    list was measured and REJECTED (sf0.1 best-of-4: 2.93s recompute vs
    3.09s persisted — three parallel cheap recomputes of the support>=2
    self-join beat the materialization barrier, the mart10/dd12 lesson
    on a graph workload)."""
    from martech_pipelines_spark.operators.graph import (
        copurchase_edges_undirected,
        label_propagation,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges_undirected(li, min_support=2).select("src", "dst")
    return label_propagation(edges, iters=_G4_ITERS)


# ---------------------------------------------------------------------------
# t50: per-document character entropy (gibberish/noise quality signal)
# ---------------------------------------------------------------------------

_T50_ORACLE = """
    WITH ch AS (
        SELECT doc_id, unnest(string_split(lower(text), '')) AS c
        FROM documents WHERE length(text) > 0
    ), hist AS (
        SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS distinct_chars,
           round(ln(CAST(sum(cnt) AS DOUBLE))
                 - sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)))
                   / CAST(sum(cnt) AS BIGINT), 4) AS entropy_nats
    FROM hist GROUP BY doc_id
"""


@q("t50_char_entropy", _T50_ORACLE)
def t50_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (nats/char via
    H = ln n - (1/n)*sum c*ln c over the char histogram) — the
    gibberish/boilerplate detector that catches what word-level filters
    miss (base64 blobs and key-mash read as 'words'; their char
    distribution doesn't).  Sits next to t4/t13 in the quality-filter
    bank.  Plan: one explode collapsed map-side to |docs| x |alphabet|
    histogram rows, then a per-doc fold — the word-count shape at char
    granularity.  The log form follows t17's driver-proven contract
    (identical expression tree both engines, round-4, boundary-audited
    by tools/audit_rounding.py)."""
    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    hist = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), "")).alias("c")
        )
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("cnt"))
    )
    n = F.sum("cnt").cast("long")
    return hist.groupBy("doc_id").agg(
        n.alias("n_chars"),
        F.count("*").cast("long").alias("distinct_chars"),
        F.round(
            F.log(F.sum("cnt").cast("double"))
            - F.sum(F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double")))
            / F.sum("cnt").cast("long"),
            4,
        ).alias("entropy_nats"),
    )


# ---------------------------------------------------------------------------
# pipe12: incrementally-maintained dataset card (shares pipe11's oracle)
# ---------------------------------------------------------------------------


@q("pipe12_incremental_dataset_card", _PIPE11_ORACLE)  # SHARES pipe11's oracle
def pipe12_incremental_dataset_card(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The dataset card maintained INCREMENTALLY (h16/h21/h22 discipline
    applied to the intake report): three arbitrary doc batches each
    reduce to mergeable (source, lang, fp, n_chars) state, states fold
    by summing cells, and the card renders off the folded state —
    checked against pipe11's full-recompute oracle, so incremental ==
    full is engine-proven.  The fp column doubles as the exact-dedup
    index (the honest state floor for a card that reports dup rates);
    nightly deltas fold in one keyed exchange over |distinct docs|
    state rows, never rescanning the corpus."""
    from martech_pipelines_spark.operators import prep

    docs = load_table(spark, sf_dir, "documents")
    state = prep.dataset_card_state(docs.where(F.col("doc_id") % 3 == 0))
    for i in (1, 2):
        state = prep.merge_card_state(
            state, prep.dataset_card_state(docs.where(F.col("doc_id") % 3 == i))
        )
    return prep.render_dataset_card(state)


# ---------------------------------------------------------------------------
# s26: IVF cell-balance report (index-quality family)
# ---------------------------------------------------------------------------

_S26_ORACLE = f"""
    WITH {_CENT_CTES}, scored AS (
        SELECT x.vec_id, c.cell,
               CAST(list_dot_product(x.q, x.q) + list_dot_product(c.cq, c.cq)
                    - 2*list_dot_product(x.q, c.cq) AS BIGINT) AS d2q
        FROM xq x CROSS JOIN cents c
    ), assign AS (
        SELECT vec_id, cell FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY d2q, cell
            ) AS rn FROM scored
        ) WHERE rn = 1
    ), sizes AS (
        SELECT a.cell, CAST(count(v.vec_id) AS BIGINT) AS n_vecs
        FROM (SELECT DISTINCT cell FROM cents) a
        LEFT JOIN assign v USING (cell)
        GROUP BY a.cell
    ), tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n FROM sizes)
    SELECT cell, n_vecs,
           CAST((n_vecs * 20000 + n) // (2 * n) AS BIGINT) AS share_e4,
           CAST((n_vecs * CAST({_NLIST} AS BIGINT) * 20000 + n) // (2 * n)
                AS BIGINT) AS load_factor_e4
    FROM sizes, tot
"""


@q("s26_ivf_cell_balance", _S26_ORACLE)
def s26_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list balance report — the fourth leg of the
    index-quality suite (s19 recall / s23 distortion / dd16 blocking
    precision / this): per cell the vector count, corpus share, and
    load factor (share x nlist, 1e4 == perfectly balanced) including
    EMPTY cells — skewed lists are why identical nprobe budgets cost
    wildly different scan volume, and a hot cell is the first thing to
    check when p99 probe latency drifts.  One map-side-combined count
    over the s2e assignment + a broadcast total; ratios half-up BIGINT
    e4."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SIM.modular_representatives(emb, nlist=_NLIST)
    assigned = SIM.quantized_cell_assignments(emb, cents)
    sizes = (
        cents.select("cell")
        .distinct()
        .join(assigned, "cell", "left")
        .groupBy("cell")
        .agg(F.count("vec_id").cast("long").alias("n_vecs"))
    )
    tot = sizes.agg(F.sum("n_vecs").cast("long").alias("n"))
    return sizes.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vecs",
        F.expr("(n_vecs * CAST(20000 AS BIGINT) + n) div (2 * n)")
        .cast("long")
        .alias("share_e4"),
        F.expr(
            f"(n_vecs * CAST({_NLIST} AS BIGINT) * 20000 + n) div (2 * n)"
        )
        .cast("long")
        .alias("load_factor_e4"),
    )


# ---------------------------------------------------------------------------
# dd18: dup-cluster size distribution (dedup diagnostic)
# ---------------------------------------------------------------------------


def _dd18_oracle() -> str:
    from martech_pipelines_spark.plans.corpus_extended import (
        _CLUSTER_CORPUS_SQL,
        _minhash_oracle,
    )

    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle(_CLUSTER_CORPUS_SQL)}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
        SELECT id, id AS label FROM verts
        UNION
        SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    clus AS (
        SELECT id, CAST(min(label) AS BIGINT) AS cluster FROM reach GROUP BY id
    ),
    corpus AS ({_CLUSTER_CORPUS_SQL}),
    allc AS (
        SELECT c.doc_id AS id, coalesce(cl.cluster, c.doc_id) AS cluster
        FROM corpus c LEFT JOIN clus cl ON cl.id = c.doc_id
    ),
    sizes AS (SELECT cluster, count(*) AS sz FROM allc GROUP BY 1)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
"""


@q("dd18_cluster_size_histogram", _dd18_oracle())
def dd18_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster SIZE distribution — the dedup diagnostic that
    says where the duplicate mass lives (a long tail of pairs is
    crawl-level noise; a few giant families are template/boilerplate
    explosions needing a different fix).  Same constructed dup corpus
    and MinHash->connected-components chain as pipe4 (singletons keep
    their own id and land in the size-1 bucket), reduced to the
    (cluster_size, n_clusters, n_docs) histogram — domain-bounded
    output rows, two map-side-combined aggs past the clustering.  The
    oracle composes the recursive-CTE reachability with the histogram
    tail, so the whole diagnostic is value-checked."""
    from martech_pipelines_spark.operators import dedup as DD

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 5 == 0)
    exact = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = base.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" zz yy xx")).alias("text"),
    )
    from martech_pipelines_spark import caching
    from martech_pipelines_spark.operators.parallelism import spread

    # Same corpus sharing as dd12 (see corpus_r5): one persisted spread
    # union instead of re-deriving the 3-branch union per consumer.
    corpus = caching.register(
        spread(base.unionByName(exact).unionByName(near), by="doc_id").persist()
    )
    pairs = DD.minhash_near_duplicates(
        corpus, threshold=0.5, num_perm=16, bands=4, shingle_n=3
    )
    clusters = DD.dup_clusters(pairs)
    allc = (
        corpus.select(F.col("doc_id").alias("id"))
        .join(clusters, "id", "left")
        .select(F.coalesce("cluster", F.col("id")).alias("cluster"))
    )
    sizes = allc.groupBy("cluster").agg(F.count("*").alias("sz"))
    return sizes.groupBy("sz").agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.col("sz") * F.count("*")).cast("long").alias("n_docs"),
    ).select(
        F.col("sz").cast("long").alias("cluster_size"), "n_clusters", "n_docs"
    )


# ---------------------------------------------------------------------------
# fe5: session-derived engagement features
# ---------------------------------------------------------------------------

_FE5_ORACLE = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > CAST({_GAP_S} AS BIGINT) * 1000000 THEN 1
                    ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    ), summ AS (
        SELECT user_id, sid,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us,
               count(*) AS n_ev
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS total_events,
           CAST(CAST(sum(dur_us) AS BIGINT) // 1000000 AS BIGINT)
               AS total_active_s,
           CAST((2 * CAST(sum(dur_us) AS BIGINT) + count(*) * 1000000)
                // (2 * count(*) * 1000000) AS BIGINT) AS mean_session_s,
           CAST(max(n_ev) AS BIGINT) AS max_session_events
    FROM summ GROUP BY user_id
"""


@q("fe5_session_features", _FE5_ORACLE)
def fe5_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement features off the session-interval state
    (h21's summaries re-read as a feature source — the canonical
    churn/propensity inputs): session count, event volume, total active
    seconds (floor of the exact micros sum), half-up mean session
    length, busiest session.  One interval pass + one |users|-keyed agg
    — the state a nightly maintenance job already holds (h21/streaming
    twin) serves the feature read for free, which is the point of
    keeping sessions as state at all.  Integer arithmetic end to end."""
    from martech_pipelines_spark.operators import windows as W

    ev = load_table(spark, sf_dir, "events")
    st = W.session_intervals(ev, _GAP_S)
    return st.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.expr("sum(end_us - start_us) div CAST(1000000 AS BIGINT)")
        .cast("long")
        .alias("total_active_s"),
        F.expr(
            "(2 * sum(end_us - start_us) + count(*) * CAST(1000000 AS BIGINT))"
            " div (2 * count(*) * CAST(1000000 AS BIGINT))"
        ).cast("long").alias("mean_session_s"),
        F.max("n_events").cast("long").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# dq11: Benford first-digit deviation (value-plausibility monitor)
# ---------------------------------------------------------------------------

# Benford shares precomputed in PYTHON as e6 integers (log10(1+1/d)) so
# both engines compare against the same literals — no log in either plan.
_BENFORD_E6 = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}

_DQ11_ORACLE = f"""
    WITH v AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice > 0
    ), d AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM v
    ), obs AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
    bf AS (
        SELECT * FROM (VALUES
            {", ".join(f"({d}, {p})" for d, p in sorted(_BENFORD_E6.items()))}
        ) AS t(digit, benford_e6)
    )
    SELECT bf.digit, coalesce(obs.n_obs, 0) AS n_obs,
           CAST((coalesce(obs.n_obs, 0) * 2000000 + n) // (2 * n) AS BIGINT)
               AS share_e6,
           CAST(bf.benford_e6 AS BIGINT) AS benford_e6,
           abs(CAST((coalesce(obs.n_obs, 0) * 2000000 + n) // (2 * n)
                    AS BIGINT) - bf.benford_e6) AS abs_dev_e6
    FROM bf LEFT JOIN obs USING (digit), tot
"""


@q("dq11_benford_deviation", _DQ11_ORACLE)
def dq11_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit plausibility monitor over order totals — the
    classic fabricated/corrupted-values detector (a feed that starts
    inventing amounts drifts off the log-uniform digit law long before
    any range check fires).  First digit via exact decimal-string
    arithmetic (no log10 in the plan — boundary values like 10^k stay
    exact); observed shares as half-up BIGINT e6 against
    Python-precomputed Benford constants shared by both engines as
    literals.  One map-side-combined digit histogram + a 9-row
    broadcast."""
    bf = spark.createDataFrame(
        sorted(_BENFORD_E6.items()), "digit long, benford_e6 long"
    )
    v = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents")
        )
    )
    obs = (
        v.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    share = F.expr("(n_obs * CAST(2000000 AS BIGINT) + n) div (2 * n)")
    return (
        bf.join(obs, "digit", "left")
        .na.fill({"n_obs": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n_obs").cast("long").alias("n_obs"),
            share.cast("long").alias("share_e6"),
            "benford_e6",
            F.abs(share.cast("long") - F.col("benford_e6"))
            .cast("long")
            .alias("abs_dev_e6"),
        )
    )


# ---------------------------------------------------------------------------
# mart21: revenue concentration (exact integer Gini per segment)
# ---------------------------------------------------------------------------

_MART21_ORACLE = """
    WITH rev AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey AS ck,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT segment, cents,
               row_number() OVER (
                   PARTITION BY segment ORDER BY cents, ck
               ) AS i
        FROM rev
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST((2 * (2 * sum(i * cents)
                      - (count(*) + 1) * sum(cents)) * 1000000
                 + count(*) * sum(cents))
                // (2 * count(*) * sum(cents)) AS BIGINT)
               AS gini_e6
    FROM ranked GROUP BY segment
"""


@q("mart21_revenue_gini", _MART21_ORACLE)
def mart21_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment as an EXACT integer
    Gini coefficient, emitted as half-up BIGINT e6 — the standard
    scalar behind mart19's ABC buckets ("how unequal is the revenue
    base"), the whale-dependency metric every retention review asks
    for.  ``gini_readout(customer_revenue_state(all))``: one keyed agg
    + one per-segment rank window over |customers| skinny rows."""
    return gini_readout(
        customer_revenue_state(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "customer"),
        )
    )


# ---------------------------------------------------------------------------
# h23: incremental Gini (mergeable customer-total state)
# ---------------------------------------------------------------------------


@q("h23_incremental_gini", _MART21_ORACLE)  # SHARES mart21's oracle
def h23_incremental_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mart21 maintained INCREMENTALLY: orders split by o_orderkey % 3
    into three batches, each reduced to per-customer revenue totals,
    summed by ``sum_merge`` (arbitrary batch order) and
    read by mart21's ``gini_readout`` — equality with the shared oracle
    is the IVM proof."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    state = customer_revenue_state(orders.where(F.col("o_orderkey") % 3 == 0), cust)
    for i in (1, 2):
        state = sum_merge(
            ["segment", "o_custkey"],
            state,
            customer_revenue_state(
                orders.where(F.col("o_orderkey") % 3 == i), cust
            ),
        )
    return gini_readout(state)


# ---------------------------------------------------------------------------
# dq12: cross-table temporal-ordering consistency
# ---------------------------------------------------------------------------

_DQ12_ORACLE = """
    SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m-%d') AS month,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate
                         THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           CAST((CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate
                              THEN 1 ELSE 0 END) AS BIGINT) * 2000000
                 + count(*)) // (2 * count(*)) AS BIGINT) AS share_e6
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
"""


@q("dq12_temporal_consistency", _DQ12_ORACLE)
def dq12_temporal_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-TABLE temporal-ordering check — a line item must not ship
    before its order was placed; the event-order invariant class that
    range checks (dq1) and referential checks (dq3) both miss, reported
    per order month as violation counts and half-up e6 shares (the
    synthetic generator draws ship dates independently, so ~49% of rows
    violate — real signal for the monitor's arithmetic).  One fact-fact
    equi-join on the natural key + a |months|-row map-side-combined
    agg; date comparison only (no timestamp parse, no session tz)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    j = li.join(orders, "o_orderkey")
    viol = F.sum(
        F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
    )
    return j.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month"
        )
    ).agg(
        F.count("*").cast("long").alias("n_lineitems"),
        viol.cast("long").alias("violations"),
        F.expr(
            "(CAST(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)"
            " AS BIGINT) * CAST(2000000 AS BIGINT) + count(*))"
            " div (2 * count(*))"
        ).cast("long").alias("share_e6"),
    )


# ---------------------------------------------------------------------------
# s27: filtered vector search (post-filter IVF, index identity preserved)
# ---------------------------------------------------------------------------

from martech_pipelines_spark.plans.corpus_r7 import _NPROBE  # noqa: E402

_S27_ORACLE = f"""
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
        WHERE e.label % 2 = 0
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
        ) AS rnk
        FROM scored WHERE cos_sim IS NOT NULL
    ) WHERE rnk <= 5
"""


@q("s27_filtered_ann", _S27_ORACLE)
def s27_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the metadata-predicate-constrained ANN
    query production systems struggle with (and the reason "filtered
    search" is its own feature in every vector DB): top-5 among
    EVEN-LABELED vectors only, served through the UNCHANGED IVF index
    (centroids and cell assignments are the full corpus's — a row's
    assignment depends only on its own vector, so the predicate cannot
    shift cells) with the filter applied between assignment and
    scoring, i.e. post-filter semantics rather than a per-filter index
    rebuild.  Deterministic end to end, hence a full oracle.  Caveat a
    real deployment tunes for: a selective filter shrinks the per-cell
    candidate pool, so recall at fixed nprobe drops — the s25 curve is
    how that gets re-budgeted."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_deterministic_topk(
        queries,
        emb,
        nlist=_NLIST,
        nprobe=_NPROBE,
        k=5,
        candidate_filter=(F.col("label") % 2 == 0),
    ).select("query_id", "vec_id", "cos_sim", "rnk")


# ---------------------------------------------------------------------------
# s28: two-stage retrieve-then-rerank (ADC propose, exact refine)
# ---------------------------------------------------------------------------


def _s28_oracle(n_retrieve: int = 20, k: int = 5) -> str:
    from martech_pipelines_spark.plans.corpus_r7 import _S8C_ORACLE

    # reuse s8c's full ADC chain verbatim with a wider cut; a loud
    # assert keeps this in lockstep with the upstream oracle (the dd16
    # convention for derived oracles)
    assert "WHERE rnk <= 5" in _S8C_ORACLE, "s8c oracle shape changed"
    stage1 = _S8C_ORACLE.replace(
        "WHERE rnk <= 5", f"WHERE rnk <= {n_retrieve}"
    )
    return f"""
    WITH cand AS (
        SELECT query_id, vec_id FROM ({stage1})
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
    ) WHERE rnk <= {k}
"""


@q("s28_adc_retrieve_rerank", _s28_oracle())
def s28_adc_retrieve_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard two-stage serving pattern, deterministic end to
    end: PQ/ADC proposes 20 candidates from the m-byte code table
    (stage-1 scan cost is codes, never vectors), exact cosine re-scores
    ONLY those 20 per query to the final top-5 (two keyed joins on the
    skinny candidate table fetch the vectors).  This is the refine step
    the rows-only trained ``s8_pq_topk`` performs, value-checked on the
    deterministic codebook — and the answer to PQ's quantization-tie
    problem: ADC ties that are arbitrary at stage 1 get broken by the
    exact metric at stage 2."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.adc_retrieve_rerank(queries, emb, n_retrieve=20, k=5).select(
        "query_id", "vec_id", "cos_sim", "rnk"
    )


# ---------------------------------------------------------------------------
# s29: graph-based ANN — deterministic fixed-hop beam search (NSW family)
# ---------------------------------------------------------------------------

_S29_GK = 8      # graph out-degree
_S29_BEAM = 4
_S29_HOPS = 3
_S29_K = 5

_COS_QB = """round(
                   list_dot_product(q.v, b.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(b.v, b.v))), 4)"""


#: Exact kNN-graph CTE (the s29 oracle-anchor build).  ``_s29_oracle``
#: accepts an alternative graph block so the s29b production form (beam
#: over the banded-LSH graph, corpus_r9) reuses the identical hop unroll.
_S29_EXACT_GRAPH_BLOCK = f"""g AS (
        SELECT src_id, nbr_id FROM (
            SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY round(
                           list_dot_product(a.v, b.v)
                           / (sqrt(list_dot_product(a.v, a.v))
                              * sqrt(list_dot_product(b.v, b.v))), 4) DESC,
                           b.vec_id ASC
                   ) AS rn
            FROM base a JOIN base b ON a.vec_id <> b.vec_id
            WHERE list_dot_product(a.v, a.v) > 0
              AND list_dot_product(b.v, b.v) > 0
        ) WHERE rn <= {_S29_GK}
    )"""


def _s29_oracle(graph_block: str = _S29_EXACT_GRAPH_BLOCK) -> str:
    blocks = [
        f"""base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), {graph_block}, qs AS (
        SELECT vec_id AS query_id, v FROM base WHERE vec_id % 10 = 0
    ), f0 AS (
        SELECT q.query_id, e.node
        FROM qs q, (SELECT min(vec_id) AS node FROM base) e
    ), s0 AS (
        SELECT f.query_id, f.node, {_COS_QB} AS cos_sim
        FROM f0 f JOIN qs q USING (query_id) JOIN base b ON b.vec_id = f.node
        WHERE {_COS_QB} IS NOT NULL
    ), b0 AS (
        SELECT query_id, node FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, node ASC
            ) AS rn FROM s0
        ) WHERE rn <= {_S29_BEAM}
    )"""
    ]
    for i in range(1, _S29_HOPS + 1):
        blocks.append(
            f"""f{i} AS (
        SELECT query_id, node FROM b{i - 1}
        UNION
        SELECT p.query_id, g.nbr_id FROM b{i - 1} p JOIN g ON g.src_id = p.node
    ), s{i} AS (
        SELECT f.query_id, f.node, {_COS_QB} AS cos_sim
        FROM f{i} f JOIN qs q USING (query_id) JOIN base b ON b.vec_id = f.node
        WHERE {_COS_QB} IS NOT NULL
    ), b{i} AS (
        SELECT query_id, node FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, node ASC
            ) AS rn FROM s{i}
        ) WHERE rn <= {_S29_BEAM}
    )"""
        )
    united = " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(_S29_HOPS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f""",
    visited AS (SELECT DISTINCT query_id, node, cos_sim FROM ({united}))
    SELECT query_id, node AS vec_id, cos_sim, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, node ASC
        ) AS rnk FROM visited
    ) WHERE rnk <= {_S29_K}
"""
    )


@q("s29_graph_ann_beam", _s29_oracle())
def s29_graph_ann_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN — the NSW/HNSW index family in its deterministic,
    value-checkable form: beam search ({_S29_HOPS} hops, beam
    {_S29_BEAM}) over the exact {_S29_GK}-NN graph from a fixed entry
    node (min vec_id), final top-{_S29_K} of everything scored.  Fixed
    hops + total (cos DESC, id) tie-breaks replace HNSW's
    insertion-order layers and data-dependent stopping, so the whole
    search unrolls into CTEs and carries a full oracle — completing the
    index-family coverage (IVF s2*, PQ s8*, LSH s2, graph here).  The
    graph build is the index cost (s10's exact form inline at gate
    scale; the banded-LSH graph s10b is the 100-TB build); the SEARCH
    never rescans the corpus — each hop joins the (|Q| x beam) beam
    against the adjacency list and fetches vectors for scoring by key.
    Expected behavior, not a bug: recall trails the s25 IVF curve at
    equal candidate budgets when the entry lands in a far cluster —
    that is the known NSW cold-entry trade the hierarchical variant
    exists to fix.  The build runs through ``knn_graph`` — the graph
    is corpus-as-queries top-(k+1) with self filtered on the Arrow
    matmul lane, measured 16x faster than the JVM all-pairs form at
    sf0.1 (66.8s -> 4.1s) — so the inline index cost stays
    gate-friendly."""
    from martech_pipelines_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    graph = SIM.knn_graph(emb, k=_S29_GK).select("src_id", "nbr_id")
    entry = emb.agg(F.min("vec_id")).collect()[0][0]  # 1-row control plane
    return SIM.graph_ann_beam_search(
        queries,
        emb,
        graph,
        entry_id=entry,
        hops=_S29_HOPS,
        beam=_S29_BEAM,
        k=_S29_K,
    )
