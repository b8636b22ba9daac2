"""Round-9 wave-4 corpus additions — dedup tuning and governance.

``dd20_shingle_width_separation`` — which shingle width actually
                          separates near-duplicates from unrelated
                          documents: the LAST dedup tuning knob the
                          index-quality suite (s19/s23/dd16/dd19) did
                          not yet measure.
``pipe13_dedup_mixture_shift`` — how exact dedup MOVES the source
                          mixture: the governance report that catches
                          dedup disproportionately deleting one source
                          before the mixture weights (t16/t46) are
                          fit on the deduped corpus.

Reference parity: the reference repo (gauravkumar-ny/martech-pipelines)
computes neither; both extend the training-data preparation families
per SURVEY.md's "beyond the reference" mandate on the driver-generated
``documents`` table.

Determinism contract: md5 fingerprints and half-up integer ratios on
both engines; the dd19 synthetic near-dup construction (base ∪
suffix-modified twin) reused so true/false pair labels are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from martech_pipelines_spark.plans.corpus import ORACLE, QUERIES, q  # noqa: F401
from martech_pipelines_spark.plans.corpus_extended import (
    _DUCK_NORM,
    _DUCK_TOKENS,
    _MINHASH_CORPUS_SQL,
)
from martech_pipelines_spark.operators.parallelism import spread
from martech_pipelines_spark.operators.windows import (
    DQ15_BUDGET_E6 as _DQ15_BUDGET_E6,
    slo_readout,
    slo_state,
)
from martech_pipelines_spark.sources import load_table

# ---------------------------------------------------------------------------
# dd20: shingle-width separation report (true vs false pair Jaccard by w)
# ---------------------------------------------------------------------------

_DD20_WIDTHS = (2, 3, 5)


def _dd20_shingle_cte(w: int) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(w))
    return f"""sh{w} AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= {w}
                   THEN list_transform(generate_series(1, len(t) - {w - 1}),
                                       i -> {gram})
                   ELSE [] END) AS sh
        FROM toksrc
    )"""


def _dd20_oracle() -> str:
    toks = _DUCK_TOKENS.format(col=_DUCK_NORM.format(col="text"))
    blocks = [
        f"""corpus AS (
{_MINHASH_CORPUS_SQL}
    ), toksrc AS (
        SELECT doc_id, {toks} AS t FROM corpus
    ), pairs AS (
        SELECT doc_id AS id_a, doc_id + 2000000 AS id_b, 1 AS is_true
        FROM corpus WHERE doc_id < 2000000
        UNION ALL
        SELECT a.doc_id, b.doc_id, 0
        FROM corpus a JOIN corpus b ON b.doc_id = a.doc_id + 10
        WHERE a.doc_id < 2000000 AND b.doc_id < 2000000
    )"""
    ]
    rows = []
    for w in _DD20_WIDTHS:
        blocks.append(_dd20_shingle_cte(w))
        blocks.append(
            f"""scored{w} AS (
        SELECT p.is_true,
               (CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 20000
                + (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))))
               // (2 * (len(sa.sh) + len(sb.sh)
                        - len(list_intersect(sa.sh, sb.sh)))) AS jacc_e4
        FROM pairs p
        JOIN sh{w} sa ON sa.doc_id = p.id_a AND len(sa.sh) > 0
        JOIN sh{w} sb ON sb.doc_id = p.id_b AND len(sb.sh) > 0
    )"""
        )
        rows.append(
            f"""SELECT CAST({w} AS BIGINT) AS w,
           CAST(sum(is_true) AS BIGINT) AS n_true,
           CAST(sum(1 - is_true) AS BIGINT) AS n_false,
           CAST(CASE WHEN sum(is_true) > 0
                THEN (2 * sum(CASE WHEN is_true = 1 THEN jacc_e4 ELSE 0 END)
                      + sum(is_true)) // (2 * sum(is_true))
                ELSE 0 END AS BIGINT) AS mean_true_e4,
           CAST(CASE WHEN sum(1 - is_true) > 0
                THEN (2 * sum(CASE WHEN is_true = 0 THEN jacc_e4 ELSE 0 END)
                      + sum(1 - is_true)) // (2 * sum(1 - is_true))
                ELSE 0 END AS BIGINT) AS mean_false_e4,
           CAST(CASE WHEN sum(is_true) > 0
                THEN (2 * sum(CASE WHEN is_true = 1 THEN jacc_e4 ELSE 0 END)
                      + sum(is_true)) // (2 * sum(is_true))
                ELSE 0 END
                - CASE WHEN sum(1 - is_true) > 0
                THEN (2 * sum(CASE WHEN is_true = 0 THEN jacc_e4 ELSE 0 END)
                      + sum(1 - is_true)) // (2 * sum(1 - is_true))
                ELSE 0 END AS BIGINT) AS sep_e4
    FROM scored{w}"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + "\n    "
        + "\n    UNION ALL\n    ".join(rows)
    )


@q("dd20_shingle_width_separation", _dd20_oracle())
def dd20_shingle_width_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-width tuning report — the dedup knob the index-quality
    suite had not yet measured (s19 recall / s23 distortion / dd16
    blocking precision / dd19 estimator calibration / THIS — feature
    separation): for word-shingle widths w in {widths}, the mean exact
    Jaccard of TRUE near-duplicate pairs (each base doc vs its
    suffix-modified twin, the dd19 construction) against FALSE pairs
    (each base doc vs the next unrelated base doc), and their
    separation.  Wider shingles push unrelated-pair similarity toward
    zero but make true near-dups more fragile to small edits — this
    report measures both sides of that trade on the corpus itself, so
    the dd3/dd5 thresholds are chosen from evidence.  All-integer
    (half-up e4), one ~|base| pair join per width over skinny
    (doc_id, shingle-array) rows — documents are scanned once per
    width, never joined wide."""
    from martech_pipelines_spark.operators.text import shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 5 == 0)
    near = base.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" zz yy xx")).alias("text"),
    )
    from pyspark import StorageLevel

    from martech_pipelines_spark import caching

    # Round-12 restructure (guide §1.2 / §2.3): the pre-round plan
    # re-derived the per-width shingle table from the raw scan inside
    # SIX broadcast builds (3 widths x 2 join sides — no exchange reuse
    # across union branches), each tokenizing all docs on the 1-2
    # partition scan (measured 6 stages x 2 tasks x 7-12 s executor
    # time).  Now: ONE spread + persisted wide table carries all three
    # widths' arrays (one tokenize pass per width instead of two, on
    # every core — parallelism.spread is a no-op on real wide scans),
    # and the per-width join sides are column-pruned reads of that
    # cache.  Round 13 (VERDICT r12 #1): the r12 form force-broadcast
    # BOTH join sides — one row per corpus doc carrying shingle arrays,
    # i.e. a corpus-sized broadcast at 100 TB.  The hints are gone; the
    # planner's shuffle join over the cache (with AQE broadcast
    # conversion when a side really is small) is the correct scale
    # posture, and the interleaved A/B read within noise locally.
    corpus = spread(base.unionByName(near), by="doc_id")
    wide = caching.register(
        corpus.select(
            "doc_id",
            *[shingles(F.col("text"), w).alias(f"sh{w}") for w in _DD20_WIDTHS],
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    true_pairs = base.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 2000000).alias("id_b"),
        F.lit(1).alias("is_true"),
    )
    a_ids = base.select(F.col("doc_id").alias("id_a"))
    b_ids = base.select(F.col("doc_id").alias("id_b"))
    false_pairs = a_ids.join(
        b_ids, F.col("id_b") == F.col("id_a") + 10
    ).select("id_a", "id_b", F.lit(0).alias("is_true"))
    # The per-pair array_intersect evaluates on the STREAM side of the
    # pair join — pairs' partitioning — so spread the (tiny) pair table
    # too, or the intersect work serializes on the 2-split scan.
    pairs = spread(true_pairs.unionByName(false_pairs), by="id_a")

    out = None
    for w in _DD20_WIDTHS:
        sh = wide.select("doc_id", F.col(f"sh{w}").alias("sh")).where(
            F.size("sh") > 0
        )
        sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
        sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        un = (F.size("sh_a") + F.size("sh_b")).cast("long") - inter
        scored = (
            pairs.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "is_true",
                F.expr(
                    "(CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT) * 20000"
                    " + (size(sh_a) + size(sh_b)"
                    "    - size(array_intersect(sh_a, sh_b))))"
                    " div (2 * (size(sh_a) + size(sh_b)"
                    "           - size(array_intersect(sh_a, sh_b))))"
                )
                .cast("long")
                .alias("jacc_e4"),
            )
        )
        mean_true = (
            "CASE WHEN sum(is_true) > 0"
            " THEN (2 * sum(CASE WHEN is_true = 1 THEN jacc_e4 ELSE 0 END)"
            " + sum(is_true)) div (2 * sum(is_true)) ELSE 0 END"
        )
        mean_false = (
            "CASE WHEN sum(1 - is_true) > 0"
            " THEN (2 * sum(CASE WHEN is_true = 0 THEN jacc_e4 ELSE 0 END)"
            " + sum(1 - is_true)) div (2 * sum(1 - is_true)) ELSE 0 END"
        )
        row = scored.agg(
            F.lit(w).cast("long").alias("w"),
            F.sum("is_true").cast("long").alias("n_true"),
            F.sum(F.lit(1) - F.col("is_true")).cast("long").alias("n_false"),
            F.expr(mean_true).cast("long").alias("mean_true_e4"),
            F.expr(mean_false).cast("long").alias("mean_false_e4"),
            F.expr(f"({mean_true}) - ({mean_false})").cast("long").alias("sep_e4"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# pipe13: dedup-induced source-mixture shift (governance report)
# ---------------------------------------------------------------------------

_PIPE13_ORACLE = f"""
    WITH corpus AS (
        SELECT source, doc_id, text FROM documents
        UNION ALL
        SELECT 'recrawl', doc_id + 3000000, text
        FROM documents WHERE doc_id % 4 = 0
    ), base AS (
        SELECT source, doc_id,
               md5({_DUCK_NORM.format(col='text')}) AS fp
        FROM corpus
    ), keep AS (
        SELECT fp, min(doc_id) AS doc_id FROM base GROUP BY 1
    ), surv AS (
        SELECT b.source FROM base b JOIN keep k ON b.doc_id = k.doc_id
    ), pre AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM base GROUP BY 1
    ), post AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_kept FROM surv GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS t_pre FROM pre
    ), tot2 AS (
        SELECT CAST(sum(n_kept) AS BIGINT) AS t_post FROM post
    )
    SELECT p.source, p.n_docs,
           CAST(coalesce(q.n_kept, 0) AS BIGINT) AS n_kept,
           CAST((p.n_docs * 2000000 + t_pre) // (2 * t_pre) AS BIGINT)
               AS share_pre_e6,
           CAST((coalesce(q.n_kept, 0) * 2000000 + t_post) // (2 * t_post)
               AS BIGINT) AS share_post_e6,
           CAST((coalesce(q.n_kept, 0) * 2000000 + t_post) // (2 * t_post)
                - (p.n_docs * 2000000 + t_pre) // (2 * t_pre) AS BIGINT)
               AS shift_e6
    FROM pre p LEFT JOIN post q USING (source), tot, tot2
"""


@q("pipe13_dedup_mixture_shift", _PIPE13_ORACLE)
def pipe13_dedup_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How exact dedup MOVES the source mixture — the governance report
    a training-data release runs between dedup (dd1) and mixture
    fitting (t16/t46): global keep-one-per-fingerprint (min doc_id, the
    deterministic winner rule), then per source the doc count and
    mixture share BEFORE and AFTER, and the signed share shift in
    half-up e6.  A template-heavy source loses disproportionally under
    global dedup, silently re-weighting the corpus the mixture step
    then bakes in — this report makes that shift a reviewed number
    instead of an accident.  Scale shape: one fingerprint agg
    (map-side-combined min over md5 keys), one keyed join back on the
    unique winner doc_id, two |sources|-row aggs, two 1-row total
    broadcasts — raw text is scanned exactly once.

    The driver corpus contains no exact duplicates, so the shift under
    test is INJECTED deterministically (the dd19 synthetic-construction
    discipline): a 'recrawl' source of exact copies of every 4th doc —
    the re-ingested-feed accident this report exists to catch.  Global
    dedup keeps the originals (min doc_id), the recrawl source
    collapses to zero, and every organic source's share rises."""
    from martech_pipelines_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    recrawl = docs.where(F.col("doc_id") % 4 == 0).select(
        F.lit("recrawl").alias("source"),
        (F.col("doc_id") + 3000000).alias("doc_id"),
        "text",
    )
    corpus = docs.select("source", "doc_id", "text").unionByName(recrawl)
    base = corpus.select(
        "source", "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    keep = base.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    surv = base.join(keep.select("doc_id"), "doc_id", "left_semi")
    pre = base.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    post = surv.groupBy("source").agg(F.count("*").cast("long").alias("n_kept"))
    t_pre = pre.agg(F.sum("n_docs").cast("long").alias("t_pre"))
    t_post = post.agg(F.sum("n_kept").cast("long").alias("t_post"))
    j = (
        pre.join(post, "source", "left")
        .crossJoin(F.broadcast(t_pre))
        .crossJoin(F.broadcast(t_post))
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            "t_pre",
            "t_post",
        )
    )
    share_pre = F.expr("(n_docs * CAST(2000000 AS BIGINT) + t_pre) div (2 * t_pre)")
    share_post = F.expr(
        "(n_kept * CAST(2000000 AS BIGINT) + t_post) div (2 * t_post)"
    )
    return j.select(
        "source",
        "n_docs",
        "n_kept",
        share_pre.cast("long").alias("share_pre_e6"),
        share_post.cast("long").alias("share_post_e6"),
        (share_post - share_pre).cast("long").alias("shift_e6"),
    )


# ---------------------------------------------------------------------------
# t52: vocabulary-growth (Heaps-law) curve + h29, its IVM twin
# ---------------------------------------------------------------------------

_T52_ORACLE = f"""
    WITH mx AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
    base AS (
        SELECT doc_id * 10 // n_ids AS decile,
               {_DUCK_TOKENS.format(col='text')} AS t
        FROM documents, mx
    ), per_d AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(t)) AS BIGINT) AS n_toks
        FROM base GROUP BY 1
    ), tok AS (
        SELECT decile, unnest(t) AS token FROM base
    ), first AS (
        SELECT token, min(decile) AS decile FROM tok GROUP BY 1
    ), nv AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS vocab_new
        FROM first GROUP BY 1
    )
    SELECT p.decile, p.n_docs,
           CAST(sum(p.n_toks) OVER (ORDER BY p.decile) AS BIGINT) AS toks_cum,
           CAST(coalesce(nv.vocab_new, 0) AS BIGINT) AS vocab_new,
           CAST(sum(coalesce(nv.vocab_new, 0)) OVER (ORDER BY p.decile)
                AS BIGINT) AS vocab_cum
    FROM per_d p LEFT JOIN nv USING (decile)
"""


def vocab_state(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Mergeable vocabulary-growth state from a document batch: skinny
    (doc_id, n_toks) rows (disjoint-union mergeable) and (token,
    first_id) vocabulary attribution (min-fold mergeable).  Raw text is
    tokenized exactly once per batch — the expensive pass the IVM twin
    never repeats."""
    from martech_pipelines_spark.operators.text import tokens

    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    docrows = toks.select(
        "doc_id", F.size("t").cast("long").alias("n_toks")
    )
    tokmin = (
        toks.select(F.explode("t").alias("token"), "doc_id")
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_id"))
    )
    return docrows, tokmin


def vocab_merge(
    a: tuple[DataFrame, DataFrame], b: tuple[DataFrame, DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """Fold two vocab states: doc rows are disjoint (union), token
    attribution min-folds."""
    docrows = a[0].unionByName(b[0])
    tokmin = (
        a[1].unionByName(b[1])
        .groupBy("token")
        .agg(F.min("first_id").alias("first_id"))
    )
    return docrows, tokmin


def vocab_growth_curve(state: tuple[DataFrame, DataFrame]) -> DataFrame:
    """Render the Heaps curve from vocab state: the decile anchor
    (max doc_id + 1) is re-read from MERGED state at render time (the
    h28 anchor discipline — a per-batch anchor would bucket each batch
    against a different id domain), then per-decile doc/token totals,
    new-vocabulary attribution, and running cumulatives over the
    10-row spine."""
    docrows, tokmin = state
    mx = docrows.agg((F.max("doc_id") + 1).alias("n_ids"))
    per_d = (
        docrows.crossJoin(F.broadcast(mx))
        .select(
            F.expr("doc_id * 10 div n_ids").cast("long").alias("decile"),
            "n_toks",
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_toks"),
        )
    )
    nv = (
        tokmin.crossJoin(F.broadcast(mx))
        .select(F.expr("first_id * 10 div n_ids").cast("long").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("vocab_new"))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_d.join(nv, "decile", "left")
        .select(
            "decile",
            "n_docs",
            F.sum("n_toks").over(w).cast("long").alias("toks_cum"),
            F.coalesce("vocab_new", F.lit(0)).cast("long").alias("vocab_new"),
            F.sum(F.coalesce("vocab_new", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("vocab_cum"),
        )
    )


@q("t52_vocab_growth", _T52_ORACLE)
def t52_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve — the corpus-scaling report
    that sizes tokenizers and vocab budgets: over ingestion-order
    deciles of the corpus, cumulative token volume vs cumulative
    DISTINCT vocabulary, with each decile's newly-first-seen token
    count.  A flattening curve says the crawl is saturating its
    domain; a linear one says the vocab (and the BPE merge table,
    t14b) is still growing with the data.  All integer: decile =
    doc_id * 10 div (max_id + 1) against a 1-row broadcast anchor,
    attribution = min first-occurrence decile per token.  Scale shape:
    one tokenize pass, a map-side-combined (token -> min doc_id) agg
    (vocabulary-sized shuffle, the t1 discipline), two domain-bounded
    10-row spines, cumsum windows over 10 rows."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_growth_curve(vocab_state(docs))


@q("h29_incremental_vocab", _T52_ORACLE)
def h29_incremental_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t52's IVM proof (SHARES its oracle): vocabulary-growth state is
    mergeable — (doc_id, n_toks) rows union disjointly, (token,
    first_id) attribution min-folds — so two document batches, each
    tokenized ONCE, fold to the bit-identical Heaps curve.  The decile
    anchor is re-read from merged state at render (the h28 anchor
    discipline): per-batch deciles would bucket each batch against a
    different id domain and silently mis-attribute vocabulary.  This
    is the intake shape at 100 TB: the expensive tokenize pass runs
    per delta batch, the curve re-renders from skinny integer/token
    state, raw text is never re-scanned."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    return vocab_growth_curve(vocab_merge(vocab_state(b2), vocab_state(b1)))


# ---------------------------------------------------------------------------
# dq15: error-budget / SLO burn monitor (daily error share vs budget)
# ---------------------------------------------------------------------------

_DQ15_ORACLE = f"""
    WITH daily AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day_s,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors
        FROM events GROUP BY 1
    ), shared AS (
        SELECT day_s, n_events, n_errors,
               CAST((n_errors * 2000000 + n_events) // (2 * n_events)
                    AS BIGINT) AS err_share_e6
        FROM daily
    )
    SELECT day_s, n_events, n_errors, err_share_e6,
           CAST(CASE WHEN err_share_e6 > {_DQ15_BUDGET_E6} THEN 1 ELSE 0 END
                AS BIGINT) AS breach,
           CAST(sum(CASE WHEN err_share_e6 > {_DQ15_BUDGET_E6} THEN 1 ELSE 0 END)
                OVER (ORDER BY day_s) AS BIGINT) AS breaches_cum
    FROM shared
"""


@q("dq15_error_budget", _DQ15_ORACLE)
def dq15_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-budget / SLO burn monitor — the ops report the 'error'
    event stream exists to feed: per day, event volume, error count,
    half-up e6 error share, a budget-breach flag against a fixed
    210000ppm share budget, and the RUNNING breach count (the burn
    curve an on-call rotation reads: two breaches in week one spends
    half a monthly budget of four).  Complements dq2 (z-score anomaly —
    relative to history) with an ABSOLUTE contract check, and dq13
    (population drift) with a time-series view.  Scale shape: one
    map-side-combined daily agg, then windows over the ~days-sized
    spine (r29 discipline — the single-partition pass never touches
    events)."""
    ev = load_table(spark, sf_dir, "events")
    return slo_readout(slo_state(ev))


# ---------------------------------------------------------------------------
# mart26: sessionized bounce rate by entry event type
# ---------------------------------------------------------------------------

_MART26_GAP_S = 30 * 60  # the r35/w3 session gap

_MART26_ORACLE = f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > CAST({_MART26_GAP_S} AS BIGINT) * 1000000 THEN 1
                    ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), labeled AS (
        SELECT user_id, event_id, ts, event_type,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_seq
        FROM flagged
    ), sess AS (
        SELECT event_type,
               row_number() OVER (
                   PARTITION BY user_id, session_seq ORDER BY ts, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY user_id, session_seq) AS n_in_sess
        FROM labeled
    )
    SELECT event_type AS entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_in_sess = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST((sum(CASE WHEN n_in_sess = 1 THEN 1 ELSE 0 END) * 2000000
                 + count(*)) // (2 * count(*)) AS BIGINT) AS bounce_e6
    FROM sess WHERE rn = 1
    GROUP BY 1
"""


@q("mart26_bounce_rate", _MART26_ORACLE)
def mart26_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized bounce rate by ENTRY event type — the classic web/
    app-analytics KPI the session machinery (w3 windows, r35 labels,
    h21 state) had not yet rolled up: of sessions that OPEN with a
    given event type, what share end after that single event?  A high
    view-bounce is a landing-page problem; a high click-bounce is a
    broken funnel step — the split by entry type is what makes the
    number actionable.  Determinism: the r35 session labeling verbatim
    (integer-microsecond gap, (ts, event_id) total order), entry = the
    same total order's first row, half-up e6 rate.  Scale shape: ONE
    user-keyed exchange feeds the gap flag, the running session_seq,
    and both per-session windows (all share the partitioning), then a
    |event-types|-row agg — no joins, no second shuffle of events."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_sess = F.when(
        prev_us.isNull()
        | (F.unix_micros(F.col("ts")) - prev_us > _MART26_GAP_S * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    labeled = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(new_sess).over(run).alias("session_seq"),
    )
    sw = W.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    sess = labeled.select(
        "event_type",
        F.row_number().over(sw).alias("rn"),
        F.count("*")
        .over(W.partitionBy("user_id", "session_seq"))
        .alias("n_in_sess"),
    )
    return (
        sess.where(F.col("rn") == 1)
        .groupBy(F.col("event_type").alias("entry_type"))
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("n_in_sess") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
            F.expr(
                "(sum(CASE WHEN n_in_sess = 1 THEN 1 ELSE 0 END)"
                " * CAST(2000000 AS BIGINT) + count(*)) div (2 * count(*))"
            )
            .cast("long")
            .alias("bounce_e6"),
        )
    )


# ---------------------------------------------------------------------------
# dd21: LSH band/row trade-off (the S-curve tuning report)
# ---------------------------------------------------------------------------

_DD21_CONFIGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows_per_band), 16 perms


def _dd21_oracle() -> str:
    toks = _DUCK_TOKENS.format(col=_DUCK_NORM.format(col="text"))
    perm_mins = ",\n               ".join(
        "list_min(list_transform(sh, s -> ('0x' || substr(md5('{i}:' || s), 1, 8))::BIGINT)) AS m{i}".format(i=i)
        for i in range(16)
    )
    blocks = [
        f"""corpus AS (
{_MINHASH_CORPUS_SQL}
    ), toksrc AS (
        SELECT doc_id, {toks} AS t FROM corpus
    ), shs AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                   THEN list_transform(generate_series(1, len(t) - 2),
                                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                   ELSE [] END) AS sh
        FROM toksrc
    ), sigs AS (
        SELECT doc_id,
               {perm_mins}
        FROM shs WHERE len(sh) > 0
    ), tt AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true_total
        FROM sigs a JOIN sigs b ON b.doc_id = a.doc_id + 2000000
    )"""
    ]
    rows = []
    for nb, r in _DD21_CONFIGS:
        band_sel = "\n        UNION ALL\n".join(
            "        SELECT doc_id, {b} AS band, md5({key}) AS bk FROM sigs".format(
                b=b,
                key=" || '|' || ".join(
                    f"m{b * r + j}::VARCHAR" for j in range(r)
                ),
            )
            for b in range(nb)
        )
        blocks.append(
            f"""bands{nb} AS (
{band_sel}
    ), cand{nb} AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands{nb} a
        JOIN bands{nb} b ON a.band = b.band AND a.bk = b.bk
                         AND a.doc_id < b.doc_id
    ), m{nb} AS (
        SELECT CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN id_b = id_a + 2000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_true_found
        FROM cand{nb}
    )"""
        )
        rows.append(
            f"""SELECT CAST({nb} AS BIGINT) AS bands,
           CAST({r} AS BIGINT) AS rows_per_band,
           n_candidates, n_true_found, n_true_total,
           CAST(CASE WHEN n_candidates > 0
                THEN (n_true_found * 20000 + n_candidates)
                     // (2 * n_candidates) ELSE 0 END AS BIGINT)
               AS precision_e4,
           CAST(CASE WHEN n_true_total > 0
                THEN (n_true_found * 20000 + n_true_total)
                     // (2 * n_true_total) ELSE 0 END AS BIGINT)
               AS recall_e4
    FROM m{nb}, tt"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + "\n    "
        + "\n    UNION ALL\n    ".join(rows)
    )


@q("dd21_lsh_band_tradeoff", _dd21_oracle())
def dd21_lsh_band_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve tuning report — bands x rows IS the dedup
    index's recall/cost dial, and this measures it on the corpus
    instead of trusting the 1-(1-J^r)^b formula: for (bands,
    rows_per_band) in (2,8)/(4,4)/(8,2) over the SAME 16-perm
    signatures, the candidate count, how many of the constructed
    near-dup twins (the dd19 pair set) were found, and precision /
    recall against that exact label set.  More bands with shorter rows
    = more candidates = higher recall, lower precision; this report
    says where the knee is for the corpus's actual similarity
    distribution.  Completes the dedup tuning suite (dd16 one-config
    precision / dd19 estimator calibration / dd20 shingle width / THIS
    — the banding dial).  Scale shape: signatures computed ONCE
    (map-side-combined min-hash agg), each config is a narrow
    band-projection union + an in-bucket self-join on (band, key) —
    the dd3 plan replayed 3x over vocabulary-free signature rows."""
    from martech_pipelines_spark.operators import dedup as DD
    from martech_pipelines_spark.operators.text import shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 5 == 0)
    near = base.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" zz yy xx")).alias("text"),
    )
    corpus = base.unionByName(near)
    sh = corpus.select("doc_id", shingles(F.col("text"), 3).alias("sh")).where(
        F.size("sh") > 0
    )
    tt = (
        sh.select(F.col("doc_id").alias("id_a"))
        .join(
            sh.select(F.col("doc_id").alias("id_b")),
            F.col("id_b") == F.col("id_a") + 2000000,
        )
        .agg(F.count("*").cast("long").alias("n_true_total"))
    )
    # Signatures are config-independent (num_perm/shingle_n fixed): hash
    # the corpus ONCE and replay only the banding per config — this is
    # what the docstring always promised; before round 12 the loop
    # recomputed the full explode+16-way-md5 signature pass per config
    # (3 heavy stages measured 5.6/3.2/3.0 s on 2 tasks at sf0.1).
    from pyspark import StorageLevel

    from martech_pipelines_spark import caching

    sigs = caching.register(
        DD.minhash_signatures(corpus, num_perm=16, shingle_n=3).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    out = None
    for nb, r in _DD21_CONFIGS:
        cand = DD.lsh_candidate_pairs(
            corpus, num_perm=16, bands=nb, shingle_n=3, signatures=sigs
        )
        m = cand.agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.sum(
                F.when(F.col("id_b") == F.col("id_a") + 2000000, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_true_found"),
        )
        row = m.crossJoin(F.broadcast(tt)).select(
            F.lit(nb).cast("long").alias("bands"),
            F.lit(r).cast("long").alias("rows_per_band"),
            "n_candidates",
            "n_true_found",
            "n_true_total",
            F.expr(
                "CASE WHEN n_candidates > 0 THEN"
                " (n_true_found * CAST(20000 AS BIGINT) + n_candidates)"
                " div (2 * n_candidates) ELSE 0 END"
            )
            .cast("long")
            .alias("precision_e4"),
            F.expr(
                "CASE WHEN n_true_total > 0 THEN"
                " (n_true_found * CAST(20000 AS BIGINT) + n_true_total)"
                " div (2 * n_true_total) ELSE 0 END"
            )
            .cast("long")
            .alias("recall_e4"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# mart27: A/B readout BY SEGMENT (the Simpson's-paradox check)
# ---------------------------------------------------------------------------

_M27_SEGS = 3
_M27_ASSIGN_SQL = (
    "('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 8))"
    "::BIGINT % 2"
)
_M27_SEG_SQL = (
    "('0x' || substr(md5('seg:' || CAST(user_id AS VARCHAR)), 1, 8))"
    f"::BIGINT % {_M27_SEGS}"
)

_MART27_ORACLE = f"""
    WITH state AS (
        SELECT user_id,
               {_M27_ASSIGN_SQL} AS variant,
               {_M27_SEG_SQL} AS segment,
               bool_or(event_type = 'purchase') AS converted
        FROM events GROUP BY 1, 2, 3
    )
    SELECT segment,
           CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
           CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
           CAST(sum(CASE WHEN variant = 0 AND converted THEN 1 ELSE 0 END)
                AS BIGINT) AS conv_c,
           CAST(sum(CASE WHEN variant = 1 AND converted THEN 1 ELSE 0 END)
                AS BIGINT) AS conv_t,
           CAST((sum(CASE WHEN variant = 0 AND converted THEN 1 ELSE 0 END)
                 * 2000000 + sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END))
                // (2 * sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END))
                AS BIGINT) AS rate_c_e6,
           CAST((sum(CASE WHEN variant = 1 AND converted THEN 1 ELSE 0 END)
                 * 2000000 + sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END))
                // (2 * sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END))
                AS BIGINT) AS rate_t_e6,
           CAST((sum(CASE WHEN variant = 1 AND converted THEN 1 ELSE 0 END)
                 * 2000000 + sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END))
                // (2 * sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END))
                - (sum(CASE WHEN variant = 0 AND converted THEN 1 ELSE 0 END)
                   * 2000000 + sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END))
                // (2 * sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END))
                AS BIGINT) AS lift_e6
    FROM state GROUP BY 1
"""


@q("mart27_ab_by_segment", _MART27_ORACLE)
def mart27_ab_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A/B readout SPLIT BY SEGMENT — the Simpson's-paradox check
    every experiment review runs after mart23's aggregate lift: a flat
    (or positive) overall number can hide opposite per-segment effects
    when arm mix differs across segments, and this grid is where that
    shows.  Segment = the same portable md5-bucket primitive as arm
    assignment under a different salt (in production: a user attribute
    join — the shape is identical, a pure key function).  Per segment:
    arm sizes, conversions, half-up e6 rates, and signed lift.  Scale
    shape: ONE user-keyed map-side-combined agg (variant and segment
    are key functions, so they ride the same shuffle), then a
    |segments|-row fold — the mart23 plan with a 3-row output."""
    from martech_pipelines_spark.operators.text import md5_bucket32

    ev = load_table(spark, sf_dir, "events")
    state = ev.groupBy("user_id").agg(
        F.max(F.col("event_type") == "purchase").alias("converted")
    )
    state = state.select(
        (md5_bucket32(F.col("user_id").cast("string"), "exp1") % 2).alias(
            "variant"
        ),
        (md5_bucket32(F.col("user_id").cast("string"), "seg") % _M27_SEGS).alias(
            "segment"
        ),
        "converted",
    )
    n_c = F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long")
    n_t = F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("long")
    conv_c = F.sum(
        F.when((F.col("variant") == 0) & F.col("converted"), 1).otherwise(0)
    ).cast("long")
    conv_t = F.sum(
        F.when((F.col("variant") == 1) & F.col("converted"), 1).otherwise(0)
    ).cast("long")
    rate_c = "(conv_c * CAST(2000000 AS BIGINT) + n_c) div (2 * n_c)"
    rate_t = "(conv_t * CAST(2000000 AS BIGINT) + n_t) div (2 * n_t)"
    return (
        state.groupBy("segment")
        .agg(
            n_c.alias("n_c"),
            n_t.alias("n_t"),
            conv_c.alias("conv_c"),
            conv_t.alias("conv_t"),
        )
        .select(
            "segment",
            "n_c",
            "n_t",
            "conv_c",
            "conv_t",
            F.expr(rate_c).cast("long").alias("rate_c_e6"),
            F.expr(rate_t).cast("long").alias("rate_t_e6"),
            F.expr(f"({rate_t}) - ({rate_c})").cast("long").alias("lift_e6"),
        )
    )


# ---------------------------------------------------------------------------
# t53: token burstiness (variance-to-mean of per-doc counts, top tokens)
# ---------------------------------------------------------------------------

_T53_TOP = 20

_T53_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, unnest({_DUCK_TOKENS.format(col='text')}) AS token
        FROM documents
    ), per_doc AS (
        SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ), stats AS (
        SELECT token,
               CAST(count(*) AS BIGINT) AS df,
               CAST(sum(c) AS BIGINT) AS cf,
               CAST(max(c) AS BIGINT) AS max_c,
               CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS HUGEINT)
                   AS ss
        FROM per_doc GROUP BY 1
    )
    SELECT token, df, cf, max_c,
           CAST(((CAST(df AS HUGEINT) * ss
                  - CAST(cf AS HUGEINT) * CAST(cf AS HUGEINT)) * 20000
                 + CAST(df AS HUGEINT) * CAST(cf AS HUGEINT))
                // (2 * CAST(df AS HUGEINT) * CAST(cf AS HUGEINT))
                AS BIGINT) AS vmr_e4
    FROM stats
    ORDER BY cf DESC, token ASC
    LIMIT {_T53_TOP}
"""


@q("t53_token_burstiness", _T53_ORACLE)
def t53_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness — the boilerplate detector word FREQUENCY
    alone misses: for the top-{top} tokens by collection frequency,
    the variance-to-mean ratio of per-document counts (Church & Gale's
    dispersion measure).  A function word appears everywhere at VMR
    near its mean; a template/boilerplate token appears in bursts
    (high VMR at the same frequency) — exactly the tokens n-gram
    dedup (dd8) and repetition filters (t9) should be pointed at.
    All-integer: per-doc counts are exact, VMR = (df·Σc² − (Σc)²) /
    (df·Σc) as a half-up e4 through DECIMAL(38)/HUGEINT intermediates
    (df·Σc² exceeds int64 on real corpora).  Deterministic LIMIT: the
    (cf DESC, token ASC) total order has no ties to break.  Scale
    shape: one explode into a (token, doc) map-side-combined count,
    one vocabulary-sized stats agg, TakeOrdered top-{top} — the t1
    plan with second moments."""
    from martech_pipelines_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    per_doc = tok.groupBy("token", "doc_id").agg(
        F.count("*").cast("long").alias("c")
    )
    d38 = "DECIMAL(38,0)"
    stats = per_doc.groupBy("token").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("c").cast("long").alias("cf"),
        F.max("c").cast("long").alias("max_c"),
        F.sum(F.expr(f"CAST(c AS {d38}) * CAST(c AS {d38})")).alias("__ss"),
    )
    return (
        stats.select(
            "token",
            "df",
            "cf",
            "max_c",
            F.expr(
                f"CAST(((CAST(df AS {d38}) * __ss"
                f" - CAST(cf AS {d38}) * CAST(cf AS {d38})) * 20000"
                f" + CAST(df AS {d38}) * CAST(cf AS {d38}))"
                f" div (2 * CAST(df AS {d38}) * CAST(cf AS {d38}))"
                " AS BIGINT)"
            ).alias("vmr_e4"),
        )
        .orderBy(F.desc("cf"), F.asc("token"))
        .limit(_T53_TOP)
    )


t53_token_burstiness.__doc__ = t53_token_burstiness.__doc__.format(top=_T53_TOP)
