"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference surface (north star, BASELINE.json): language ID,
quality scoring, token counting, and document fingerprinting over a
``documents(doc_id, text, lang, source, n_chars)`` corpus. All native
Column expressions / built-in SQL functions — these run inside whole-stage
codegen and scale linearly with executors; there is no Python in the loop.

Determinism note: everything here must be oracle-expressible, so hashes
are md5-based (identical in Spark and DuckDB) rather than Spark-specific
murmur3/xxhash.

Incremental capabilities (one ``state`` / ``merge`` / ``readout`` each;
the section comment above each states its contract once): the batch
query is ``readout(state(all))``, and its ``h*`` twin and the streaming
fold in ``streaming/stream.py`` call the same functions.  Here: feature
hashing and the per-source completeness matrix.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tokenizer: runs of letters/digits/apostrophes — a BPE-ish word splitter
# that both Spark and ANSI SQL can express (lower + regexp split).
TOKEN_SPLIT_RE = "[^a-z0-9']+"


def md5_bucket32(col: Column, salt: Column | str | int) -> Column:
    """First 8 md5 hex chars of ``salt:value`` as an unsigned-ish 32-bit
    long — the engine's ONE portable hash primitive (Spark ``conv`` ==
    DuckDB ``('0x'||substr(md5(x),1,8))::BIGINT``). MinHash permutations,
    SimHash token hashes, and deterministic sampling all derive from this
    single definition so a change to the idiom can't diverge them."""
    salted = F.concat(
        F.lit(str(salt)) if not isinstance(salt, Column) else salt, F.lit(":"), col
    )
    return F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long")


def tokens(col: Column) -> Column:
    """Lowercased word tokens as an array column (empty strings removed)."""
    arr = F.split(F.lower(col), TOKEN_SPLIT_RE)
    return F.filter(arr, lambda t: t != "")


def token_count(col: Column) -> Column:
    """Whitespace/punctuation token count — the scale-stable proxy for a
    BPE tokenizer's length (exact BPE needs a vocab; see note in README)."""
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(col)


def word_count_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Classic distributed word count: explode + groupBy. Partial
    aggregation (map-side combine) keeps the shuffle proportional to the
    vocabulary, not the corpus."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


# --- language ID (n-gram / stopword heuristic) -------------------------------

# Tiny per-language stopword marker sets. A real pipeline ships a proper
# model; the heuristic's *shape* (score per language via marker hits,
# argmax) is what matters for the engine: it is one pass, no shuffle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over the token array."""
    toks = tokens(col)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        hits = F.filter(toks, lambda t: t.isin(*markers))  # noqa: B023
        out[f"score_{lang}"] = F.size(hits).cast("long")
    return out


def lang_id(col: Column, default: str = "und") -> Column:
    """Argmax language with deterministic tie-break (alphabetical language
    order via greatest-first fold); all-zero scores -> ``default``."""
    scores = lang_scores(col)
    best_lang = F.lit(default)
    best_score = F.lit(0)
    # Iterate in ascending alphabetical order: the first-processed tied
    # language installs itself as best, and the strict '>' means later tied
    # languages cannot displace it — so the alphabetically-first tied
    # language wins, matching the oracle's de->en->es->fr CASE order.
    for lang in sorted(LANG_MARKERS):
        s = scores[f"score_{lang}"]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


# --- quality scoring ---------------------------------------------------------

STOPWORDS_EN = (
    "the and of to a in is it you that he was for on are as with his they i".split()
)


def quality_features(col: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features (the standard cheap
    quality filters in LLM data pipelines), all rounded for oracle
    stability."""
    toks = tokens(col)
    n_tok = F.size(toks)
    n_char = F.length(col)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    n_punct = n_char - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    mean_tok_len = F.when(
        n_tok > 0,
        F.round(
            F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, t: a + t)
            / n_tok,
            4,
        ),
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_char.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "stopword_ratio": F.when(n_tok > 0, F.round(stop_hits / n_tok, 4)).otherwise(
            F.lit(0.0)
        ),
        "punct_ratio": F.when(n_char > 0, F.round(n_punct / n_char, 4)).otherwise(
            F.lit(0.0)
        ),
        "mean_token_len": mean_tok_len,
    }


def quality_score(col: Column) -> Column:
    """Composite 0..1 quality score from the features: penalize very short
    docs, punctuation soup, and stopword-free (likely non-prose) text."""
    f = quality_features(col)
    len_ok = F.least(f["n_tokens"] / F.lit(20.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(f["punct_ratio"] * 5, F.lit(1.0))
    stop_ok = F.least(f["stopword_ratio"] * 4, F.lit(1.0))
    return F.round((len_ok + punct_ok + stop_ok) / 3, 4)


# --- PII redaction -----------------------------------------------------------

# Engine-portable regexes (same dialect subset in Java regex and RE2):
# case-insensitive emails ((?i) inline flag works in both) and standalone
# 10-digit phone numbers.
PII_EMAIL_RE = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\b[0-9]{10}\b"


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-doc counts of email / phone matches (the audit side of
    redaction — LLM pipelines log these before dropping or masking)."""
    return {
        "n_emails": F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL_RE), F.lit(0))).cast("long"),
        "n_phones": F.size(F.regexp_extract_all(col, F.lit(PII_PHONE_RE), F.lit(0))).cast("long"),
    }


def redact_pii(col: Column, mask: str = "[PII]") -> Column:
    """Replace email/phone spans with ``mask``, preserving all other text
    verbatim — matching is case-insensitive via the inline (?i) flag, NOT
    by lowercasing the document (which would destroy casing corpus-wide).
    Emails first so the phone regex can't split an address's digits.
    Pure regexp_replace — codegen, no Python."""
    out = F.regexp_replace(col, PII_EMAIL_RE, mask)
    return F.regexp_replace(out, PII_PHONE_RE, mask)


# --- repetition scoring ------------------------------------------------------


def bigrams(col: Column) -> Column:
    """All word bigrams (NOT distinct — repetition needs multiplicity),
    built from two shifted slices zipped together (see ``shingles`` for why
    per-index element_at is the wrong form)."""
    toks = tokens(col)
    k = F.greatest(F.size(toks) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(toks, 1, k), F.slice(toks, 2, k))
    return F.transform(zipped, lambda s: F.concat_ws(" ", s["0"], s["1"]))


def repetition_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc repetition ratio: top-bigram count / total bigrams — the
    standard repeated-n-gram quality filter in LLM data pipelines (docs
    with a dominant bigram are boilerplate/spam). Two keyed aggregations,
    both with map-side combine; docs with <2 tokens drop out (no bigrams).

    Why this form is the one kept: a shuffle-free per-row form (sort the
    bigram array, fold the longest equal run) ran 2.0x slower in an
    interleaved same-session A/B at sf0.1 on 4 cores (t9 2.02 s vs
    4.11 s median, 6/6 rounds, identical rows): it runs in the scan's
    partitions, and the sf0.1 corpus is one parquet file, so the fold
    ran on one core while the keyed aggregations spread over the
    shuffle partitions.
    """
    grams = docs.select(
        F.col(id_col), F.explode(bigrams(F.col(text_col))).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    return per_gram.groupBy(id_col).agg(
        F.sum("cnt").alias("n_bigrams"),
        F.round(F.max("cnt") / F.sum("cnt"), 4).alias("rep_ratio"),
    )


# --- sequence packing --------------------------------------------------------


def sequence_pack(
    docs: DataFrame,
    budget: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
    count_col: str | None = None,
) -> DataFrame:
    """Offset-based sequence packing: assign each doc to a fixed
    token-budget pack by its cumulative start offset within its
    ``part_col`` partition (ordered by id). This is the relational form of
    training-batch packing — pack boundaries are deterministic, and the
    window partitions by source so the cumulative sum never needs a
    global single-partition sort (the scale trap of naive packing).

    ``count_col`` overrides the whitespace-token proxy with a
    precomputed per-doc length column (e.g. ``n_bpe_tokens`` from
    ``bpe_encode`` — the pipe6 composition packs on REAL tokenizer
    lengths).

    Output: one row per (partition, pack) with doc count + token total."""
    from pyspark.sql import Window

    toks = (
        F.col(count_col) if count_col is not None else token_count(F.col(text_col))
    )
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.select(
        F.col(part_col),
        F.col(id_col),
        toks.alias("n_tok"),
        F.floor((F.sum(toks).over(w) - toks) / F.lit(budget)).alias("pack_id"),
    )
    return packed.groupBy(part_col, "pack_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("total_tokens")
    )


def chunk_spans(
    docs: DataFrame,
    chunk_chars: int = 200,
    stride: int = 150,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style overlapping chunking: fixed-size character windows every
    ``stride`` chars (overlap = chunk_chars - stride). One sequence+explode
    per row — output volume is len/stride rows per doc, no shuffle. Chunks
    identified by (doc, chunk_id) with md5 content fingerprints so a
    downstream index can dedupe re-chunked docs."""
    n = F.length(F.col(text_col))
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride)))
    exploded = docs.select(
        F.col(id_col), F.col(text_col), F.explode(starts).alias("s")
    )
    chunk = F.substring(F.col(text_col), F.col("s") + 1, chunk_chars)
    return exploded.select(
        id_col,
        (F.col("s") / stride).cast("long").alias("chunk_id"),
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


def deterministic_sample(
    docs: DataFrame,
    pct: int = 25,
    strat_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stratified deterministic sampling: keep a row iff the md5 of
    (stratum, id) lands under ``pct``%. Unlike ``df.sample`` this is
    reproducible across runs, engines, partitionings, and cluster sizes —
    the property training-data splits need so train/eval membership never
    drifts. Pure codegen filter; pushdown-friendly."""
    bucket = md5_bucket32(F.col(id_col).cast("string"), F.col(strat_col)) % 100
    return docs.where(bucket < pct)


# --- fingerprinting ----------------------------------------------------------


def normalized_text(col: Column) -> Column:
    """Dedup-normalization: lowercase, collapse whitespace, strip
    non-alphanumerics — the canonical form exact-dedup hashes."""
    t = F.lower(col)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of normalized text (md5 = oracle-portable;
    a production engine could switch to xxhash64 for speed — same plan)."""
    return F.md5(normalized_text(col))


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct), the MinHash input unit.

    Built from ``n`` shifted slices zipped together — NOT per-index
    ``element_at`` inside a lambda, which would re-evaluate the whole
    tokenize subtree per shingle (Catalyst does no CSE inside lambda
    bodies). This form tokenizes a constant ~n+1 times per row."""
    toks = tokens(normalized_text(col))
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))  # shingle count
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, k) for j in range(n)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )
    return F.array_distinct(grams)


# --- Gopher-style rule filters -----------------------------------------------

# Defaults follow the published Gopher rules (Rae et al. 2021, "Scaling
# Language Models", App. A1.1): 50..100k words, mean word length 3..10,
# symbol-to-word ratio <= 0.1, >=80% words with an alphabetic char, >=2
# stop-word hits. Line-level rules (bullet/ellipsis line fractions) are
# omitted: the synthetic corpus is single-line (documented in FIXTURES.md)
# and they would be degenerate — the token-level rules carry the signal.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags(
    col: Column,
    *,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> dict[str, Column]:
    """Per-rule boolean columns for the Gopher quality filter, plus the
    conjunction ``keep``. One narrow projection per document — every rule
    is a token-array expression inside whole-stage codegen, so the filter
    adds no shuffle and scales linearly with executors."""
    toks = tokens(col)
    n_tok = F.size(toks)
    mean_len = F.when(
        n_tok > 0,
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, t: a + t)
        / n_tok,
    ).otherwise(F.lit(0.0))
    # Gopher counts '#' and '...' occurrences relative to word count.
    n_symbols = F.size(F.split(col, "#", -1)) - 1 + (
        F.size(F.split(col, r"\.\.\.", -1)) - 1
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*GOPHER_STOPWORDS)))
    flags = {
        "ok_n_tokens": (n_tok >= min_tokens) & (n_tok <= max_tokens),
        "ok_mean_len": (mean_len >= min_mean_token_len)
        & (mean_len <= max_mean_token_len),
        "ok_symbol_ratio": F.when(
            n_tok > 0, n_symbols / n_tok <= max_symbol_ratio
        ).otherwise(F.lit(False)),
        "ok_alpha_words": F.when(
            n_tok > 0, n_alpha / n_tok >= min_alpha_word_ratio
        ).otherwise(F.lit(False)),
        "ok_stopwords": n_stop >= min_stop_hits,
    }
    keep = F.lit(True)
    for c in flags.values():
        keep = keep & c
    flags["keep"] = keep
    return flags


# --- exact-substring window dedup --------------------------------------------


def window_hashes(col: Column, w: int = 8) -> Column:
    """md5 of every ``w``-token sliding window (with its start offset kept
    by position) — the exact-substring dedup unit from Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"), which
    uses a suffix array on one machine; the distributed equivalent is
    hash-per-window + shuffle on the hash. Returns an array (one element
    per window start); docs shorter than ``w`` tokens get an empty array.

    Built from ``w`` shifted slices zipped together (the ``shingles``
    idiom) — NOT ``slice(toks, i, w)`` inside a per-index lambda, which
    re-evaluates the whole normalize+tokenize subtree once PER WINDOW
    (Catalyst does no CSE inside lambda bodies; that form benched 10x
    slower at sf0.1). Even the zipped form inlines the tokenize subtree
    ~w+1 times; DataFrame operators should tokenize ONCE in a projection
    and call ``window_hashes_from_tokens`` on the attribute (measured 5x
    on dd8: Catalyst keeps the projection boundary because the reference
    is non-cheap and multiply used). This Column form is for one-shot
    expression contexts."""
    return window_hashes_from_tokens(tokens(normalized_text(col)), w)


def window_hashes_from_tokens(tok: Column, w: int = 8) -> Column:
    """``window_hashes`` over an ALREADY-TOKENIZED array column (ideally a
    plain attribute from a projection, so the w slice references are
    cheap). Needs no sequence() — which descends for empty docs."""
    k = F.greatest(F.size(tok) - (w - 1), F.lit(0))  # window count
    zipped = F.arrays_zip(*[F.slice(tok, j + 1, k) for j in range(w)])
    return F.transform(
        zipped, lambda s: F.md5(F.concat_ws(" ", *[s[str(j)] for j in range(w)]))
    )


def _window_table(
    docs: DataFrame, w: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, window-hash) rows via a two-step select: tokenize ONCE into a
    projection attribute, then hash windows from it — the 5x-measured
    form (see ``window_hashes``)."""
    toks_df = docs.select(
        F.col(id_col), tokens(normalized_text(F.col(text_col))).alias("__tk")
    )
    return toks_df.select(
        F.col(id_col),
        F.explode(window_hashes_from_tokens(F.col("__tk"), w)).alias("h"),
    )


def substring_dup_stats(
    docs: DataFrame,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc duplicated-span statistics: how many of a doc's w-token
    windows also appear in ANOTHER doc. Output: (doc_id, n_windows,
    n_dup_windows, dup_ratio).

    Scale shape: SINGLE lineage — explode, one groupBy (doc, hash) with
    map-side combine, a count-over-window partitioned by hash for the
    cross-doc test, then the per-doc rollup. No self-join of the window
    table and no broadcast of a dup-hash set (which at corpus scale is NOT
    small — a join-back formulation re-executed the explode three times
    and shipped that set to every executor). Three shuffles total, each on
    the already-collapsed (doc, hash) table, which is the minimum for
    hash-partitioned cross-doc counting.

    Why this form is the one kept: the alternative persisted the
    (doc, hash) table and joined map-side-combined per-hash doc counts
    back, so that AQE's skew-join split could handle a boilerplate hash.
    In an interleaved same-session A/B on 4 cores it lost at sf0.1 (dd8
    2.11 vs 2.33 s median, 0/6 rounds won; pipe2 5.42 vs 5.80 s, 2/6) and
    on a planted hot window (25,000 short docs sharing one 8-token header,
    20% of the (doc, hash) rows: 2.12 vs 2.86 s, 0/4), with identical
    rows on every input."""
    from pyspark.sql import Window

    win = _window_table(docs, w, text_col, id_col)
    # windows per (doc, hash) — collapses within-doc repeats before the
    # cross-doc count so a doc repeating its own phrase is not a "dup"
    per_doc_hash = win.groupBy(id_col, "h").agg(F.count("*").alias("cnt"))
    flagged = per_doc_hash.withColumn(
        "n_docs", F.count("*").over(Window.partitionBy("h"))
    )
    agg = flagged.groupBy(id_col).agg(
        F.sum("cnt").cast("long").alias("n_windows"),
        F.sum(F.when(F.col("n_docs") >= 2, F.col("cnt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_dup_windows"),
    )
    return agg.select(
        F.col(id_col),
        "n_windows",
        "n_dup_windows",
        F.round(F.col("n_dup_windows") / F.col("n_windows"), 4).alias("dup_ratio"),
    )


# --- URL / domain analysis ---------------------------------------------------

URL_RE = r"https?://[^\s]+"
URL_DOMAIN_RE = r"https?://([^/\s]+)"


def url_features(col: Column, blocklist: tuple[str, ...] = ()) -> dict[str, Column]:
    """URL extraction + domain blocklist verdict (the C4/RefinedWeb
    source-level filter): count of URLs, sorted-distinct domain list
    (comma-joined — scalar, oracle-hashable), and whether any domain is
    blocklisted. Pure regexp + array expressions, codegen, no shuffle."""
    domains = F.regexp_extract_all(col, F.lit(URL_DOMAIN_RE), 1)
    uniq = F.array_sort(F.array_distinct(domains))
    out = {
        "n_urls": F.size(F.regexp_extract_all(col, F.lit(URL_RE), 0)).cast("long"),
        "domains": F.array_join(uniq, ","),
    }
    if blocklist:
        out["blocked"] = F.arrays_overlap(
            uniq, F.array(*[F.lit(d) for d in blocklist])
        )
    return out


# --- n-gram LM quality scoring (CCNet-style) ---------------------------------


def ngram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> DataFrame:
    """Corpus-self bigram-LM scoring — the CCNet quality signal (Wenzek et
    al. 2020 rank documents by LM perplexity; docs far from the corpus
    distribution are noise/boilerplate/other-language). No external model:
    the LM is add-k-smoothed bigram/unigram counts over the corpus itself,
    so the whole thing is joins + aggregations and stays oracle-checkable.

    score(doc) = avg over doc bigrams (w1,w2), weighted by multiplicity,
    of -ln( (c(w1,w2)+k) / (c(w1)+k*V) ), V = unigram vocabulary size.
    Lower = more typical. Docs with <2 tokens get (0, null).

    Plan shape (all shuffles are key-bounded, all aggs map-side combined):
    ONE bigram explode feeds a per-(doc,bigram) count — this both
    collapses repeated bigrams before the LM join (join volume = distinct
    pairs, not token positions) AND supplies the corpus bigram counts as
    a second-level rollup of the same table (no second explode, and the
    rollup shuffles pre-aggregated rows). The per-doc table is persisted
    (registered with ``caching``) because score and rollup both read it.
    V rides along as a broadcast 1-row cross join (the q15 scalar
    pattern). At 100 TB the LM aggs are the classic word-count shape and
    the bigram join is a plain shuffle join on a well-distributed key."""
    from pyspark.storagelevel import StorageLevel

    from martech_pipelines_spark import caching

    toks = docs.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    vocab = uni.agg(F.count("*").alias("v"))
    grams = toks.select("id", F.explode(bigrams_from_tokens(F.col("t"))).alias("bg"))
    doc_bg = caching.register(
        grams.groupBy("id", "bg")
        .agg(F.count("*").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    big = doc_bg.groupBy("bg").agg(F.sum("n").alias("c12"))
    lm = big.withColumn("w1", F.split("bg", " ")[0]).join(uni, "w1")
    k = F.lit(float(add_k))
    scored = (
        doc_bg.join(lm.select("bg", "c12", "c1"), "bg")
        .crossJoin(F.broadcast(vocab))
        .groupBy("id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("n")
                    * -F.log((F.col("c12") + k) / (F.col("c1") + k * F.col("v")))
                )
                / F.sum("n"),
                4,
            ).alias("avg_nll"),
        )
    )
    return (
        docs.select(F.col(id_col))
        .join(scored.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            "avg_nll",
        )
    )


def bigrams_from_tokens(toks: Column) -> Column:
    """`bigrams` over an already-tokenized array column (tokenize-once
    callers: ngram_lm_scores shares one tokens() projection across the
    unigram and bigram branches)."""
    k = F.greatest(F.size(toks) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(toks, 1, k), F.slice(toks, 2, k))
    return F.transform(zipped, lambda s: F.concat_ws(" ", s["0"], s["1"]))


# --- DSIR-style hashed-n-gram importance weights -----------------------------


def dsir_importance(
    docs: DataFrame,
    target_source: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int = 256,
    add_k: float = 0.5,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023) on
    hashed unigram features: estimate target vs raw feature distributions
    over md5-hash buckets, then weight every RAW doc by its average
    log-likelihood ratio  avg_f[ ln p_target(f) - ln p_raw(f) ].

    Docs scoring high look like the target domain — the standard
    cheap-classifier alternative for domain upsampling. Hash-bucketing
    (n_buckets) is what makes this 100-TB-shaped: both feature
    distributions are fixed-width (n_buckets rows), broadcastable, and
    engine-portable via the shared md5 bucket arithmetic; no vocabulary
    blow-up. Raw docs = every source except the target. Token-less raw
    docs get (0, null).

    Plan: one explode -> bucket projection; ONE conditional aggregation
    produces both bucket distributions (a bucket unseen in the target
    still smooths against the target total — add-k is consistent because
    the two counts share rows); score = explode(raw docs) -> broadcast
    join on bucket -> per-doc agg."""
    is_target = F.col(source_col) == F.lit(target_source)
    feats = docs.select(
        F.col(id_col).alias("id"),
        is_target.alias("is_t"),
        F.explode(tokens(F.col(text_col))).alias("w"),
    ).withColumn("f", md5_bucket32(F.col("w"), "dsir") % n_buckets)
    k = F.lit(float(add_k))
    nb = F.lit(int(n_buckets))
    t_flag = F.col("is_t").cast("long")
    counts = feats.groupBy("f").agg(
        F.sum(t_flag).alias("ct"), F.sum(1 - t_flag).alias("cr")
    )
    totals = feats.agg(
        F.sum(t_flag).alias("tot_t"), F.sum(1 - t_flag).alias("tot_r")
    )
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "f",
        (
            F.log((F.col("ct") + k) / (F.col("tot_t") + k * nb))
            - F.log((F.col("cr") + k) / (F.col("tot_r") + k * nb))
        ).alias("llr"),
    )
    scored = (
        feats.where(~F.col("is_t"))
        .join(F.broadcast(ratio), "f")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.round(F.avg("llr"), 4).alias("importance"),
        )
    )
    return (
        docs.where(~is_target)
        .select(F.col(id_col))
        .join(scored.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            "importance",
        )
    )


# --- BPE merge learning (tokenizer induction) --------------------------------


def _bpe_merge_expr(sym: Column, left: str, right: str) -> Column:
    """Greedy left-to-right replacement of adjacent (left, right) symbol
    pairs with their concatenation — reference BPE merge application
    (Sennrich et al. 2016), as a pure fold expression (no UDF). The
    accumulator carries the last unmerged symbol; overlapping runs merge
    leftmost-first (aaa + merge(a,a) -> [aa, a])."""
    merged = left + right

    def step(acc: Column, s: Column) -> Column:
        return F.when(
            (acc["pend"] == F.lit(left)) & (s == F.lit(right)),
            F.struct(
                F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                F.lit("").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["pend"] == "", acc["out"])
                .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
                .alias("out"),
                s.alias("pend"),
            )
        )

    return F.aggregate(
        sym,
        F.struct(
            F.array().cast("array<string>").alias("out"), F.lit("").alias("pend")
        ),
        step,
        lambda acc: F.when(acc["pend"] == "", acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        ),
    )


_BPE_MAX_MERGES = 4096


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Learn a BPE merge table from the corpus (Sennrich et al. 2016) —
    the tokenizer-induction loop t14 computes one round of, run to
    ``n_merges`` rounds. Returns (rank, left, right, pair_count), rank in
    merge order; ties broken (count desc, left asc, right asc) so the
    table is deterministic.

    Scale shape: BPE trains on the WORD FREQUENCY table, not the corpus —
    one corpus-sized shuffle builds (word, cnt), and every round after
    that is a vocab-sized job: adjacent-pair explode weighted by cnt,
    one keyed agg, a 1-row collect of the argmax (legitimate control-
    plane collect), and a fold-expression merge apply. ``localCheckpoint``
    per round truncates the growing lineage (same driver-loop pattern as
    ``dedup.dup_clusters``).

    COST MODEL — read before raising ``n_merges``: this is inherently
    iterative, and each merge round launches ONE Spark job over the
    vocabulary-sized word table (driver wall-clock ~= n_merges x
    per-round job latency, independent of corpus size after the first
    shuffle). A production 32k-vocab run is 32k sequential vocab-sized
    jobs — fine on a warm cluster, but not something to trigger by
    accident; requests beyond ``_BPE_MAX_MERGES`` (4096) raise up front
    (the same explicit-failure posture as ``dedup.dup_clusters``'s
    iteration cap). The loop also stops early when no pair occurs twice
    (nothing left to merge), so sparse corpora converge well before the
    budget."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    if n_merges > _BPE_MAX_MERGES:
        raise ValueError(
            f"n_merges={n_merges} exceeds the merge budget "
            f"({_BPE_MAX_MERGES}): each merge is one sequential "
            "vocab-sized Spark job — raise _BPE_MAX_MERGES deliberately "
            "if you really want a larger vocabulary"
        )
    spark = docs.sparkSession
    # Round-12 (guide §1.2): checkpoints are LAZY (eager=False) — each
    # round's argmax collect materializes the previous round's
    # checkpoint as part of its own job, halving the per-round Spark-job
    # count (2 jobs/round -> 1; job latency, not data volume, dominates
    # this vocab-sized driver loop).  The vocab stays on the word-count
    # shuffle's own partitioning — it is a few hundred rows here and AQE
    # sizes it; forcing it wider was measured slower (32 near-empty
    # tasks per round).
    words = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(F.split("w", "").alias("sym"), "cnt")
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        k = F.greatest(F.size("sym") - 1, F.lit(0))
        zipped = F.arrays_zip(F.slice("sym", 1, k), F.slice("sym", 2, k))
        pairs = (
            words.select(F.explode(zipped).alias("p"), "cnt")
            .select(F.col("p.0").alias("left"), F.col("p.1").alias("right"), "cnt")
            .groupBy("left", "right")
            .agg(F.sum("cnt").alias("pair_count"))
        )
        top = (
            pairs.orderBy(
                F.desc("pair_count"), F.asc("left"), F.asc("right")
            )
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < 2:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
        merges.append((rank, left, right, cnt))
        words = words.withColumn(
            "sym", _bpe_merge_expr(F.col("sym"), left, right)
        ).localCheckpoint(eager=False)
    # Literal-array construction instead of createDataFrame(local rows):
    # parallelizing python rows runs one pickled-RDD task per default
    # partition, each spinning a Python worker (measured: a 5.9 s
    # 32-task stage for EIGHT rows).  The explode of a literal struct
    # array is pure JVM, one task, no Python boundary (guide §4.1).
    if not merges:
        return spark.createDataFrame(
            [], "rank int, left string, right string, pair_count long"
        )
    structs = [
        F.struct(
            F.lit(r).cast("int").alias("rank"),
            F.lit(lf).alias("left"),
            F.lit(rt).alias("right"),
            F.lit(cnt).cast("long").alias("pair_count"),
        )
        for r, lf, rt, cnt in merges
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("__m"))
        .select("__m.rank", "__m.left", "__m.right", "__m.pair_count")
    )


# --- paragraph segmentation (CCNet-style unit for paragraph dedup) -----------


def paragraph_chunks(tok: Column, k: int = 10) -> Column:
    """Array of "paragraph" strings — consecutive ``k``-token chunks of an
    ALREADY-TOKENIZED array attribute (the corpus is single-line, so the
    dedup unit is a fixed token window rather than a newline split; on a
    real multi-line corpus swap this for ``split(text, '\\n')``).

    ``tok`` must be a plain projection attribute (the dd8 lesson:
    Catalyst inlines non-trivial expression trees into every lambda
    reference, re-running the tokenizer per chunk otherwise). The
    ``when`` guard keeps ``sequence()`` from descending on empty docs."""
    if k <= 0:
        raise ValueError(f"paragraph chunk size must be positive, got {k}")
    n_par = F.floor((F.size(tok) + (k - 1)) / k).cast("int")
    idx = F.when(n_par > 0, F.sequence(F.lit(0), n_par - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(tok, i * k + 1, k), " "))


# --- BM25 ranked retrieval ---------------------------------------------------


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval for a fixed query-term set: classic
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` (Robertson/
    Sparck Jones), summed over query terms, top-``k`` docs.

    Scale shape: the postings explode is filtered to the query terms
    BEFORE any shuffle (term IN-list pushed into the explode filter), so
    the keyed agg sees |terms|-sized postings, not the full corpus
    vocabulary. df and the corpus stats are tiny aggregates broadcast
    back; ranking is rounded-then-tiebroken so it is deterministic.
    avgdl is computed as exact-int sum / count, divided once — the same
    double in any engine and summation order."""
    term_arr = F.array(*[F.lit(t) for t in terms])
    toks_df = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__tk")
    ).select(
        id_col,
        F.size("__tk").alias("dl"),
        # keep only query-term occurrences BEFORE the explode: Generate
        # emits |hits| rows instead of |tokens| (~10x fewer here; at a
        # real vocabulary it's the difference between postings-for-3-terms
        # and the whole corpus token stream)
        F.filter("__tk", lambda t: F.array_contains(term_arr, t)).alias("__ft"),
    )
    stats = toks_df.agg(
        F.sum("dl").alias("sum_dl"),
        F.count("*").alias("n_docs"),
    )
    tf = (
        toks_df.select(F.col(id_col), "dl", F.explode("__ft").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count_distinct(id_col).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            "term",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (
                        1.0
                        - b
                        + b
                        * F.col("dl")
                        / (F.col("sum_dl").cast("double") / F.col("n_docs"))
                    )
                )
            ).alias("term_score"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.round(F.sum("term_score"), 4).alias("bm25"),
        F.count("*").cast("long").alias("n_terms_hit"),
    )
    top = agg.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


# --- deterministic weighted sampling (A-Res) ---------------------------------


def weighted_sample_topk(
    docs: DataFrame,
    weight_col: str,
    k: int = 50,
    salt: str = "wsample",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling without replacement, deterministic: A-Res
    (Efraimidis-Spirakis) with the uniform drawn from the engine's md5
    primitive instead of an RNG — key = -ln(u)/w, keep the k smallest.
    Reproducible across runs, partitionings, and engines, which is what
    makes it usable for training-data subset selection (membership must
    not drift between pipeline runs).

    Scale shape: the key is a codegen projection; top-k is
    ``orderBy().limit(k)`` = TakeOrdered (per-partition partial top-k,
    driver merge of k·P candidates) — no global sort, no single-partition
    window over the corpus. The rank window runs on k rows only.

    Zero/negative/null weights are EXCLUDED before keying: their A-Res
    key is undefined (division by w), and Spark's ascending sort puts
    the resulting nulls FIRST — an unguarded zero-weight row would win
    every sample."""
    docs = docs.where(F.col(weight_col) > 0)
    u = (md5_bucket32(F.col(id_col).cast("string"), salt) + 1.0) / (2.0**32 + 1.0)
    key = -F.log(u) / F.col(weight_col)
    keyed = docs.select(
        F.col(id_col),
        F.col(weight_col).alias("weight"),
        key.alias("__key"),
    )
    top = keyed.orderBy(F.asc("__key"), F.asc(id_col)).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.asc("__key"), F.asc(id_col))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("int"))
        .select(id_col, "weight", "rnk")
    )


# --- length-bucketed batching (training batch assembly) ----------------------


def length_bucket_batches(
    docs: DataFrame,
    batch_size: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed batch assembly: docs bucketed by floor(log2(token
    count)) so each training batch pads to at most 2x its shortest member,
    then deterministic batch ids within each bucket. The power-of-two
    bucket comes from ``length(bin(n))-1`` — pure integer arithmetic, no
    float log2 boundary risk in either engine.

    Scale shape: one window per bucket (shuffle keyed on ~10 buckets —
    salt into (bucket, shard) with a second shard-offset pass if a single
    bucket outgrows an executor at the full 100-TB corpus)."""
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    bucket = (F.length(F.bin(F.col("n_tokens"))) - 1).cast("int")
    w = Window.partitionBy("bucket").orderBy(F.asc(id_col))
    return (
        base.withColumn("bucket", bucket)
        .withColumn(
            "batch_idx",
            F.floor((F.row_number().over(w) - 1) / batch_size).cast("long"),
        )
    )


def bm25_build_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Stage 1 of the materialized inverted index: tokenize the corpus
    ONCE and persist three tables under ``path`` —

    - ``postings/``: (term, doc_id, tf, dl), written PARTITIONED BY term
      so a query's term IN-list becomes static partition pruning (the
      s2c/dd3c two-stage pattern applied to text retrieval);
    - ``stats/``: 1 row (sum_dl, n_docs) for exact avgdl.

    df per term is NOT materialized: it derives from the pruned postings
    at query time (count of docs per surviving partition), so the index
    has no term-global table to keep consistent under appends.

    Layout parity with the streaming ingest: the batch build writes
    under ``postings/batch_id=-1/term=X`` and ``stats/batch_id=-1``
    (mirroring ``minhash_build_index``'s ``signatures/batch_id=-1``), so
    ``streaming.streaming_postings_ingest`` — which appends
    ``batch_id=N`` directories — can grow a batch-built index without
    creating conflicting partition-directory depths that Spark's
    partition discovery rejects.

    At 100 TB the postings table is the corpus reorganized by term —
    the one-time cost every search engine pays; after that, queries cost
    |query terms| partitions, not a corpus scan."""
    # A BUILD is full-overwrite semantics for the whole index: purge any
    # stream-appended batch_id=N siblings first — overwriting only the
    # batch_id=-1 directory would leave stale stream batches whose
    # postings/stats double-count re-ingested docs in every later query.
    import shutil as _sh

    for sub in ("postings", "stats"):
        _sh.rmtree(f"{path}/{sub}", ignore_errors=True)

    toks_df = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__tk")
    ).select(id_col, "__tk", F.size("__tk").alias("dl"))
    postings = (
        toks_df.select(F.col(id_col), "dl", F.explode("__tk").alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count("*").alias("tf"))
    )
    # batch_id=-1 marks the initial build; streaming ingest appends its
    # own batch_id=N siblings under the same root.
    postings.write.mode("overwrite").partitionBy("term").parquet(
        f"{path}/postings/batch_id=-1"
    )
    toks_df.agg(
        F.sum("dl").alias("sum_dl"), F.count("*").alias("n_docs")
    ).write.mode("overwrite").parquet(f"{path}/stats/batch_id=-1")


def bm25_compact_index(spark, path: str) -> None:
    """Nightly compaction of a stream-maintained BM25 index
    (``compact_batch_dirs``'s swap protocol): postings batches fold into
    one term-partitioned ``batch_id=-1`` (the probe's IN-list partition
    pruning is unchanged — term stays the inner partition key) and the
    per-batch stats rows fold to their one-row sum.  Query answers are
    invariant at every crash point: ``bm25_query_index`` already sums
    stats across rows and treats batch_id as inert, so postings-swapped/
    stats-pending mixes score identically (pytest-pinned)."""
    from martech_pipelines_spark.operators.sinks import compact_batch_dirs

    compact_batch_dirs(
        spark, f"{path}/postings", partition_by=("term",)
    )
    compact_batch_dirs(
        spark,
        f"{path}/stats",
        merge=lambda df: df.agg(
            F.sum("sum_dl").alias("sum_dl"),
            F.sum("n_docs").alias("n_docs"),
        ),
    )


def bm25_query_index(
    spark,
    path: str,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Stage 2: BM25 top-k reading ONLY the materialized index — the raw
    corpus is not an input. The literal term IN-list prunes the postings
    scan to |terms| partitions (PartitionFilters, plan-asserted); df
    comes from the pruned postings; scoring and ranking are identical to
    the inline ``bm25_topk`` (bit-equal results, shared oracle)."""
    from martech_pipelines_spark.operators.sinks import recover_dir_swap

    recover_dir_swap(f"{path}/postings")  # self-heal an interrupted compaction
    recover_dir_swap(f"{path}/stats")
    postings = spark.read.parquet(f"{path}/postings").where(
        F.col("term").isin(*terms)
    )
    # Re-aggregate on read: the batch builder writes one stats row, the
    # streaming ingest appends one PER BATCH — summing is associative,
    # so both layouts yield the same single row here.
    stats = (
        spark.read.parquet(f"{path}/stats")
        .agg(F.sum("sum_dl").alias("sum_dl"), F.sum("n_docs").alias("n_docs"))
    )
    df_ = postings.groupBy("term").agg(F.count_distinct(id_col).alias("df"))
    scored = (
        postings.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            "term",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (
                        1.0
                        - b
                        + b
                        * F.col("dl")
                        / (F.col("sum_dl").cast("double") / F.col("n_docs"))
                    )
                )
            ).alias("term_score"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.round(F.sum("term_score"), 4).alias("bm25"),
        F.count("*").cast("long").alias("n_terms_hit"),
    )
    top = agg.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


def domain_cap(
    docs: DataFrame,
    domain_col: str = "source",
    n: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain contribution cap: keep at most ``n`` docs per domain,
    best quality first (doc-id tiebreak). The standard pretraining-mix
    guard against a single domain dominating the corpus (C4/RefinedWeb
    cap per-host contributions the same way).

    Returns (id, domain, quality, rk) for the kept docs.

    Scale shape: quality is a pure codegen expression computed in the
    scan stage; the cap is one keyed top-n window on the domain — Spark
    rewrites the rank filter to WindowGroupLimit, so each map task
    forwards at most ``n`` rows per domain into the single exchange.
    Domain skew (one giant host) is bounded by that same partial limit:
    the reduce side sees <= n * num_map_partitions rows per domain, not
    the domain's full row count.
    """
    w = Window.partitionBy(domain_col).orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    return (
        docs.select(
            id_col, domain_col, quality_score(F.col(text_col)).alias("quality")
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n)
    )


def curriculum_bins(
    scores: DataFrame,
    score_col: str = "avg_nll",
    n_bins: int = 4,
    id_col: str = "doc_id",
    exact: bool = True,
    relative_error: float = 0.001,
) -> DataFrame:
    """Curriculum binning: assign each scored doc to one of ``n_bins``
    difficulty quantiles of ``score_col`` (e.g. the t17 LM negative
    log-likelihood — bin 1 = most in-distribution, bin ``n_bins`` =
    hardest). Training curricula sample bins on a schedule.

    Two forms:
    - ``exact=True`` (oracle-pinned): ``ntile`` over a single global
      ordering — exact quantiles, but the window's global sort makes it
      the SMALL-data form (Spark executes an empty-partitionBy window on
      one task). Used by the corpus query so DuckDB's identical ntile
      can oracle-check it.
    - ``exact=False`` (100-TB form): bin boundaries from
      ``approxQuantile`` (Greenwald-Khanna sketch, one distributed pass,
      driver receives n_bins-1 doubles), then a broadcast when-chain
      assigns bins in the scan stage — no global sort, no shuffle.
      Bin populations deviate from n/n_bins only by the sketch's
      relative_error; the boundary-agreement rate vs the exact form is
      pinned in tests/test_r5.py.

    Null scores (docs with no signal) are excluded in both forms.
    """
    scored = scores.where(F.col(score_col).isNotNull())
    if exact:
        w = Window.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
        return scored.withColumn("bin", F.ntile(n_bins).over(w))
    qs = [i / n_bins for i in range(1, n_bins)]
    bounds = scored.approxQuantile(score_col, qs, relative_error)
    # a mass point holding >1/n_bins of the data makes quantile
    # boundaries COINCIDE; dedupe them so bin labels stay contiguous
    # 1..k (k <= n_bins) instead of skipping numbers — a curriculum
    # sampling "bin 2" must never draw from a label that cannot occur
    uniq: list[float] = []
    for b in bounds:
        if not uniq or b != uniq[-1]:
            uniq.append(b)
    bin_expr = F.lit(1)
    for b in uniq:
        bin_expr = bin_expr + F.when(F.col(score_col) > F.lit(b), 1).otherwise(0)
    return scored.withColumn("bin", bin_expr.cast("int"))


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BPE merge table (``bpe_learn_merges`` output) to
    encode documents — the other half of the tokenizer loop: t14b
    INDUCES the merges, this EXECUTES them (Sennrich et al. 2016's
    apply_bpe). Per word, the lowest-rank applicable adjacent pair is
    merged repeatedly until none remains; word tokenization matches the
    engine's ``tokens`` expression exactly, so learn and apply see the
    same units.

    Returns (id, bpe_tokens array<string>, n_bpe_tokens). Invariants
    pinned in tests/test_r5_ops.py: concatenating a word's pieces
    reconstructs the word; no adjacent output pair within a word is
    still mergeable; encoding is partitioning-invariant.

    Scale shape: the merge table is vocab-sized control data — ONE
    driver collect, broadcast to executors (exactly how fastBPE /
    tokenizers ship vocab files); encoding is an Arrow-batched
    pandas_udf with a per-executor word cache (Zipf reuse makes the
    cache hit rate high), so the corpus never shuffles at all.
    """
    import re

    from pyspark.sql.functions import pandas_udf

    ranks = {
        (r["left"], r["right"]): int(r["rank"]) for r in merges.collect()
    }
    bc = docs.sparkSession.sparkContext.broadcast(ranks)
    word_re = re.compile(r"[a-z0-9']+")

    # The word cache lives in the UDF's CLOSURE, not its body: the body
    # runs once per Arrow batch, so a body-local dict would reset every
    # ~10k rows and re-pay the merge loop for every Zipf-head word in
    # every batch.  Closure state is deserialized once per task and
    # shared by all of that task's batches (and across tasks when the
    # Python worker is reused) — measured 1.4x end-to-end on the sf1
    # tokenize-pack pipeline (pipe6b 10.2s -> 7.3s same-host best-of-2,
    # the encode share itself ~1.7x).
    cache: dict[str, list[str]] = {}

    @pandas_udf("array<string>")
    def encode(col: pd.Series) -> pd.Series:
        table = bc.value

        def enc_word(word: str) -> list[str]:
            hit = cache.get(word)
            if hit is not None:
                return hit
            sym = list(word)
            while len(sym) > 1:
                best_rank = None
                best_i = -1
                for i in range(len(sym) - 1):
                    r = table.get((sym[i], sym[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_i = r, i
                if best_rank is None:
                    break
                sym = (
                    sym[:best_i]
                    + [sym[best_i] + sym[best_i + 1]]
                    + sym[best_i + 2 :]
                )
            cache[word] = sym
            return sym

        def enc_text(t) -> list[str]:
            if t is None:
                return []
            out: list[str] = []
            for w in word_re.findall(t.lower()):
                out.extend(enc_word(w))
            return out

        return col.apply(enc_text)

    from martech_pipelines_spark.operators.parallelism import spread

    # spread the narrow (id, text) projection before the Python encode
    # kernel: on the 1-2 partition local scans the whole corpus would
    # otherwise funnel through one or two Python workers (no-op on real
    # wide scans — parallelism.spread).
    return spread(
        docs.select(F.col(id_col), F.col(text_col)), by=id_col
    ).select(
        F.col(id_col),
        encode(F.col(text_col)).alias("bpe_tokens"),
    ).withColumn("n_bpe_tokens", F.size("bpe_tokens").cast("long"))


def heavy_hitters(
    docs: DataFrame,
    frac: float = 0.01,
    text_col: str = "text",
) -> DataFrame:
    """EXACT corpus heavy hitters (tokens with count >= frac * total)
    without a vocabulary-sized shuffle — the two-pass Misra-Gries
    pattern:

    1. per-partition Misra-Gries summaries with k = ceil(1/frac)
       counters (an Arrow kernel over the exploded token stream). The MG
       guarantee (any token with partition frequency > n_p/(k+1) survives)
       plus an averaging argument make the union of partition summaries a
       SUPERSET of every global heavy hitter;
    2. exact counts of the candidates only: broadcast-semi-join the token
       stream against the candidate set, then one keyed agg whose
       map-side combine bounds the shuffle at partitions x candidates
       rows — candidate cardinality is <= partitions * k, independent of
       vocabulary size.

    The superset-then-exact-count composition makes the OUTPUT exact and
    partitioning-invariant even though the intermediate summaries are
    not — so the operator carries a full SQL oracle (t27), unlike a
    one-pass sketch. Compare t1_word_count: same answer restricted to
    heavy tokens, but t1 shuffles the whole vocabulary.

    Returns (w, cnt) for tokens with cnt >= max(1, ceil(frac * total)).
    """
    import math

    from pyspark import StorageLevel

    from martech_pipelines_spark import caching

    if not (0 < frac <= 1):
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    k = math.ceil(1.0 / frac)
    toks = docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
    # the token stream is read three times (total count, MG pass, exact
    # count) — persist it once; callers release via caching.release()
    toks = caching.register(toks.persist(StorageLevel.MEMORY_AND_DISK))
    total = toks.count()
    threshold = max(1, math.ceil(frac * total))

    def mg_kernel(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for w in pdf["w"]:
                if w in counters:
                    counters[w] += 1
                elif len(counters) < k:
                    counters[w] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({"w": list(counters.keys())})

    candidates = toks.mapInPandas(mg_kernel, "w string").distinct()
    return (
        toks.join(F.broadcast(candidates), "w")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= F.lit(threshold))
    )


# --- stratified sampling & hashed linear scoring (round 5b) ------------------


def stratified_sample_exact(
    docs: DataFrame,
    strat_cols: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Exact per-stratum quota sampling: EXACTLY ``n_per_stratum`` rows per
    stratum (fewer only when the stratum is smaller), chosen by ranking on
    the engine's portable md5 hash of the row id — deterministic under
    repartitioning, engine-reproducible (DuckDB computes the identical
    order), and independent of input row order.

    Complements ``stratified_sample`` (the pct-based filter above): the
    pct form is a pure 0-shuffle filter but only approximates the quota;
    this form guarantees it at the cost of one keyed exchange.

    Scale shape: ``row_number() <= n`` over (stratum, md5-order) lowers to
    a ``WindowGroupLimit`` partial top-k BEFORE the hash exchange, so each
    map task ships at most ``n`` rows per stratum it sees — the shuffle is
    O(strata x n x map_tasks) worst case, never O(corpus). Plan-asserted
    in tests/test_plans_r5b.py.
    """
    order = md5_bucket32(F.col(id_col).cast("string"), salt)
    w = (
        Window.partitionBy(*[F.col(c) for c in strat_cols])
        .orderBy(order.asc(), F.col(id_col).asc())
    )
    return (
        docs.withColumn("__rnk", F.row_number().over(w))
        .where(F.col("__rnk") <= F.lit(int(n_per_stratum)))
        .drop("__rnk")
    )


#: Hashed-linear-model constants: feature space size and the Knuth
#: multiplicative constant that maps a bucket to a deterministic synthetic
#: weight in [-1000, 1000] milli-units.  Integer end-to-end so the score is
#: summation-order-proof (bit-exact under any partitioning / engine).
QC_BUCKETS = 1024
QC_WEIGHT_MULT = 2654435761
QC_WEIGHT_MOD = 2001


def hashed_weight(tok: Column, salt: str = "qc") -> Column:
    """Deterministic integer weight for a token: md5-hash the token into
    ``QC_BUCKETS`` feature buckets, then derive a pseudo-random weight in
    [-1000, 1000] from the bucket id.  Stands in for a trained fastText-
    style linear classifier's weight vector — swap this function for a
    broadcast ``MapType`` lookup of real weights without touching the
    scoring plan."""
    bucket = md5_bucket32(tok, salt) % QC_BUCKETS
    return (bucket * F.lit(QC_WEIGHT_MULT)) % QC_WEIGHT_MOD - (QC_WEIGHT_MOD - 1) // 2


def hashed_linear_score(
    docs: DataFrame,
    text_col: str = "text",
    salt: str = "qc",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """fastText-style hashed bag-of-words linear scoring, fully columnar.

    tokenize -> hash each token into a fixed feature space -> sum the
    per-bucket weights -> threshold.  The whole model application is ONE
    codegen projection per row (``transform`` + ``aggregate`` higher-order
    functions over the token array): zero shuffles, zero Python, and the
    weight "vector" rides inside the expression — the real-model variant
    broadcasts a 1024-entry map, still no shuffle.  This is the scale
    template for applying any linear/hashed text classifier to a 100-TB
    corpus: cost is a single scan.

    Integer milli-unit weights keep the score exact (no float summation
    order sensitivity), so the DuckDB oracle matches bit-for-bit.
    """
    toks = tokens(F.col(text_col))
    score = F.aggregate(
        F.transform(toks, lambda t: hashed_weight(t, salt).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        score.alias("score_milli"),
        (score > 0).alias("label"),
        *extra_cols,
    )


def merge_token_counts(
    counts: DataFrame, new_docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Incremental maintenance of a token-count table (the IVM form of
    ``word_count_table``): aggregate ONLY the new docs, then merge the
    two partial-count tables with one keyed sum. Counts are distributive,
    so any batch split / merge order yields the identical table
    (associativity pinned in pytest; h11 proves incremental == full
    recompute via a shared oracle).

    Scale shape: the delta shuffle is proportional to the new batch's
    vocabulary; the merge shuffles |vocab| + |delta vocab| partial rows —
    never the corpus. A top-k read over the maintained table (heavy
    hitters, trending terms) is then a TakeOrdered over vocab-sized
    data."""
    delta = word_count_table(new_docs, text_col)
    return (
        counts.unionByName(delta)
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def sentiment_scores(
    docs: DataFrame,
    lexicon: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lexicon-join sentiment scoring (SURVEY §7.3): per-doc signed
    lexicon mass over token count, labeled pos/neg/neu.

    The general form for REAL lexicons (VADER/SentiWordNet-sized,
    10k-100k entries): explode tokens, LEFT broadcast-join the lexicon
    dim (small side broadcasts — the token stream never hash-exchanges
    for the join), one doc-keyed agg folds hits and token count in the
    same pass.  LEFT join keeps zero-hit docs (score 0, 'neu') — an
    inner join would silently drop them.  For toy lexicons a map
    literal inside ``F.aggregate`` computes the same score with ZERO
    shuffles; this operator keeps the join form because it is the one
    that survives a lexicon too big for a literal.

    Score is ``sum(weight) / n_tokens`` rounded 4dp; ties at exactly 0
    label 'neu'.  Empty-token docs are dropped (no denominator).
    """
    lex = docs.sparkSession.createDataFrame(
        list(lexicon.items()), "token string, weight int"
    )
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    scored = (
        toks.join(F.broadcast(lex), "token", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("weight"), F.lit(0))).alias("sent_mass"),
            F.count("*").alias("n_tokens"),
        )
    )
    score = F.round(F.col("sent_mass") / F.col("n_tokens"), 4)
    return scored.select(
        id_col,
        F.col("sent_mass").cast("long").alias("sent_mass"),
        "n_tokens",
        score.alias("sent_score"),
        F.when(F.col("sent_mass") > 0, "pos")
        .when(F.col("sent_mass") < 0, "neg")
        .otherwise("neu")
        .alias("sent_label"),
    )


# --- n-gram novelty vs a reference corpus ------------------------------------


def ngram_novelty_by_source(
    cand: DataFrame,
    reference: DataFrame,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-group n-gram NOVELTY report: what fraction of a candidate
    slice's distinct w-token windows never occur in the reference
    corpus — the memorization/overlap complement of ``decontaminate``
    (that flags documents; this scores whole sources, the go/no-go
    metric when deciding whether a new crawl adds anything).

    Output: (group, n_grams, novel_grams, novelty_e4) with the ratio as
    a half-up BIGINT e4 — engine-exact, no float division.

    Scale shape: mirrors ``decontaminate`` — the reference's distinct
    window-hash set is broadcast, the candidate side is one scan +
    explode collapsed to distinct (group, hash) map-side, then a tiny
    per-group agg.  No shuffle carries raw text."""
    cwin = (
        _window_table(cand, w, text_col, id_col)
        .join(cand.select(id_col, group_col), id_col)
        .select(group_col, "h")
        .distinct()
    )
    rwin = _window_table(reference, w, text_col, id_col).select("h").distinct()
    flagged = cwin.join(
        F.broadcast(rwin.withColumn("__seen", F.lit(1))), "h", "left"
    )
    # novelty_e4 = round_half_up(novel/n * 1e4) as a pure BIGINT ratio:
    # (novel*1e4*2 + n) div (2*n) — the t39/s12 recipe (no double
    # division or round() convention in the loop, engine-exact).
    return flagged.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("novel_grams"),
        F.expr(
            "(CAST(sum(CASE WHEN __seen IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " * CAST(20000 AS BIGINT) + count(*))"
            " div (2 * count(*))"
        ).cast("long").alias("novelty_e4"),
    )


# ---------------------------------------------------------------------------
# Feature hashing (fe6 / h34 / the feature-hash stream; Weinberger et al.
# 2009).  State: signed per-(doc_id, slot) counts, slot = h_fh(token) mod
# _FE6_D and sign = +1 / -1 from the parity of a second hash h_fs — kept
# WITHOUT the zero filter, so a merged zero stays representable and a
# later batch can move it off zero.  Merge: ``transforms.sum_merge`` on
# (doc_id, slot) — no ordering or partitioning contract.  Readout: drop
# zero-sum cells.
# ---------------------------------------------------------------------------

_FE6_D = 64


def feature_hash_state(docs: DataFrame) -> DataFrame:
    """(doc_id, slot, weight) signed cells of a document batch."""
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    slot = (md5_bucket32(F.col("w"), "fh") % _FE6_D).alias("slot")
    sgn = F.when(md5_bucket32(F.col("w"), "fs") % 2 == 0, F.lit(1)).otherwise(
        F.lit(-1)
    )
    return tok.select("doc_id", slot, sgn.alias("__sgn")).groupBy(
        "doc_id", "slot"
    ).agg(F.sum("__sgn").cast("long").alias("weight"))


def feature_hash_readout(cells: DataFrame) -> DataFrame:
    """(doc_id, slot, weight) non-zero hashed features of merged cells."""
    return cells.where(F.col("weight") != 0).select(
        "doc_id", F.col("slot").cast("long").alias("slot"), "weight"
    )


# ---------------------------------------------------------------------------
# Per-source completeness matrix (dq18 / h35).  State: counter cells per
# (source, lang) — additive, bounded by |sources| x |langs|, and the lang
# key carries the one non-additive column.  Merge: ``transforms.sum_merge``
# on (source, lang).  Readout: counters summed per source, language-tag
# cardinality as the number of non-NULL lang cells (exactly
# COUNT(DISTINCT lang)).
# ---------------------------------------------------------------------------

_DQ18_SHORT = 20  # chars; "suspiciously short" document threshold
_DQ18_COUNTERS = (
    "n_docs",
    "n_null_text",
    "n_blank_text",
    "n_short",
    "n_no_lang",
    "n_len_mismatch",
)


def completeness_state(docs: DataFrame) -> DataFrame:
    """(source, lang, counters...) cells of a document batch."""
    blank = F.col("text").isNotNull() & (F.trim("text") == "")
    return docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("text").isNull().cast("int")).cast("long").alias(
            "n_null_text"
        ),
        F.sum(blank.cast("int")).cast("long").alias("n_blank_text"),
        F.sum((F.col("n_chars") < _DQ18_SHORT).cast("int"))
        .cast("long")
        .alias("n_short"),
        F.sum(
            (F.col("lang").isNull() | (F.trim("lang") == "")).cast("int")
        )
        .cast("long")
        .alias("n_no_lang"),
        F.sum((F.length("text") != F.col("n_chars")).cast("int"))
        .cast("long")
        .alias("n_len_mismatch"),
    )


def completeness_readout(cells: DataFrame) -> DataFrame:
    """dq18's report from merged (source, lang) cells."""
    return cells.groupBy("source").agg(
        *[F.sum(c).cast("long").alias(c) for c in _DQ18_COUNTERS],
        F.count("lang").cast("long").alias("n_langs"),
    ).select("source", *_DQ18_COUNTERS[:5], "n_langs", "n_len_mismatch")
