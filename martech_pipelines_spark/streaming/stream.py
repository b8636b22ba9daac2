"""Structured Streaming (SURVEY.md §2.H as a real stream).

The reference does micro-batch incremental processing by hand (watermark
table + Delta CDF reads — reference:
martech_pipelines/tasks/user_profile/clevertap.py:10-27). The batch-mode
engine keeps that explicit-watermark design (operators/cdc.py) because it
is oracle-checkable; this module is the genuine Structured Streaming
variant of the same semantics:

- source offset tracking  -> checkpointed file-stream offsets (H1)
- incremental change scan -> ``readStream`` over the append log (A2)
- latest-per-key state    -> ``applyInPandasWithState`` keyed state (H3)
- event-time aggregation  -> windowed agg + ``withWatermark`` late-data
  bound (the §7.3 streaming-shaped windows)

Scale notes: state lives in the state store partitioned by key (same hash
shuffle as the batch window); watermark delay bounds state size for the
windowed agg; ``maxFilesPerTrigger`` is the backpressure knob for file
sources.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from martech_pipelines_spark.operators.transforms import sum_merge
from martech_pipelines_spark.operators.windows import (
    DQ15_BUDGET_E6,
    slo_readout,
    slo_state,
)
from martech_pipelines_spark.sources.schemas import SCHEMAS


def stream_events_source(
    spark: SparkSession,
    dir_path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """A2 as a stream: file-source over an append-only parquet event log.

    The physical unit of ``ts`` is sniffed from the first file's footer
    (same as the batch reader — the driver's testdata flipped from
    TIMESTAMP(NANOS) to MICROS between rounds); nanos arrive as longs
    and convert here, micros read natively."""
    from martech_pipelines_spark.sources.readers import _is_nanos

    if not _is_nanos(dir_path, "ts"):
        return (
            spark.readStream.schema(SCHEMAS["events"])
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(dir_path)
        )
    physical = T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
            for f in SCHEMAS["events"].fields
        ]
    )
    raw = (
        spark.readStream.schema(physical)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


_LATEST_STATE_SCHEMA = "ts timestamp, event_id long, event_type string, value double"
_LATEST_OUT_SCHEMA = (
    "user_id long, ts timestamp, event_id long, event_type string, value double"
)


def streaming_latest_per_key(events: DataFrame) -> DataFrame:
    """H3: continuously-maintained newest-event-per-user state.

    ``applyInPandasWithState`` keeps one row per key in the state store and
    emits the updated latest row each trigger — the streaming equivalent of
    the batch E2 compaction (same key hash-partitioning, state size O(keys))."""
    import pandas as pd

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        best = state.get if state.exists else None  # (ts, event_id, type, value)
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                cand = (row.ts.to_pydatetime(), int(row.event_id), row.event_type, float(row.value))
                if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                    best = cand
        if best is not None:
            state.update(best)
            yield pd.DataFrame(
                [(key[0], best[0], best[1], best[2], best[3])],
                columns=["user_id", "ts", "event_id", "event_type", "value"],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_LATEST_OUT_SCHEMA,
        stateStructType=_LATEST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_tumbling_counts(
    events: DataFrame,
    window_size: str = "1 hour",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """§7.3 streaming windows: tumbling event-time counts with a watermark
    bounding late data (and therefore state retention)."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.col("user_id"), F.window("ts", window_size).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("win_start"),
            "n_events",
        )
    )


def streaming_dedup_events(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_id"),
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keeps one
    state row per key only until the watermark passes it — bounded state,
    unlike plain streaming dropDuplicates whose state grows forever. The
    streaming face of the dd1 exact-dedup operator (at-least-once sources
    re-deliver; this makes the downstream effectively-once)."""
    return events.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def streaming_session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """§7.3 streaming windows, session form: gap-merged per-user sessions
    maintained incrementally; the watermark closes sessions and evicts
    their state."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_events",
        )
    )


def streaming_purchase_after_signup(
    signups: DataFrame,
    purchases: DataFrame,
    max_gap: str = "2 hours",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream inner join: purchases within ``max_gap``
    after the same user's signup. Both sides carry watermarks and the join
    condition bounds event-time distance, so Spark can evict join state
    once the watermark passes signup_ts + max_gap — without the time bound
    the state store would buffer both streams forever."""
    s = signups.select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    ).withWatermark("signup_ts", watermark_delay)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        "event_id",
        "value",
    ).withWatermark("purchase_ts", watermark_delay)
    return s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr(f"INTERVAL {max_gap}")),
    ).select(
        F.col("s_user").alias("user_id"),
        "signup_ts",
        "purchase_ts",
        "event_id",
        "value",
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "update",
    checkpoint_dir: str | None = None,
) -> "object":
    """Drive a streaming frame into an in-memory sink (tests/dev): returns
    the StreamingQuery; caller awaits ``processAllAvailable`` then reads
    ``SELECT * FROM <query_name>``."""
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_decontaminate(
    doc_stream: DataFrame,
    eval_docs: DataFrame,
    w: int = 8,
) -> DataFrame:
    """Streaming twin of ``operators.dedup.decontaminate``: flag incoming
    docs whose w-token windows overlap a STATIC eval/benchmark set — the
    side-input filter a streaming ingest pipeline runs before admitting
    crawled docs into a training corpus.

    The eval window-hash set is small by nature (benchmarks vs a crawl),
    so it is collected once and closed over by a STATELESS Arrow kernel:
    window hashes are computed JVM-side (same ``window_hashes`` expression
    as batch), the kernel only intersects each doc's hash array with the
    frozen set. No streaming state, no shuffle, append output mode — the
    decision is per-row, so the stream never buffers. Contrast the
    stateful twins above (dedup/session) where cross-row state is the
    point."""
    import pandas as pd

    from martech_pipelines_spark.operators.text import (
        _window_table,
        normalized_text,
        tokens,
        window_hashes_from_tokens,
    )

    eval_hashes = frozenset(
        r["h"] for r in _window_table(eval_docs, w, "text", "doc_id").collect()
    )

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            hits = pdf["__wh"].apply(
                lambda arr: sum(1 for h in set(arr) if h in eval_hashes)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_eval_hits": hits.astype("int64"),
                    "contaminated": hits > 0,
                }
            )

    # two-step select: tokenize once into an attribute, hash windows from
    # it (the 5x-measured projection-boundary form — see window_hashes)
    toks_df = doc_stream.select(
        "doc_id", tokens(normalized_text(F.col("text"))).alias("__tk")
    )
    return toks_df.select(
        "doc_id", window_hashes_from_tokens(F.col("__tk"), w).alias("__wh")
    ).mapInPandas(kernel, "doc_id long, n_eval_hits long, contaminated boolean")


def streaming_decontaminate_join(
    doc_stream: DataFrame,
    eval_docs: DataFrame,
    w: int = 8,
) -> DataFrame:
    """Stream-STATIC-join form of ``streaming_decontaminate`` — no
    driver-side collect of the eval hash set, so it scales to eval
    corpora far beyond closure size (VERDICT r04 "What's wrong" #2).

    Plan: per-row JVM-side ``array_distinct(window_hashes(...))`` (the
    closure twin also counts DISTINCT hash hits per doc), ``explode_outer``
    (keeps short docs whose window array is empty), stream-static LEFT
    join against the distinct eval window hashes, then a per-doc
    streaming aggregation summing join hits. The eval side is a plain
    static DataFrame: Spark broadcasts or shuffles it by its own cost
    model — nothing is collected to the driver.

    Output-mode contract: the aggregation makes this an UPDATE-mode
    stream (the closure twin is stateless append). Equality with the
    closure form on any finite split is pinned in
    tests/test_streaming.py::test_streaming_decontaminate_join_matches_closure.
    """
    from martech_pipelines_spark.operators.text import (
        _window_table,
        normalized_text,
        tokens,
        window_hashes_from_tokens,
    )

    eval_hashes = (
        _window_table(eval_docs, w, "text", "doc_id")
        .select("h")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    toks_df = doc_stream.select(
        "doc_id", tokens(normalized_text(F.col("text"))).alias("__tk")
    )
    exploded = toks_df.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(window_hashes_from_tokens(F.col("__tk"), w))
        ).alias("h"),
    )
    joined = exploded.join(eval_hashes, on="h", how="left")
    return joined.groupBy("doc_id").agg(
        F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_eval_hits"),
        (F.coalesce(F.sum("__hit"), F.lit(0)) > 0).alias("contaminated"),
    )


def _start_fold(stream: DataFrame, fold, checkpoint_dir: str) -> "object":
    """Start ``fold(batch_df, batch_id)`` on every micro-batch of
    ``stream`` — the foreachBatch sink all state-maintenance streams
    share (update mode, checkpointed so a restart resumes, at-least-once
    per batch: each fold must be idempotent under replay)."""
    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def streaming_minhash_ingest(
    doc_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    grow_index: bool = True,
) -> "object":
    """Streaming twin of ``dedup.minhash_incremental_dedup``: the
    probe-then-admit ingest loop a crawling pipeline runs continuously.
    Each micro-batch of new documents (1) dedups against the materialized
    signature index AND itself, appending found pairs to ``pairs_path``;
    (2) with ``grow_index``, appends its own signatures to the index so
    LATER batches dedup against it — after which the union of pair
    outputs over any batching of the same docs equals the batch
    operator's answer on the whole corpus, independent of batch order or
    size (pinned in test_streaming).

    foreachBatch is the right streaming form because the probe needs a
    multi-stage batch plan (agg + self-join) per trigger, not row-level
    state; the caching scope releases the per-batch signature persist
    before the next trigger."""
    from martech_pipelines_spark import caching
    from martech_pipelines_spark.operators import dedup as DD

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        with caching.scope():
            pairs = DD.minhash_incremental_dedup(
                batch_df.sparkSession,
                index_path,
                batch_df,
                threshold=threshold,
                num_perm=num_perm,
                bands=bands,
                shingle_n=shingle_n,
            )
            # per-batch directories with overwrite => replaying a
            # micro-batch (foreachBatch is at-least-once after failures)
            # replaces its previous attempt instead of double-appending
            _write_batch_partition(pairs, pairs_path, batch_id)
            if grow_index:
                _write_batch_partition(
                    DD.minhash_signature_table(
                        batch_df, num_perm=num_perm, shingle_n=shingle_n
                    ),
                    f"{index_path}/signatures",
                    batch_id,
                )

    return _start_fold(doc_stream, probe, checkpoint_dir)


_SCD2_STATE_SCHEMA = "ts timestamp, event_id long, event_type string"
_SCD2_OUT_SCHEMA = (
    "user_id long, event_id long, event_type string, "
    "valid_from timestamp, valid_to timestamp"
)


def streaming_scd2(events: DataFrame) -> DataFrame:
    """Streaming twin of ``cdc.scd2_from_changes``: every key's CLOSED
    dimension versions are emitted (append mode) the moment the next
    change for that key arrives; the open/current version is exactly the
    state-store row. Batch-equivalence: the emitted rows equal the batch
    SCD2's ``is_current = false`` set, and state equals its current set.

    Contract: per-key ts-ascending arrival across triggers (the CDC-log
    delivery order); same-trigger rows are sorted before folding, so any
    intra-batch disorder is absorbed. State is O(keys) — one open
    version each, same as ``streaming_latest_per_key``."""
    import pandas as pd

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        rows = []
        for pdf in batches:
            rows.extend(
                (r.ts.to_pydatetime(), int(r.event_id), r.event_type)
                for r in pdf.itertuples(index=False)
            )
        rows.sort(key=lambda r: (r[0], r[1]))
        cur = state.get if state.exists else None  # (ts, event_id, type)
        closed = []
        for ts, eid, etype in rows:
            if cur is not None:
                closed.append((key[0], cur[1], cur[2], cur[0], ts))
            cur = (ts, eid, etype)
        if cur is not None:
            state.update(cur)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id",
                    "event_id",
                    "event_type",
                    "valid_from",
                    "valid_to",
                ],
            )

    return events.select("user_id", "ts", "event_id", "event_type").groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType=_SCD2_OUT_SCHEMA,
        stateStructType=_SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_postings_ingest(
    doc_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
) -> "object":
    """Streaming maintenance of the BM25 inverted index
    (``text.bm25_build_index``'s append form): each micro-batch of new
    documents appends its postings (term, doc_id, tf, dl) under the
    term-partitioned layout and its (doc-count, token-sum) contribution
    to the stats table. After ingesting ANY batching of a corpus,
    ``bm25_query_index`` over the accumulated index returns exactly the
    batch-built index's answer — postings are per-doc facts, df derives
    from the pruned postings at query time, and the stats aggregate is
    associative, so batch boundaries cannot change any of them (pinned
    in test_streaming).

    foreachBatch is the right form: the postings build is a small batch
    plan (tokenize + explode + agg) per trigger, and the partitioned
    append needs a writer, not row state. Writes are IDEMPOTENT under
    micro-batch replay (foreachBatch is at-least-once after a failure):
    each batch lands in its own ``batch_id=N`` directory with overwrite,
    so a replayed batch replaces its previous attempt instead of
    double-appending — the standard exactly-once foreachBatch sink
    pattern. At scale this is the standing crawler->index pipeline;
    compaction of small per-batch partition files is the bucketed-sink
    compaction lever (operators/sinks.py)."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        _ingest_postings_batch(batch_df, batch_id, index_path)

    return _start_fold(doc_stream, ingest, checkpoint_dir)


def _ingest_postings_batch(
    batch_df: DataFrame, batch_id: int, index_path: str
) -> None:
    """One idempotent ingest step (module-level so replay semantics are
    directly testable): overwrite THIS batch's directories only."""
    from martech_pipelines_spark.operators.text import tokens

    toks_df = batch_df.select(
        F.col("doc_id"), tokens(F.col("text")).alias("__tk")
    ).select("doc_id", "__tk", F.size("__tk").alias("dl"))
    postings = (
        toks_df.select(F.col("doc_id"), "dl", F.explode("__tk").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
    )
    postings.write.mode("overwrite").partitionBy("term").parquet(
        f"{index_path}/postings/batch_id={batch_id}"
    )
    _write_batch_partition(
        toks_df.agg(F.sum("dl").alias("sum_dl"), F.count("*").alias("n_docs")),
        f"{index_path}/stats",
        batch_id,
    )


def streaming_upsert_sink(
    change_stream: DataFrame,
    snapshot_path: str,
    checkpoint_dir: str,
    key_cols: str | list[str] = "user_id",
    ts_col: str = "ts",
    tiebreak_cols: list[str] | None = None,
) -> "object":
    """Continuously maintain a keyed SNAPSHOT TABLE from a change stream —
    the streaming twin of ``cdc.merge_upsert`` (h9): each micro-batch is
    folded into the parquet snapshot at ``snapshot_path``.

    Design: union(previous snapshot, new batch) -> ``latest_per_key``
    re-compaction, with delete-type rows RETAINED AS TOMBSTONES. Because
    the fold re-compacts on (ts, tiebreak) rather than blindly letting
    the newest batch win, the snapshot equals the batch compaction of
    the full log NO MATTER how events are split or ordered across
    micro-batches (out-of-order file arrival included) — pinned in
    test_streaming. Tombstones are what make a delete durable against a
    late-arriving older update; ``read_upsert_snapshot`` filters them.

    Write protocol: write batch output to ``<path>.next``, rename the
    live snapshot to ``<path>.old``, rename ``.next`` into place, drop
    ``.old`` — plus CRASH RECOVERY at the start of every apply: if the
    live directory is missing but ``.old`` survives (a crash landed
    between the two renames), ``.old`` is restored as the base before
    folding. Single renames are atomic on POSIX, so with the recovery
    step no crash point loses the snapshot, a reader never sees a
    partial directory, and foreachBatch replays (at-least-once) are
    idempotent (the fold is; re-applying a batch changes nothing).

    Scale: the fold is ONE keyed window over snapshot+batch. This
    rewrites the snapshot per trigger — the honest cost of table
    maintenance WITHOUT a transactional table format; with delta-spark
    installed the same fold becomes a MERGE on a Delta table and only
    touched files rewrite (see cdc.delta_available)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_upsert_batch(
            batch_df, snapshot_path, keys, ts_col, tiebreak_cols
        )

    return _start_fold(change_stream, apply, checkpoint_dir)


def apply_upsert_batch(
    batch_df: DataFrame,
    snapshot_path: str,
    keys: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None,
) -> None:
    """One fold of ``streaming_upsert_sink`` (module-level so crash
    recovery is directly testable): recover an interrupted swap, union
    the batch with the live snapshot, re-compact, swap atomically."""
    from martech_pipelines_spark.operators.cdc import latest_per_key

    def compact(df: DataFrame) -> DataFrame:
        return latest_per_key(df, keys, ts_col, tiebreak_cols=tiebreak_cols)

    _swap_fold(
        batch_df,
        snapshot_path,
        compact(batch_df),
        lambda base: compact(base.select(*batch_df.columns).unionByName(batch_df)),
    )


def _swap_fold(batch_df: DataFrame, state_path: str, cold: DataFrame, merge) -> None:
    """The swap-protocol fold every replace-in-place state runs: recover
    an interrupted swap, then swap in ``merge(live state)`` when a live
    state exists, else ``cold`` (the batch's own state)."""
    import os

    _recover_swap(state_path)
    if os.path.isdir(state_path):
        folded = merge(batch_df.sparkSession.read.parquet(state_path))
    else:
        folded = cold
    _swap_write(folded, state_path)


def _write_batch_partition(df: DataFrame, root: str, batch_id: int) -> None:
    """Overwrite ``{root}/batch_id={batch_id}`` with ``df``: the
    per-batch partition convention of every additive state, under which
    an at-least-once replay of a micro-batch replaces its own partition
    instead of adding to the state a second time."""
    df.write.mode("overwrite").parquet(f"{root}/batch_id={batch_id}")


def _recover_swap(path: str) -> None:
    """Crash recovery for the swap protocol: a death between
    rename(live->old) and rename(next->live) leaves no live dir but a
    complete .old — restore it as the base (the interrupted batch
    replays on top)."""
    import os

    old = path + ".old"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)


def _swap_write(df: DataFrame, path: str) -> None:
    """Atomically replace the parquet directory at ``path`` with ``df``:
    write to ``.next``, rename live to ``.old``, rename ``.next`` into
    place, drop ``.old``.  Single renames are atomic on POSIX, so with
    ``_recover_swap`` no crash point loses the table and a reader never
    sees a partial directory."""
    import os
    import shutil

    old = path + ".old"
    nxt = path + ".next"
    df.write.mode("overwrite").parquet(nxt)
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(nxt, path)
    if os.path.isdir(old):
        shutil.rmtree(old)


def read_upsert_snapshot(
    spark,
    snapshot_path: str,
    delete_types: tuple[str, ...] = (),
    change_type_col: str = "event_type",
) -> DataFrame:
    """Read the live rows of a ``streaming_upsert_sink`` snapshot:
    filters tombstones (keys whose LATEST change is a delete type).

    A NULL change type means "not a delete" — the 3VL of a bare
    ``~isin()`` would silently drop NULL-typed live rows (same bug
    class as merge_upsert's NULL delete predicate), so the tombstone
    test is coalesced to false."""
    df = spark.read.parquet(snapshot_path)
    if delete_types:
        is_tombstone = F.coalesce(
            F.col(change_type_col).isin(list(delete_types)), F.lit(False)
        )
        df = df.where(~is_tombstone)
    return df


def streaming_click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM inner interval join, lookback direction: each
    purchase joins the same user's clicks from the preceding
    ``window_minutes`` (strictly before the purchase). Complements
    ``streaming_purchase_after_signup`` (forward window, pytest-only):
    this one is the attribution-feeding shape and carries a FULL
    value-checked batch twin. Both sides carry a watermark plus
    the time-range predicate, so the state store evicts click state once
    the purchase-side watermark passes click_ts + window — bounded state
    on an unbounded stream (without BOTH conditions Spark must buffer a
    side forever and rejects/leaks state).

    Batch twin with the full oracle: ``w5_click_purchase_join`` in
    plans/corpus_r5c.py — bit-for-bit equality pinned in pytest.
    """
    c = (
        clicks.select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        ).withWatermark("click_ts", watermark)
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        ).withWatermark("purchase_ts", watermark)
    )
    bound = F.expr(f"click_ts >= purchase_ts - INTERVAL {window_minutes} MINUTES")
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & bound,
        "inner",
    )
    return joined.select(
        "user_id", "purchase_id", "click_id", "purchase_ts", "click_ts", "value"
    )


def apply_reach_batch(batch_df: DataFrame, state_path: str) -> None:
    """One fold of ``streaming_reach_maintenance``: merge the batch's
    distinct (day, user) pairs into the parquet state table with the
    same crash-safe swap protocol as the upsert sink.  The merge is
    idempotent (union + distinct), so foreachBatch's at-least-once
    replays are free."""
    from martech_pipelines_spark.operators.transforms import (
        merge_user_days,
        user_days_of,
    )

    _swap_fold(
        batch_df,
        state_path,
        user_days_of(batch_df),
        lambda base: merge_user_days(base, batch_df),
    )


def streaming_reach_maintenance(
    events_stream: DataFrame, state_path: str, checkpoint_dir: str
) -> "object":
    """Continuously maintain the (day, user) activity state from an
    event stream — the streaming twin of h13: each micro-batch folds in
    via the idempotent distinct-merge, and ``transforms.reach_curve``
    over the state table serves the DAU/new/cumulative curve at read
    time.  Distinct-counting keeps no per-query state here: the state
    TABLE is the sketchless exact answer, bounded by users x days, not
    by event volume."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_reach_batch(batch_df, state_path)

    return _start_fold(events_stream, apply, checkpoint_dir)


# ---------------------------------------------------------------------------
# Streaming covariance maintenance (h19's streaming twin)
# ---------------------------------------------------------------------------


def apply_covariance_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One fold of ``streaming_covariance_maintenance``: reduce the
    micro-batch to its d*(d+1)/2-cell integer moment frame and write it
    to the state table's ``batch_id={N}`` partition with OVERWRITE.

    Moment sums are NOT idempotent under union (unlike the reach
    state's distinct-merge), so at-least-once replays must not
    double-count — keying the write by batch_id makes the fold
    effectively exactly-once: a replayed batch overwrites its own
    partition with identical content instead of adding to it."""
    from martech_pipelines_spark.operators.linalg import covariance_moments

    moments = covariance_moments(batch_df)
    _write_batch_partition(moments, state_path, batch_id)


def streaming_covariance_maintenance(
    vectors_stream: DataFrame, state_path: str, checkpoint_dir: str
) -> "object":
    """Continuously maintain embedding-covariance state from a vector
    stream — the streaming twin of h19_incremental_covariance: each
    micro-batch lands as one integer moment frame (d^2 cells, batch-
    size independent) and ``read_covariance_state`` renders cells on
    demand.  Because the moments are exact integers, the streamed
    state is BIT-identical to a batch recompute over the same rows —
    pinned in test_streaming."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_covariance_batch(batch_df, batch_id, state_path)

    return _start_fold(vectors_stream, apply, checkpoint_dir)


def read_covariance_state(
    spark: SparkSession, state_path: str, round_dp: int = 5
) -> DataFrame:
    """Render (i, j, cov) from the per-batch moment partitions: one
    keyed sum over batches*d^2 cells, then the same integer half-up
    projection as the batch forms."""
    from martech_pipelines_spark.operators.linalg import (
        covariance_from_moments,
    )
    from pyspark.sql import functions as F2

    parts = spark.read.parquet(state_path)
    merged = parts.groupBy("i", "j").agg(
        F2.sum("n").alias("n"),
        F2.sum("sxy").alias("sxy"),
        F2.sum("sx").alias("sx"),
        F2.sum("sy").alias("sy"),
    )
    return covariance_from_moments(merged, round_dp=round_dp)


# ---------------------------------------------------------------------------
# Streaming ordered funnel (mart14/w6's streaming twin)
# ---------------------------------------------------------------------------


def streaming_funnel_state(
    events: DataFrame,
    steps: list[str],
    within_s: int | None = None,
) -> DataFrame:
    """Continuously-maintained per-user funnel progress — the streaming
    twin of ``transforms.ordered_funnel`` (greedy min-chain, first-touch
    anchored, optional per-step window).

    The batch fold over a time-sorted event array is an ONLINE
    algorithm: processing events in time order, step ``i``'s reach time
    pins to the first event of ``steps[i]`` strictly after step
    ``i-1``'s reach (and within its window).  State is k longs per user
    (reach micros, NULL = not reached); each trigger emits users whose
    furthest step changed.  Equality with the batch fold is pinned in
    test_streaming under in-order delivery; out-of-order late data
    needs upstream watermark replay (the h17 pattern) — same caveat
    every funnel product documents.

    Scale: state O(users * k) longs, per-trigger work O(batch step
    events); the grouping hash-partitions by user exactly like the
    batch form's single shuffle.
    """
    import pandas as pd

    k = len(steps)
    # Positions per event type (a funnel may repeat a type, e.g.
    # ['view','click','view'] — a {type: index} map would collapse the
    # repeats and the funnel could never complete; ADVICE r6).
    step_positions: dict[str, list[int]] = {}
    for _i, _s in enumerate(steps):
        step_positions.setdefault(_s, []).append(_i)
    within_us = None if within_s is None else within_s * 1_000_000
    out_schema = "user_id long, furthest int, reach_us long"
    state_schema = ", ".join(f"s{i} long" for i in range(k))

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        reach = list(state.get) if state.exists else [None] * k
        before = sum(1 for r in reach if r is not None)
        rows = []
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                rows.append(
                    (
                        int(row.ts.value // 1_000),  # pandas ns -> us
                        int(row.event_id),
                        row.event_type,
                    )
                )
        rows.sort()
        for t, _tb, typ in rows:
            # Mirror the batch fold exactly: every step position of this
            # event's type is evaluated against the PRE-event state (the
            # batch F.struct computes all k fields from `acc`), so one
            # event can anchor step i but never i and i+1 together.
            hits = []
            for i in step_positions.get(typ, ()):
                if reach[i] is not None:
                    continue
                if i > 0:
                    prev = reach[i - 1]
                    if prev is None or t <= prev:
                        continue
                    if within_us is not None and t > prev + within_us:
                        continue
                hits.append(i)
            for i in hits:
                reach[i] = t
        after = sum(1 for r in reach if r is not None)
        if after != before or not state.exists:
            state.update(tuple(reach))
            furthest = after - 1
            yield pd.DataFrame(
                [(key[0], furthest, None if furthest < 0 else reach[furthest])],
                columns=["user_id", "furthest", "reach_us"],
            )

    return (
        events.where(F.col("event_type").isin(list(steps)))
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming latest-N per key (r34's streaming twin)
# ---------------------------------------------------------------------------


def streaming_latest_n_per_key(events: DataFrame, n: int = 3) -> DataFrame:
    """Continuously-maintained newest-N-events-per-user state — the
    streaming twin of r34_latest_n_per_key (generalizes
    ``streaming_latest_per_key``'s N=1).

    State per key is a bounded list of the N best (ts, event_id) rows
    (total (ts, id) DESC order, same as the batch window), so the state
    store holds O(keys * n) rows regardless of stream volume.  Each
    trigger emits the key's full refreshed top-N whenever it changed —
    'update' semantics at the key level, so a downstream materializer
    overwrites per key (the upsert-sink pattern)."""
    import pandas as pd

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        # state is stored columns-of-arrays (stateStructType above);
        # zip(*) turns it back into row tuples
        best: list = list(zip(*state.get)) if state.exists else []
        before = list(best)
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                best.append(
                    (
                        int(row.ts.value // 1_000),
                        int(row.event_id),
                        row.event_type,
                        float(row.value),
                    )
                )
        best.sort(reverse=True)  # (us, id) DESC — batch window's order
        best = best[:n]
        if best != before:
            state.update(tuple(list(c) for c in zip(*best)))
            yield pd.DataFrame(
                [
                    (key[0], i + 1, us, eid, typ, val)
                    for i, (us, eid, typ, val) in enumerate(best)
                ],
                columns=["user_id", "rn", "ts_us", "event_id", "event_type", "value"],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, rn int, ts_us long, event_id long, "
            "event_type string, value double"
        ),
        stateStructType=(
            "ts_us array<long>, event_id array<long>, "
            "event_type array<string>, value array<double>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming sessionization (r35's streaming twin)
# ---------------------------------------------------------------------------


def streaming_sessionize(events: DataFrame, gap_s: int = 30 * 60) -> DataFrame:
    """Continuously-maintained per-user session labels — the streaming
    twin of ``r35_sessionize`` (new session after ``gap_s`` of silence,
    events labeled with their session sequence number).

    The batch form is a lag-flag + running sum over (ts, event_id)
    order — an online fold: state per user is two longs (last event
    micros, current session_seq), each event either continues the
    session or increments the sequence.  Events inside a micro-batch
    are sorted by (ts, event_id) before folding, so the labels equal
    the batch window's under in-order micro-batch delivery (the same
    contract as ``streaming_funnel_state``; late data needs upstream
    watermark replay — the h17 pattern).

    Scale: O(users * 2) longs of state, per-trigger work linear in the
    batch; hash-partitioned by user exactly like the batch form's one
    exchange.  Unlike ``F.session_window`` aggregations (w3), this twin
    EMITS THE ASSIGNMENT itself — the enrichment downstream per-session
    features join back to."""
    import pandas as pd

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        last_us, seq = state.get if state.exists else (None, 0)
        rows = []
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                rows.append((int(row.ts.value // 1_000), int(row.event_id)))
        rows.sort()
        out = []
        for t, eid in rows:
            if last_us is None or t - last_us > gap_s * 1_000_000:
                seq += 1
            last_us = t
            out.append((key[0], eid, t, seq))
        if out:
            state.update((last_us, seq))
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "ts_us", "session_seq"]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, event_id long, ts_us long, session_seq long"
        ),
        stateStructType="last_us long, seq long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming prep-index maintenance (pipe10b's nightly job as a stream)
# ---------------------------------------------------------------------------


def streaming_ivf_index_maintenance(
    vector_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    append_fn=None,
):
    """Continuously maintain a materialized IVF index (s2c's layout)
    from a vector ingest stream: each micro-batch is assigned with the
    index's FROZEN coarse quantizer and lands cell-partitioned under
    ``corpus_delta/batch=<id>`` via
    ``similarity.ivf_index_append_batch`` — overwrite of the batch's
    own directory makes at-least-once replays exactly-once (the
    covariance-state / prep-index contract).  ``ivf_probe_topk`` reads
    base + delta transparently with per-cell partition pruning on both
    sides, so ANN freshness at 100 TB is a per-batch assignment pass
    over the day's vectors, never an index rebuild.  Quantizer retrain
    (centroid drift) stays an offline batch job by design — the FAISS
    operational split.

    ``append_fn`` swaps the per-batch assignment kernel: default =
    the trained-quantizer ``ivf_index_append_batch``; pass
    ``similarity.ivf_det_append_batch`` to maintain the DETERMINISTIC
    index (s2h's layout) — the layout, replay contract, reader, and
    compactor are shared, so the streamed delta stays bit-equal to the
    batch append and the probe stays under s2g's value oracle."""
    from martech_pipelines_spark.operators.similarity import (
        ivf_index_append_batch,
    )

    if append_fn is None:
        append_fn = ivf_index_append_batch

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        append_fn(
            batch_df,
            batch_id,
            index_path,
            corpus_id=corpus_id,
            corpus_vec=corpus_vec,
        )

    return _start_fold(vector_stream, apply, checkpoint_dir)


def streaming_prep_index_maintenance(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    w: int = 8,
):
    """Continuously maintain the materialized prep index (pipe10b) from
    a document ingest stream: each micro-batch of new docs lands as
    batch_id-keyed doc-stats + window-hash partitions via
    ``prep.apply_prep_index_batch`` — overwrite of the batch's own
    directory makes at-least-once replays exactly-once, the same
    contract as ``streaming_covariance_maintenance``.  The funnel report
    (``prep.prep_funnel_report``) reads the accumulating index
    transparently, so 'how is today's corpus prep trending' is answered
    by a probe, never a corpus rescan — the true 100-TB shape of
    pipe10."""
    from martech_pipelines_spark.operators.prep import apply_prep_index_batch

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_prep_index_batch(batch_df, batch_id, index_path, w=w)

    return _start_fold(docs_stream, apply, checkpoint_dir)


# ---------------------------------------------------------------------------
# Streaming rolling z-score monitor (dq2's streaming twin)
# ---------------------------------------------------------------------------


def streaming_rolling_zscore(
    events: DataFrame, window_periods: int = 7, z_thresh: float = 2.0
) -> DataFrame:
    """Continuously-maintained pipeline-health anomaly monitor — the
    streaming twin of ``dq2_rolling_zscore`` / ``transforms.
    rolling_zscore``: per event type, daily value sums scored against
    the trailing ``window_periods``-day mean/stddev.

    Finalize-on-day-close semantics (append mode): a day's row — value,
    trailing mean, z, anomaly verdict — is emitted exactly ONCE, on the
    first trigger where a strictly later day has appeared for that key
    (in-order delivery, the ``streaming_sessionize`` contract; late
    data needs upstream watermark replay).  This is how a daily monitor
    should alert: one verdict per completed day, no retractions.  The
    stream-end open day is not yet final and is not emitted — the
    batch query covers it on the next full run.

    Determinism: per-day sums accumulate as integer cents (exact,
    order-free), and mean/variance/z replay the batch operator's
    integer-moment formulas — Python ints are exact like the batch
    DECIMAL moments, the double expression tree is identical, and the
    4dp rounding uses decimal HALF_UP on the shortest repr (Spark
    ROUND's semantics) — so emitted rows are pinned EQUAL to the batch
    window's (tests/test_streaming.py).

    INPUT-PRECISION CONTRACT (ADVICE r8): ``value`` must be an exact
    2-decimal quantity (money cents — what the events table carries).
    Each event is quantized to cents on arrival (round-then-sum), while
    the batch twin sums raw doubles per day and rounds the SUM
    (sum-then-round); the two orders agree exactly when every input is
    cent-exact, and diverge on sub-cent inputs (three 0.004 events: 1
    cent in batch, 0 here).  This is deliberate — keeping floats out of
    long-lived state avoids the accumulation-order ulp hazard that
    WOULD break the emitted-rows-equal-batch pin nondeterministically;
    sub-cent telemetry should be scaled to an exact integer unit (e.g.
    micros) upstream of both twins instead.

    State per key: the newest ``window_periods`` (day, cents) entries —
    mirroring the batch ROWS BETWEEN window over existing days (gap
    days don't pad) — plus the last-emitted day.  O(keys * w) longs
    regardless of stream volume."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    day_us = 86_400_000_000

    def _round4(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )

    def update(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            days_arr, cents_arr, last_emitted = state.get
            days = dict(zip(days_arr, cents_arr))
        else:
            days, last_emitted = {}, -(1 << 62)
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                d = (int(row.ts.value) // 1_000) // day_us * day_us
                p = math.floor(float(row.value) * 100 + 0.5)
                days[d] = days.get(d, 0) + p
        if not days:
            return
        ordered = sorted(days)
        newest = ordered[-1]
        out = []
        for i, d in enumerate(ordered):
            if d <= last_emitted or d >= newest:
                continue  # already final, or still open
            win = ordered[max(0, i - (window_periods - 1)) : i + 1]
            n = len(win)
            s1 = sum(days[w] for w in win)          # exact int
            s2 = sum(days[w] ** 2 for w in win)     # exact int
            diff = n * s2 - s1 * s1                 # exact int
            nd, s1d = float(n), float(s1)
            mean_p = s1d / nd
            dev = float(days[d]) - mean_p
            ready = n == window_periods and diff > 0
            if ready:
                var_p = float(diff) / (nd * (nd - 1.0))
                sd = math.sqrt(var_p)
                z = _round4(dev / sd)
                anomaly = abs(dev) > z_thresh * sd
            else:
                z, anomaly = None, False
            out.append(
                (
                    key[0],
                    d,
                    float(days[d]) / 100.0,
                    _round4(mean_p / 100.0),
                    z,
                    anomaly,
                )
            )
            last_emitted = d
        # retain the newest `window_periods` entries (the batch ROWS
        # window never reaches further back), plus the open day
        keep = ordered[-window_periods:]
        state.update(
            ([int(d) for d in keep], [int(days[d]) for d in keep],
             int(last_emitted))
        )
        if out:
            yield pd.DataFrame(
                out,
                columns=["event_type", "day_us", "v", "mu", "z", "anomaly"],
            )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, day_us long, v double, mu double, "
            "z double, anomaly boolean"
        ),
        stateStructType=(
            "day_us array<long>, cents array<long>, last_emitted long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming session-state maintenance (h21's streaming twin)
# ---------------------------------------------------------------------------


def apply_session_batch(
    batch_df: DataFrame, batch_id: int, state_path: str, gap_s: int = 30 * 60
) -> None:
    """One fold of ``streaming_session_maintenance``: reduce the
    micro-batch to its session-interval summaries and write them to the
    state table's ``batch_id={N}`` partition with OVERWRITE.

    Interval counts are NOT idempotent under union (n_events would
    double on replay), so the fold uses the covariance convention:
    keying the write by batch_id makes at-least-once replays
    effectively exactly-once — a replayed batch overwrites its own
    partition with identical content."""
    from martech_pipelines_spark.operators.windows import session_intervals

    _write_batch_partition(session_intervals(batch_df, gap_s), state_path, batch_id)


def streaming_session_maintenance(
    events_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    gap_s: int = 30 * 60,
) -> "object":
    """Continuously maintain per-user session summaries from an event
    stream — the streaming twin of ``h21_incremental_sessionize``:
    each micro-batch lands as one interval-summary partition (session
    intervals are MERGEABLE under arbitrary splits, so out-of-order
    batch boundaries cost nothing), and ``read_session_state`` renders
    the numbered session table on demand.  Because the merge is exact,
    the streamed state is identical to a batch recompute over the same
    rows — pinned in test_streaming."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_session_batch(batch_df, batch_id, state_path, gap_s)

    return _start_fold(events_stream, apply, checkpoint_dir)


def read_session_state(
    spark: SparkSession, state_path: str, gap_s: int = 30 * 60
) -> DataFrame:
    """Render the session table from the per-batch interval partitions:
    ONE gaps-and-islands pass over the union (N-way merge costs the
    same keyed exchange as a 2-way fold), then per-user numbering."""
    from martech_pipelines_spark.operators.windows import (
        coalesce_session_intervals,
        numbered_sessions,
    )

    parts = spark.read.parquet(state_path).select(
        "user_id", "start_us", "end_us", "n_events"
    )
    return numbered_sessions(coalesce_session_intervals(parts, gap_s))


# ---------------------------------------------------------------------------
# Streaming dataset-card maintenance (pipe12's streaming twin)
# ---------------------------------------------------------------------------


def apply_card_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One fold of ``streaming_card_maintenance``: reduce the doc
    micro-batch to its mergeable card state and write it to the state
    root's ``batch_id={N}`` partition with OVERWRITE (count cells are
    not idempotent under union — the covariance/session replay
    convention)."""
    from martech_pipelines_spark.operators.prep import dataset_card_state

    _write_batch_partition(dataset_card_state(batch_df), state_path, batch_id)


def streaming_card_maintenance(
    docs_stream: DataFrame, state_path: str, checkpoint_dir: str
) -> "object":
    """Continuously maintain the dataset-card state from a document
    stream — the streaming twin of ``pipe12_incremental_dataset_card``:
    each micro-batch lands as one state partition and
    ``read_card_state`` renders the per-source card on demand, equal to
    a batch recompute over the same docs (pinned in test_streaming).
    The intake report every corpus release ships, kept warm while the
    crawl streams in."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_card_batch(batch_df, batch_id, state_path)

    return _start_fold(docs_stream, apply, checkpoint_dir)


def read_card_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Render the dataset card from the per-batch state partitions: one
    keyed merge over state rows, then the shared render."""
    from martech_pipelines_spark.operators.prep import (
        fold_card_state,
        render_dataset_card,
    )

    parts = spark.read.parquet(state_path).select(
        "source", "lang", "fp", "n_chars", "n", "toks"
    )
    return render_dataset_card(fold_card_state(parts))


def _read_range_markers(spark: SparkSession, state_path: str):
    """Read the ordered-ingestion ``_range`` markers under a state root.

    Returns ``(ranges, marker_ids, has_markers)`` — ``ranges`` is the
    batch_id-sorted list of non-empty (batch_id, min_ts, max_ts) rows,
    ``marker_ids`` the set of ALL marker batch_ids (including empty
    micro-batches, whose min_ts is null), ``has_markers`` False only for
    a genuinely marker-less (pre-r10) state root.

    Only the missing-path AnalysisException is treated as "no markers"
    (back-compat); any OTHER read failure — IO, permissions, corruption
    — propagates, because silently disabling the guard is exactly the
    failure the guard exists to prevent (ADVICE r10)."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(f"{state_path}/_range").collect()
    except AnalysisException as e:
        cond = e.getCondition() if hasattr(e, "getCondition") else None
        if cond == "PATH_NOT_FOUND" or "Path does not exist" in str(e):
            return [], set(), False
        raise
    ranges = sorted(
        (r["batch_id"], r["min_ts"], r["max_ts"])
        for r in rows
        if r["min_ts"] is not None  # empty micro-batch: no events
    )
    return ranges, {r["batch_id"] for r in rows}, True


def _assert_marker_coverage(
    parts: DataFrame, marker_ids: set, has_markers: bool, what: str
) -> None:
    """Every state ``batch_id`` partition must have a ``_range`` marker
    (unless the root predates markers entirely): the marker is written
    BEFORE the state partition, so a state batch with no marker means
    the root was assembled outside the apply path — refuse to fold it
    rather than silently skip the ordered-ingestion check for that
    batch (ADVICE r10).  An extra marker with no state partition is
    harmless (a crash between the two writes; replay overwrites both)."""
    if not has_markers:
        return
    state_ids = {
        r["batch_id"] for r in parts.select("batch_id").distinct().collect()
    }
    missing = sorted(state_ids - marker_ids)
    if missing:
        raise ValueError(
            f"{what} state batches {missing} have no _range marker — "
            "the ordered-ingestion contract cannot be checked for them; "
            "state must be written through the apply_*_batch path"
        )


def _write_range_marker(batch_df: DataFrame, batch_id: int, state_path: str) -> None:
    """Land the batch's (min_ts, max_ts) under ``{state_path}/_range``
    (the leading underscore hides it from a plain read of the state
    root).  Callers write it BEFORE the state partition: a crash between
    the two writes then leaves a marker with no state partition
    (harmless — replay overwrites both), never a state partition the
    read-side guard cannot check (ADVICE r10)."""
    _write_batch_partition(
        batch_df.agg(F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts")),
        f"{state_path}/_range",
        batch_id,
    )


def _check_ordered_ingestion(
    spark: SparkSession, state_path: str, label: str, consequence: str
) -> tuple[set, bool]:
    """Assert the ordered-ingestion contract over a state root's
    ``_range`` markers and return ``(marker_ids, has_markers)``.  The
    check is STRICT (prev.max_ts < next.min_ts): equality means a
    same-ts pair straddled a trigger, which the contract also forbids.
    A marker-less (pre-r10) root is accepted as-is for back-compat."""
    ranges, marker_ids, has_markers = _read_range_markers(spark, state_path)
    for (prev_id, _, prev_max), (next_id, next_min, _) in zip(
        ranges, ranges[1:]
    ):
        if not (prev_max < next_min):
            raise ValueError(
                f"{label} state violates the ordered-ingestion contract: "
                f"batch_id={prev_id} time range ends at {prev_max} but "
                f"batch_id={next_id} starts at {next_min} — {consequence}"
            )
    return marker_ids, has_markers


def apply_journey_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One fold of ``streaming_journey_maintenance``: the batch's
    ``_range`` marker, then its ``journey_state`` as the state root's
    ``batch_id={N}`` partition with OVERWRITE (replay = idempotent, the
    card/KMV convention).  Raw events never persist — only the
    1-byte-per-event code strings."""
    from martech_pipelines_spark.operators.windows import journey_state

    _write_range_marker(batch_df, batch_id, state_path)
    _write_batch_partition(journey_state(batch_df), state_path, batch_id)


def streaming_journey_maintenance(
    events_stream: DataFrame, state_path: str, checkpoint_dir: str
) -> "object":
    """Continuously maintain per-user journey strings from an event
    stream — the streaming twin of ``h27_incremental_journey``: each
    micro-batch lands one state partition; ``read_journey_state``
    concatenates in batch order and pattern-matches on demand, EQUAL to
    the batch mart24 readout over the same events (pinned in
    test_streaming) because matches are computed at READ — funnels that
    span micro-batch boundaries are counted.

    Contract (same as streaming_rolling_zscore): micro-batches must
    arrive in event-time order (an append stream with ordered ingestion
    — same-ts events never straddle a trigger), because the read-side
    fold concatenates by batch_id."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_journey_batch(batch_df, batch_id, state_path)

    return _start_fold(events_stream, apply, checkpoint_dir)


def read_journey_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Pattern-match readout over the per-batch journey state: assert
    the ordered-ingestion contract on the ``_range`` markers (ADVICE r9
    — an overlap raises instead of silently scrambling journey
    strings), then ``journey_merge`` in batch_id order and
    ``journey_readout``."""
    from martech_pipelines_spark.operators.windows import (
        journey_merge,
        journey_readout,
    )

    marker_ids, has_markers = _check_ordered_ingestion(
        spark,
        state_path,
        "journey",
        "micro-batches must arrive in strict event-time order (same-ts "
        "events must never straddle a trigger); the batch-order fold "
        "would silently scramble journey strings",
    )
    parts = spark.read.parquet(state_path)
    _assert_marker_coverage(parts, marker_ids, has_markers, "journey")
    return journey_readout(journey_merge(parts))


def apply_feature_hash_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One fold of ``streaming_feature_hash_maintenance``: land the
    batch's ``feature_hash_state`` cells as ``batch_id={N}`` with
    OVERWRITE (replay = idempotent, the card/KMV/journey convention)."""
    from martech_pipelines_spark.operators.text import feature_hash_state

    _write_batch_partition(feature_hash_state(batch_df), state_path, batch_id)


def streaming_feature_hash_maintenance(
    docs_stream: DataFrame, state_path: str, checkpoint_dir: str
) -> "object":
    """Continuously maintain fe6's hashed-feature cells from a document
    stream — h34's streaming twin: per-batch signed cells are additive,
    so the readout off folded state equals the batch fe6 over the same
    documents (pinned in test_streaming).  Batches may arrive in any
    order."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_feature_hash_batch(batch_df, batch_id, state_path)

    return _start_fold(docs_stream, apply, checkpoint_dir)


def read_feature_hash_state(spark: SparkSession, state_path: str) -> DataFrame:
    """``sum_merge`` then ``feature_hash_readout`` over the per-batch
    cell state."""
    from martech_pipelines_spark.operators.text import feature_hash_readout

    cells = spark.read.parquet(state_path).select("doc_id", "slot", "weight")
    return feature_hash_readout(sum_merge(["doc_id", "slot"], cells))


def apply_slo_batch(batch_df: DataFrame, batch_id: int, state_path: str) -> None:
    """One fold of ``streaming_slo_maintenance``: land the batch's
    ``slo_state`` cells as the state root's ``batch_id={N}`` partition
    with OVERWRITE (replay = idempotent, the card/KMV/journey
    convention)."""
    _write_batch_partition(slo_state(batch_df), state_path, batch_id)


def streaming_slo_maintenance(
    events_stream: DataFrame, state_path: str, checkpoint_dir: str
) -> "object":
    """Continuously maintain the dq15 error-budget state from an event
    stream — per-day counter cells are additive, so the daily error
    share, breach flags, and the running burn curve re-render from
    folded state EQUAL to the batch dq15 readout over the same events
    (pinned in test_streaming).  Batches may arrive in any order: the
    state is a commutative sum."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_slo_batch(batch_df, batch_id, state_path)

    return _start_fold(events_stream, apply, checkpoint_dir)


def read_slo_state(
    spark: SparkSession, state_path: str, budget_e6: int = DQ15_BUDGET_E6
) -> DataFrame:
    """Render the dq15 error-budget report from the per-batch counter
    state."""
    cells = spark.read.parquet(state_path).select(
        "day_s", "n_events", "n_errors"
    )
    return slo_readout(sum_merge(["day_s"], cells), budget_e6)


def apply_hist_batch(batch_df: DataFrame, batch_id: int, state_path: str) -> None:
    """One fold of ``streaming_hist_maintenance``: land the batch's
    ``price_histogram`` cells as the state root's ``batch_id={N}``
    partition with OVERWRITE (replay = idempotent, the card/KMV/SLO
    convention)."""
    from martech_pipelines_spark.operators.sketches import price_histogram

    _write_batch_partition(price_histogram(batch_df), state_path, batch_id)


def streaming_hist_maintenance(
    lineitem_stream: DataFrame, state_path: str, checkpoint_dir: str
) -> "object":
    """Continuously maintain the r40 quantile-histogram state from a
    lineitem stream — the streaming twin of ``h30_incremental_histquant``:
    per-bin counter cells are commutative sums, so the p50/p90/p99
    readout off folded state re-renders EQUAL to the batch r40 report
    over the same rows (pinned in test_streaming).  Batches may arrive
    in any order."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_hist_batch(batch_df, batch_id, state_path)

    return _start_fold(lineitem_stream, apply, checkpoint_dir)


def read_hist_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Render the quantile report from per-batch histogram cells:
    ``histogram_merge`` then ``histogram_quantile_readout``."""
    from martech_pipelines_spark.operators.sketches import (
        histogram_merge,
        histogram_quantile_readout,
    )

    cells = spark.read.parquet(state_path).select("flag", "bin", "cnt")
    return histogram_quantile_readout(histogram_merge(cells))


def apply_transitions_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One fold of ``streaming_transitions_maintenance``: the batch's
    ``_range`` marker (the journey ordered-ingestion guard applies
    identically — stitching assumes batch order = event time order),
    then its ``transition_cells`` and ``transition_bounds`` as
    ``{state}/cells/batch_id={N}`` and ``{state}/bounds/batch_id={N}``
    with OVERWRITE (replay = idempotent)."""
    from martech_pipelines_spark.operators.windows import (
        transition_bounds,
        transition_cells,
    )

    _write_range_marker(batch_df, batch_id, state_path)
    _write_batch_partition(transition_cells(batch_df), f"{state_path}/cells", batch_id)
    _write_batch_partition(transition_bounds(batch_df), f"{state_path}/bounds", batch_id)


def streaming_transitions_maintenance(
    events_stream: DataFrame, state_path: str, checkpoint_dir: str
) -> "object":
    """Continuously maintain the mart28 transition matrix from an event
    stream — the streaming twin of ``h32_incremental_transitions``:
    within-batch cells are additive, and the cross-batch transitions a
    per-batch count can never see are reconstructed at read time from
    the per-user boundary state (last type of one appearance -> first
    type of the user's NEXT appearance, in batch order).  Pinned equal
    to the batch mart28 readout in test_streaming, including users
    absent from intermediate micro-batches."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_transitions_batch(batch_df, batch_id, state_path)

    return _start_fold(events_stream, apply, checkpoint_dir)


def read_transitions_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Transition-matrix readout over per-batch state: assert the
    ordered-ingestion contract (the journey ``_range`` guard), then
    ``transition_merge`` and ``transition_readout``."""
    from martech_pipelines_spark.operators.windows import (
        transition_merge,
        transition_readout,
    )

    marker_ids, has_markers = _check_ordered_ingestion(
        spark,
        state_path,
        "transition",
        "boundary stitching would fabricate transitions",
    )

    bounds = spark.read.parquet(f"{state_path}/bounds")
    cells = spark.read.parquet(f"{state_path}/cells")
    _assert_marker_coverage(cells, marker_ids, has_markers, "transition cells")
    _assert_marker_coverage(
        bounds, marker_ids, has_markers, "transition bounds"
    )
    return transition_readout(transition_merge(cells, bounds))


# ---------------------------------------------------------------------------
# Streaming KMV / HLL sketch maintenance (h39 / h7b streaming twins)
# ---------------------------------------------------------------------------


def apply_kmv_batch(
    batch_df: DataFrame, state_path: str, key_col: str, col: str, k: int = 64
) -> None:
    """One fold of ``streaming_kmv_maintenance``: sketch the micro-batch
    and ``kmv_merge`` it into the parquet state with the crash-safe swap
    protocol.  The fold is IDEMPOTENT (distinct hashes + k-smallest),
    so foreachBatch's at-least-once replays are free — the reach sink's
    contract, at fixed k-row-per-key state size."""
    from martech_pipelines_spark.operators import sketches as SK

    delta = SK.kmv_sketch_table(batch_df, key_col, col, k=k)
    _swap_fold(
        batch_df, state_path, delta, lambda base: SK.kmv_merge(base, delta, key_col, k=k)
    )


def streaming_kmv_maintenance(
    events_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    col: str = "user_id",
    k: int = 64,
) -> "object":
    """Continuously maintain per-key KMV distinct sketches from an
    event stream — the streaming twin of h24/h39: every downstream
    readout (``kmv_estimate``, ``kmv_theta_setops``) serves off the
    state table, so distinct counts AND pairwise audience set-ops stay
    current at k-row-per-key state cost, independent of event volume."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_kmv_batch(batch_df, state_path, key_col, col, k=k)

    return _start_fold(events_stream, apply, checkpoint_dir)


def apply_hll_batch(
    batch_df: DataFrame, state_path: str
) -> None:
    """One fold of ``streaming_hll_maintenance``: ``hll_merge`` the
    batch's ``hll_registers`` into the state with the crash-safe swap
    protocol (max is idempotent, so replays are free)."""
    from martech_pipelines_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )

    delta = hll_registers(batch_df)
    _swap_fold(batch_df, state_path, delta, lambda base: hll_merge(base, delta))


def streaming_hll_maintenance(
    events_stream: DataFrame, state_path: str, checkpoint_dir: str
) -> "object":
    """Continuously maintain deterministic HLL registers from an event
    stream — h7b's streaming twin; 32 rows per key forever."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_hll_batch(batch_df, state_path)

    return _start_fold(events_stream, apply, checkpoint_dir)
