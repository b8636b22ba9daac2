"""Structured Streaming variants: file-source stream, keyed latest state,
watermarked tumbling windows — driven on the sf0.001 events log."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest

from pyspark.sql import functions as F

from martech_pipelines_spark.operators import cdc
from martech_pipelines_spark.sources import load_table
from martech_pipelines_spark.streaming import (
    run_stream_to_memory,
    stream_events_source,
    streaming_dedup_events,
    streaming_latest_per_key,
    streaming_purchase_after_signup,
    streaming_session_counts,
    streaming_tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_stream_dir(spark, tmp_path):
    """Copy the events parquet into a streamable directory (file source
    reads a directory of files; one file = one micro-batch here)."""
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_stream_latest_per_key_matches_batch(spark, events_stream_dir, tmp_path):
    stream = stream_events_source(spark, events_stream_dir)
    assert stream.isStreaming
    latest = streaming_latest_per_key(stream)
    q = run_stream_to_memory(
        latest, "latest_mem", "update", str(tmp_path / "ckpt1")
    )
    try:
        q.processAllAvailable()
        got = {
            r["user_id"]: (r["ts"], r["event_id"])
            for r in spark.sql("SELECT * FROM latest_mem").collect()
        }
    finally:
        q.stop()
    batch = cdc.latest_per_key(
        load_table(spark, SF, "events"), "user_id", "ts", tiebreak_cols=["event_id"]
    )
    want = {r["user_id"]: (r["ts"], r["event_id"]) for r in batch.collect()}
    assert got == want


def test_stream_foreachbatch_rest_export(spark, events_stream_dir, tmp_path):
    """EP2 at streaming scale: incremental micro-batches -> transform ->
    partition-parallel REST sink via foreachBatch (the streaming analog of
    the reference's driver-side export loop)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from martech_pipelines_spark.operators.sinks import (
        RestSinkConfig,
        rest_batch_sink,
    )

    store: list[int] = []

    class H(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            body = self.rfile.read(int(self.headers["Content-Length"]))
            store.append(len(json.loads(body)["d"]))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    cfg = RestSinkConfig(
        url=f"http://127.0.0.1:{srv.server_port}/upload", payload_size=100
    )

    stream = stream_events_source(spark, events_stream_dir)
    filtered = stream.where(F.col("event_type").isin("purchase", "signup")).select(
        F.col("user_id").cast("string").alias("identity"), "event_id", "event_type"
    )

    def ship(batch_df, batch_id: int) -> None:
        rest_batch_sink(batch_df, cfg)

    q = (
        filtered.writeStream.foreachBatch(ship)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        srv.shutdown()

    expected = (
        load_table(spark, SF, "events")
        .where(F.col("event_type").isin("purchase", "signup"))
        .count()
    )
    assert sum(store) == expected
    assert max(store) <= 100


def test_stream_foreachbatch_csv_byte_cap_multi_mb_rows(spark, tmp_path):
    """B5 composed with streaming (VERDICT r02 #8): the Netcore-style CSV
    sink's byte cap must hold end-to-end in the foreachBatch path too —
    multi-hundred-KB rows arriving as micro-batches still ship in bodies
    under the cap, every row exactly once."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from martech_pipelines_spark.operators.sinks import (
        RestSinkConfig,
        rest_csv_batch_sink,
    )

    bodies: list[bytes] = []

    class H(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            bodies.append(self.rfile.read(int(self.headers["Content-Length"])))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    # 12 rows x ~300 KB against a 1 MB cap: 3-per-chunk ceilings per
    # partition, never a body over the cap.
    src_dir = tmp_path / "wide_src"
    cap = 1_000_000
    spark.createDataFrame(
        [(i, "x" * 300_000) for i in range(12)], "id long, payload string"
    ).coalesce(2).write.mode("overwrite").parquet(str(src_dir))

    cfg = RestSinkConfig(url=f"http://127.0.0.1:{srv.server_port}/csv")
    stream = (
        spark.readStream.schema("id long, payload string")
        .parquet(str(src_dir))
    )

    def ship(batch_df, batch_id: int) -> None:
        rest_csv_batch_sink(batch_df, cfg, max_bytes=cap)

    q = (
        stream.writeStream.foreachBatch(ship)
        .option("checkpointLocation", str(tmp_path / "ckpt_csv"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        srv.shutdown()

    assert all(len(b) <= cap for b in bodies)
    data_lines = [
        line
        for b in bodies
        for line in b.decode().strip().splitlines()
        if line != "id,payload"
    ]
    assert len(data_lines) == 12  # every row exactly once, none dropped
    assert len(bodies) >= 4  # the cap actually forced chunking


def test_stream_dedup_within_watermark(spark, tmp_path):
    """A re-delivered file (at-least-once source analog) must not double
    rows: dropDuplicatesWithinWatermark emits each (user, event) once."""
    d = tmp_path / "dup_stream"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-000.parquet")
    shutil.copy(f"{SF}/events.parquet", d / "part-001.parquet")  # duplicate delivery
    # both files in ONE micro-batch so the watermark hasn't advanced past them
    stream = stream_events_source(spark, str(d), max_files_per_trigger=2)
    deduped = streaming_dedup_events(stream)
    q = run_stream_to_memory(deduped, "dedup_mem", "append", str(tmp_path / "ck_dd"))
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) FROM dedup_mem").collect()[0][0]
    finally:
        q.stop()
    want = load_table(spark, SF, "events").select("user_id", "event_id").distinct().count()
    assert got == want


def test_stream_session_counts_match_batch(spark, events_stream_dir, tmp_path):
    from martech_pipelines_spark.operators import windows as WIN

    stream = stream_events_source(spark, events_stream_dir, max_files_per_trigger=10)
    agg = streaming_session_counts(stream, "30 minutes", "1 hour")
    # session-window aggs support append (emit on watermark close) or
    # complete — update is rejected; complete lets us compare everything
    q = run_stream_to_memory(agg, "sess_mem", "complete", str(tmp_path / "ck_sess"))
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["sess_start"], r["sess_end"]): r["n_events"]
            for r in spark.sql("SELECT * FROM sess_mem").collect()
        }
    finally:
        q.stop()
    ev = load_table(spark, SF, "events")
    batch = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
    )
    want = {(r["user_id"], r["s"], r["e"]): r["n"] for r in batch.collect()}
    assert got == want


def test_stream_stream_join_matches_batch(spark, events_stream_dir, tmp_path):
    """Watermarked stream-stream join (purchase within 2h of signup)
    equals the batch time-range join on the same data."""
    s_stream = stream_events_source(spark, events_stream_dir).where(
        F.col("event_type") == "signup"
    )
    p_stream = stream_events_source(spark, events_stream_dir).where(
        F.col("event_type") == "purchase"
    )
    joined = streaming_purchase_after_signup(s_stream, p_stream, "2 hours", "1 hour")
    q = run_stream_to_memory(joined, "ss_mem", "append", str(tmp_path / "ck_ss"))
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["signup_ts"], r["event_id"])
            for r in spark.sql("SELECT * FROM ss_mem").collect()
        }
    finally:
        q.stop()
    ev = load_table(spark, SF, "events")
    s = ev.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("su"), F.col("ts").alias("sts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"), "event_id"
    )
    batch = s.join(
        p,
        (F.col("su") == F.col("pu"))
        & (F.col("pts") >= F.col("sts"))
        & (F.col("pts") <= F.col("sts") + F.expr("INTERVAL 2 hours")),
    )
    want = {(r["su"], r["sts"], r["event_id"]) for r in batch.collect()}
    assert got == want


def test_stream_tumbling_counts_match_batch(spark, events_stream_dir, tmp_path):
    stream = stream_events_source(spark, events_stream_dir)
    agg = streaming_tumbling_counts(stream, "1 hour", "1 hour")
    q = run_stream_to_memory(agg, "tumb_mem", "update", str(tmp_path / "ckpt2"))
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["win_start"]): r["n_events"]
            for r in spark.sql("SELECT * FROM tumb_mem").collect()
        }
    finally:
        q.stop()
    ev = load_table(spark, SF, "events")
    batch = (
        ev.groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("ws"), "n")
    )
    want = {(r["user_id"], r["ws"]): r["n"] for r in batch.collect()}
    assert got == want


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Stream-side decontamination (stateless side-input filter) must
    agree doc-for-doc with the batch operator on the same split."""
    import shutil as _sh

    from martech_pipelines_spark.operators import dedup as DD
    from martech_pipelines_spark.sources.schemas import SCHEMAS
    from martech_pipelines_spark.streaming.stream import streaming_decontaminate

    docs = load_table(spark, SF, "documents")
    train = docs.where(F.col("doc_id") % 10 != 3)
    eval_docs = docs.where(F.col("doc_id") % 10 == 3)

    d = tmp_path / "docs_stream"
    d.mkdir()
    train.write.mode("overwrite").parquet(str(d))

    doc_stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 2)
        .parquet(str(d))
    )
    flagged = streaming_decontaminate(doc_stream, eval_docs, w=8)
    assert flagged.isStreaming
    q = run_stream_to_memory(
        flagged, "decon_mem", "append", str(tmp_path / "ckpt_decon")
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["n_eval_hits"], r["contaminated"])
            for r in spark.sql("SELECT * FROM decon_mem").collect()
        }
    finally:
        q.stop()
    want = {
        r["doc_id"]: (r["n_eval_hits"], r["contaminated"])
        for r in DD.decontaminate(train, eval_docs, w=8).collect()
    }
    assert got == want


def test_streaming_decontaminate_join_matches_closure(spark, tmp_path):
    """The stream-static-join form (no driver-side eval-hash collect)
    must agree doc-for-doc with the closure form and the batch operator."""
    from martech_pipelines_spark.operators import dedup as DD
    from martech_pipelines_spark.sources.schemas import SCHEMAS
    from martech_pipelines_spark.streaming.stream import (
        streaming_decontaminate_join,
    )

    docs = load_table(spark, SF, "documents")
    train = docs.where(F.col("doc_id") % 10 != 3)
    eval_docs = docs.where(F.col("doc_id") % 10 == 3)

    d = tmp_path / "docs_stream_j"
    d.mkdir()
    train.write.mode("overwrite").parquet(str(d))

    doc_stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 2)
        .parquet(str(d))
    )
    flagged = streaming_decontaminate_join(doc_stream, eval_docs, w=8)
    assert flagged.isStreaming
    q = run_stream_to_memory(
        flagged, "decon_join_mem", "update", str(tmp_path / "ckpt_decon_j")
    )
    try:
        q.processAllAvailable()
        # update mode re-emits a doc's row per trigger as state refines;
        # one source file holds each doc entirely, so the last row per
        # doc is final — dedupe keeping the max (monotone hit count).
        got = {}
        for r in spark.sql("SELECT * FROM decon_join_mem").collect():
            prev = got.get(r["doc_id"], (-1, False))
            if r["n_eval_hits"] > prev[0]:
                got[r["doc_id"]] = (r["n_eval_hits"], r["contaminated"])
    finally:
        q.stop()
    want = {
        r["doc_id"]: (r["n_eval_hits"], r["contaminated"])
        for r in DD.decontaminate(train, eval_docs, w=8).collect()
    }
    assert got == want


def test_streaming_minhash_ingest_matches_batch(spark, tmp_path):
    """Probe-then-admit ingest: union of per-batch pair outputs must equal
    the batch pipeline on the full corpus (restricted to streamed ids),
    for ANY batching — here one file per trigger."""
    from martech_pipelines_spark.operators import dedup as DD
    from martech_pipelines_spark.sources.schemas import SCHEMAS
    from martech_pipelines_spark.streaming.stream import streaming_minhash_ingest

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    index_corpus = docs.where(F.col("doc_id") % 5 == 0)
    streamed = (
        docs.where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat("text", F.lit(" zz yy xx")).alias("text"))
        .unionByName(
            docs.where(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.concat("text", F.lit(" zz yy xx")).alias("text"),
            )
        )
    )
    idx = str(tmp_path / "ingest_index")
    DD.minhash_build_index(index_corpus, idx, num_perm=16, shingle_n=3)

    stream_dir = tmp_path / "doc_batches"
    stream_dir.mkdir()
    # several files => several micro-batches
    streamed.repartition(4).write.mode("overwrite").parquet(str(stream_dir))

    doc_stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    pairs_path = str(tmp_path / "found_pairs")
    q = streaming_minhash_ingest(
        doc_stream, idx, pairs_path, str(tmp_path / "ckpt_ingest"), threshold=0.5
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in spark.read.parquet(pairs_path).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in DD.minhash_near_duplicates(
            index_corpus.unionByName(streamed),
            threshold=0.5, num_perm=16, bands=4, shingle_n=3,
        ).collect()
        if r["id_b"] >= 2000000
    }
    assert got == want and len(got) > 0


def test_stream_scd2_closed_versions_match_batch(spark, tmp_path):
    """streaming_scd2 over a ts-ordered 3-file stream must emit exactly
    the batch SCD2's closed (is_current=false) versions — cross-trigger
    state carries each key's open version between files."""
    import time as _time

    from martech_pipelines_spark.streaming.stream import streaming_scd2

    ev = load_table(spark, SF, "events").orderBy("ts", "event_id")
    rows = ev.count()
    d = tmp_path / "scd2_stream"
    d.mkdir()
    # three sequential ts-ranges -> three micro-batches in arrival order
    pdf = ev.toPandas()
    cut = rows // 3
    for i, chunk in enumerate((pdf[:cut], pdf[cut : 2 * cut], pdf[2 * cut :])):
        chunk.to_parquet(d / f"part-{i:03d}.parquet", index=False)
        _time.sleep(1.1)  # distinct mtimes => deterministic trigger order
    stream = stream_events_source(spark, str(d))
    q = run_stream_to_memory(
        streaming_scd2(stream), "scd2_mem", "append", str(tmp_path / "ckpt_scd2")
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["user_id"], r["event_id"], r["event_type"], r["valid_from"], r["valid_to"])
            for r in spark.sql("SELECT * FROM scd2_mem").collect()
        )
    finally:
        q.stop()
    batch = cdc.scd2_from_changes(
        load_table(spark, SF, "events").select("user_id", "event_id", "event_type", "ts"),
        "user_id",
        "ts",
        tiebreak_cols=["event_id"],
    ).where(~F.col("is_current"))
    want = sorted(
        (r["user_id"], r["event_id"], r["event_type"], r["valid_from"], r["valid_to"])
        for r in batch.collect()
    )
    assert got == want


def test_streaming_postings_ingest_matches_batch_index(spark, tmp_path):
    """Ingesting the documents corpus as a 3-file stream must build an
    index whose BM25 answers equal the batch-built index's exactly —
    postings/df/stats are batching-invariant."""
    from martech_pipelines_spark.operators import text as TX
    from martech_pipelines_spark.streaming.stream import streaming_postings_ingest

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    d = tmp_path / "docs_stream"
    d.mkdir()
    pdf = docs.toPandas()
    cut = len(pdf) // 3
    for i, chunk in enumerate((pdf[:cut], pdf[cut : 2 * cut], pdf[2 * cut :])):
        chunk.to_parquet(d / f"part-{i:03d}.parquet", index=False)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    stream_idx = str(tmp_path / "stream_idx")
    q = streaming_postings_ingest(stream, stream_idx, str(tmp_path / "ckpt_pi"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch_idx = str(tmp_path / "batch_idx")
    TX.bm25_build_index(docs, batch_idx)
    terms = ("dup", "fast", "scan")
    got = sorted(
        map(tuple, TX.bm25_query_index(spark, stream_idx, terms, k=20).collect())
    )
    want = sorted(
        map(tuple, TX.bm25_query_index(spark, batch_idx, terms, k=20).collect())
    )
    assert got == want and len(got) == 20


def test_postings_ingest_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (foreachBatch is at-least-once after a
    failure) must overwrite its own batch_id directories, not
    double-append — query answers are unchanged after the replay."""
    from martech_pipelines_spark.operators import text as TX
    from martech_pipelines_spark.streaming.stream import _ingest_postings_batch

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "replay_idx")
    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    _ingest_postings_batch(half, 0, idx)
    _ingest_postings_batch(rest, 1, idx)
    terms = ("dup", "fast", "scan")
    before = sorted(map(tuple, TX.bm25_query_index(spark, idx, terms, k=20).collect()))
    _ingest_postings_batch(rest, 1, idx)  # replay batch 1
    after = sorted(map(tuple, TX.bm25_query_index(spark, idx, terms, k=20).collect()))
    assert before == after
    # and the accumulated index still equals the batch-built one
    batch_idx = str(tmp_path / "replay_batch_idx")
    TX.bm25_build_index(docs, batch_idx)
    want = sorted(
        map(tuple, TX.bm25_query_index(spark, batch_idx, terms, k=20).collect())
    )
    assert after == want


def test_batch_built_index_grows_via_streaming_ingest(spark, tmp_path):
    """The ADVICE-flagged layout case: bm25_build_index writes
    postings/batch_id=-1/term=X, so the streaming ingest can APPEND
    batch_id=N siblings to a batch-built index without conflicting
    partition depths — and the grown index answers exactly like a
    batch build over the union corpus."""
    from martech_pipelines_spark.operators import text as TX
    from martech_pipelines_spark.streaming.stream import _ingest_postings_batch

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "grown_idx")
    TX.bm25_build_index(old, idx)          # initial batch build
    _ingest_postings_batch(new, 0, idx)    # grown by the streaming path
    terms = ("dup", "fast", "scan")
    got = sorted(map(tuple, TX.bm25_query_index(spark, idx, terms, k=20).collect()))
    full_idx = str(tmp_path / "full_idx")
    TX.bm25_build_index(docs, full_idx)
    want = sorted(
        map(tuple, TX.bm25_query_index(spark, full_idx, terms, k=20).collect())
    )
    assert got == want and len(got) == 20


def test_streaming_upsert_sink_matches_batch_compaction(spark, tmp_path):
    """The maintained snapshot must equal the batch latest-per-key
    compaction of the full log even when micro-batches arrive OUT of
    timestamp order, and tombstone filtering must match h9's MERGE
    delete semantics."""
    from martech_pipelines_spark.streaming.stream import (
        read_upsert_snapshot,
        streaming_upsert_sink,
    )

    ev = load_table(spark, SF, "events")
    d = tmp_path / "chg_stream"
    d.mkdir()
    # write the SECOND half of the log first so file (= batch) order is
    # the reverse of event-time order
    cut = "2024-01-15"
    ev.where(F.col("ts") >= F.lit(cut).cast("timestamp")).coalesce(1).write.parquet(
        str(d / "b_late_half")
    )
    ev.where(F.col("ts") < F.lit(cut).cast("timestamp")).coalesce(1).write.parquet(
        str(d / "a_early_half")
    )
    import glob
    import shutil as _sh

    files = sorted(glob.glob(str(d / "b_late_half" / "part-*"))) + sorted(
        glob.glob(str(d / "a_early_half" / "part-*"))
    )
    sd = tmp_path / "stream_in"
    sd.mkdir()
    for i, f in enumerate(files):
        _sh.copy(f, sd / f"part-{i:03d}.parquet")

    from martech_pipelines_spark.sources.schemas import SCHEMAS

    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sd))
    )
    snap_path = str(tmp_path / "snapshot")
    q = streaming_upsert_sink(
        stream,
        snap_path,
        str(tmp_path / "ckpt_upsert"),
        key_cols="user_id",
        ts_col="ts",
        tiebreak_cols=["event_id"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["user_id"]: (r["ts"], r["event_id"], r["event_type"])
        for r in spark.read.parquet(snap_path).collect()
    }
    want = {
        r["user_id"]: (r["ts"], r["event_id"], r["event_type"])
        for r in cdc.latest_per_key(
            ev, "user_id", "ts", tiebreak_cols=["event_id"]
        ).collect()
    }
    assert got == want

    # tombstone-filtered read == h9 delete semantics (latest change of
    # type 'error' removes the key)
    live = read_upsert_snapshot(
        spark, snap_path, delete_types=("error",), change_type_col="event_type"
    )
    want_live = {k for k, v in want.items() if v[2] != "error"}
    assert {r["user_id"] for r in live.collect()} == want_live


def test_upsert_swap_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames (live dir gone, .old
    complete) must not lose the snapshot: the next apply restores .old
    as the base before folding."""
    import os

    from martech_pipelines_spark.streaming.stream import apply_upsert_batch

    snap = str(tmp_path / "snap")
    b1 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 10.0)], "k long, ts timestamp, v double"
    )
    apply_upsert_batch(b1, snap, ["k"], "ts", None)
    # simulate a crash mid-swap: live renamed to .old, .next never landed
    os.rename(snap, snap + ".old")
    b2 = spark.createDataFrame(
        [(2, dt.datetime(2024, 1, 2), 20.0)], "k long, ts timestamp, v double"
    )
    apply_upsert_batch(b2, snap, ["k"], "ts", None)
    got = {r["k"]: r["v"] for r in spark.read.parquet(snap).collect()}
    assert got == {1: 10.0, 2: 20.0}  # key 1 recovered from .old


def test_read_upsert_snapshot_null_change_type_is_live(spark, tmp_path):
    """NULL change type means 'not a delete' — 3VL of a bare ~isin()
    must not silently drop the row."""
    from martech_pipelines_spark.streaming.stream import read_upsert_snapshot

    snap = str(tmp_path / "snap_null")
    spark.createDataFrame(
        [(1, "error"), (2, None), (3, "click")], "k long, event_type string"
    ).write.parquet(snap)
    live = read_upsert_snapshot(spark, snap, delete_types=("error",))
    assert {r["k"] for r in live.collect()} == {2, 3}


def test_streaming_reach_maintenance_matches_batch(spark, tmp_path):
    """Stream the event log in multiple micro-batches through the reach
    state sink; the curve read off the maintained (day, user) state must
    equal the batch r28 curve (and replays are free: the merge is
    idempotent)."""
    import shutil as _sh

    from martech_pipelines_spark.operators.transforms import (
        reach_curve,
        user_days_of,
    )
    from martech_pipelines_spark.streaming.stream import (
        apply_reach_batch,
        stream_events_source,
        streaming_reach_maintenance,
    )

    d = tmp_path / "reach_stream"
    d.mkdir()
    # 3 files -> 3 micro-batches (maxFilesPerTrigger=1)
    ev = load_table(spark, SF, "events")
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"slice{i}"))
        import glob as _g

        src = _g.glob(str(tmp_path / f"slice{i}" / "part-*.parquet"))[0]
        _sh.copy(src, d / f"part-{i:03d}.parquet")

    state = str(tmp_path / "reach_state")
    stream = stream_events_source(spark, str(d))
    q = streaming_reach_maintenance(
        stream, state, str(tmp_path / "reach_ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {tuple(r) for r in reach_curve(spark.read.parquet(state)).collect()}
    want = {tuple(r) for r in reach_curve(user_days_of(ev)).collect()}
    assert got == want

    # replaying a batch is a no-op (idempotent merge)
    apply_reach_batch(ev.where(F.col("event_id") % 3 == 0), state)
    again = {tuple(r) for r in reach_curve(spark.read.parquet(state)).collect()}
    assert again == want


def test_streaming_covariance_equals_batch(spark, tmp_path):
    """h19's streaming twin: per-batch integer moment partitions merged
    at read time are BIT-identical to the batch s12 computation over
    the same rows — and re-applying a batch (at-least-once replay)
    changes nothing because the write is keyed by batch_id."""
    from martech_pipelines_spark.plans import QUERIES
    from martech_pipelines_spark.sources import load_table
    from martech_pipelines_spark.streaming.stream import (
        apply_covariance_batch,
        read_covariance_state,
        streaming_covariance_maintenance,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    # shard the table into 3 single-file batches for the file stream
    src = tmp_path / "vecs_in"
    emb.repartition(3).write.parquet(str(src))

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = str(tmp_path / "cov_state")
    q = streaming_covariance_maintenance(
        stream, state, str(tmp_path / "ckpt_cov")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        tuple(r) for r in read_covariance_state(spark, state).collect()
    )
    want = sorted(
        tuple(r) for r in QUERIES["s12_covariance"](spark, sf).collect()
    )
    assert got == want

    # at-least-once replay: drive the folds manually on a second state
    # dir (file->batch_id order in the real stream is not guaranteed, so
    # replay there can't be simulated deterministically), then re-apply
    # one batch — overwrite-by-batch_id must leave the state unchanged
    import glob

    state2 = str(tmp_path / "cov_state_manual")
    shards = sorted(glob.glob(str(src / "part-*")))
    for i, f in enumerate(shards):
        apply_covariance_batch(spark.read.parquet(f), i, state2)
    once = sorted(
        tuple(r) for r in read_covariance_state(spark, state2).collect()
    )
    assert once == want
    apply_covariance_batch(spark.read.parquet(shards[1]), 1, state2)
    again = sorted(
        tuple(r) for r in read_covariance_state(spark, state2).collect()
    )
    assert again == want


def test_streaming_funnel_matches_batch_fold(spark, tmp_path):
    """mart14/w6's streaming twin: per-user funnel state driven through
    three time-ordered micro-batches must reproduce the batch greedy
    min-chain's per-step user counts (windowed form, 48h)."""
    import os

    from martech_pipelines_spark.operators.transforms import ordered_funnel
    from martech_pipelines_spark.sources import load_table
    from martech_pipelines_spark.streaming.stream import streaming_funnel_state

    sf = "/root/testdata/sf0.001"
    steps = ["view", "click", "purchase"]
    within_s = 48 * 3600
    ev = load_table(spark, sf, "events")

    # three sequential time slices, written as one file each and fed in
    # order (mtimes staggered so the file source preserves the order)
    src = tmp_path / "funnel_in"
    src.mkdir()
    bounds = ev.selectExpr(
        "percentile_approx(ts, 0.33) AS a", "percentile_approx(ts, 0.66) AS b"
    ).first()
    slices = [
        ev.where(F.col("ts") <= bounds["a"]),
        ev.where((F.col("ts") > bounds["a"]) & (F.col("ts") <= bounds["b"])),
        ev.where(F.col("ts") > bounds["b"]),
    ]
    for i, sl in enumerate(slices):
        p = str(src / f"slice_{i}.parquet")
        sl.coalesce(1).write.parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src) + "/*")
    )
    out = streaming_funnel_state(stream, steps, within_s=within_s)
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.sql(
        "SELECT user_id, max(furthest) AS furthest FROM funnel_stream GROUP BY user_id"
    ).collect()
    got_counts = [
        sum(1 for r in emitted if r["furthest"] >= i) for i in range(len(steps))
    ]
    want = {
        r["step_idx"]: r["users"]
        for r in ordered_funnel(ev, steps, within_s=within_s).collect()
    }
    want_counts = [want.get(i, 0) for i in range(len(steps))]
    assert got_counts == want_counts


def test_streaming_funnel_repeated_step_type(spark, tmp_path):
    """A funnel may repeat an event type (['view','click','view'] =
    're-engagement'); the streaming twin must chain the second 'view'
    exactly like the batch fold does (ADVICE r6: a {type: index} map
    collapsed the repeats so such funnels could never complete)."""
    from martech_pipelines_spark.operators.transforms import ordered_funnel
    from martech_pipelines_spark.streaming.stream import streaming_funnel_state

    steps = ["view", "click", "view"]
    ev = load_table(spark, SF, "events")
    d = tmp_path / "funnel_rep"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-000.parquet")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    out = streaming_funnel_state(stream, steps)
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_rep")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_rep"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.sql(
        "SELECT user_id, max(furthest) AS furthest FROM funnel_rep GROUP BY user_id"
    ).collect()
    got_counts = [
        sum(1 for r in emitted if r["furthest"] >= i) for i in range(len(steps))
    ]
    want = {
        r["step_idx"]: r["users"] for r in ordered_funnel(ev, steps).collect()
    }
    want_counts = [want.get(i, 0) for i in range(len(steps))]
    assert got_counts == want_counts
    # the repeated third step must actually be reachable
    assert want_counts[2] > 0


def test_streaming_prep_index_matches_batch_build(spark, tmp_path):
    """pipe10b's streaming maintainer: documents drained through
    micro-batches must leave an index whose funnel report is identical
    to a one-shot batch build's, and replaying a batch (at-least-once
    delivery) must change nothing."""
    import glob
    import os

    from martech_pipelines_spark.operators import prep
    from martech_pipelines_spark.streaming.stream import (
        streaming_prep_index_maintenance,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    want_idx = str(tmp_path / "batch_idx")
    prep.prep_index_build(docs, want_idx, w=8)
    want = sorted(
        map(tuple, prep.prep_funnel_report(spark, want_idx).collect())
    )

    # two doc slices as separate files, streamed one file per trigger
    src = tmp_path / "docs_in"
    src.mkdir()
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a.parquet")
    )
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b.parquet")
    )
    for i, p in enumerate(sorted(glob.glob(str(src / "*.parquet")))):
        for root, _d, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (1000 + i, 1000 + i))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    idx = str(tmp_path / "stream_idx")
    q = streaming_prep_index_maintenance(
        stream, idx, str(tmp_path / "ck_prep"), w=8
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, prep.prep_funnel_report(spark, idx).collect()))
    assert got == want

    # replay a batch manually: overwrite semantics => no double counting
    prep.apply_prep_index_batch(
        docs.where(F.col("doc_id") % 2 == 0), 0, idx, w=8
    )
    again = sorted(map(tuple, prep.prep_funnel_report(spark, idx).collect()))
    assert again == want


def test_streaming_ivf_index_matches_batch_append(spark, tmp_path):
    """The streaming IVF maintainer: new vectors drained through
    micro-batches must leave exactly the cell assignments a one-shot
    batch append with the same frozen quantizer produces (bit-equal —
    assignment is deterministic given the centroid table), the probe
    over base+delta must equal the probe over the batch-appended index,
    partition pruning must hold on BOTH sides of the union, and
    replaying a micro-batch must change nothing."""
    import contextlib
    import glob
    import io
    import os

    from martech_pipelines_spark.operators import similarity as SIM
    from martech_pipelines_spark.streaming.stream import (
        streaming_ivf_index_maintenance,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 3 == 0)
    new = emb.where(F.col("vec_id") % 3 != 0)
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # expected: batch build on base + one-shot batch append of the rest
    want_idx = str(tmp_path / "want_idx")
    SIM.ivf_build_index(base, want_idx, nlist=8)
    SIM.ivf_index_append_batch(new, 0, want_idx)
    want_rows = sorted(
        map(tuple, SIM.ivf_probe_topk(queries, want_idx, k=5).collect())
    )
    want_cells = sorted(
        map(
            tuple,
            spark.read.parquet(f"{want_idx}/corpus_delta")
            .select("vec_id", "cell")
            .collect(),
        )
    )

    # streamed: same base index, the new vectors drained two files ->
    # two micro-batches
    got_idx = str(tmp_path / "got_idx")
    SIM.ivf_build_index(base, got_idx, nlist=8)
    src = tmp_path / "vec_in"
    src.mkdir()
    new.where(F.col("vec_id") % 3 == 1).coalesce(1).write.parquet(
        str(src / "a.parquet")
    )
    new.where(F.col("vec_id") % 3 == 2).coalesce(1).write.parquet(
        str(src / "b.parquet")
    )
    for i, p in enumerate(sorted(glob.glob(str(src / "*.parquet")))):
        for root, _d, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (1000 + i, 1000 + i))
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = streaming_ivf_index_maintenance(
        stream, got_idx, str(tmp_path / "ck_ivf")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_cells = sorted(
        map(
            tuple,
            spark.read.parquet(f"{got_idx}/corpus_delta")
            .select("vec_id", "cell")
            .collect(),
        )
    )
    assert got_cells == want_cells  # frozen-quantizer assignment, bit-equal
    probe = SIM.ivf_probe_topk(queries, got_idx, k=5)
    assert sorted(map(tuple, probe.collect())) == want_rows

    # pruning survives the union: every corpus-side scan (base AND
    # delta) carries a cell PartitionFilter
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    pf = [
        ln
        for ln in buf.getvalue().splitlines()
        if "PartitionFilters" in ln and "cell" in ln
    ]
    assert len(pf) >= 2, buf.getvalue()

    # at-least-once replay: re-land micro-batch 0's file -> overwrite,
    # nothing double-counted
    replay = spark.read.parquet(str(src / "a.parquet"))
    SIM.ivf_index_append_batch(replay, 0, got_idx)
    again = sorted(
        map(tuple, SIM.ivf_probe_topk(queries, got_idx, k=5).collect())
    )
    assert again == want_rows


def test_streaming_det_ivf_maintenance_stays_under_the_oracle(spark, tmp_path):
    """The deterministic index (s2h's layout) maintained by the SAME
    streaming job as the trained one (``append_fn`` swap): after the
    later-arrivals stream drains in two micro-batches, the pruned
    base+delta probe must still be bit-equal to the inline
    ``ivf_deterministic_topk`` over the whole corpus — the streamed
    path stays under s2g's value oracle, not just row-stable.  Also
    guards the split contract with a second, different min-preserving
    split: ANY delta that excludes ids < nlist leaves the base-trained
    frozen quantizer equal to the full-corpus representative table."""
    import glob
    import os

    from martech_pipelines_spark.operators import similarity as SIM
    from martech_pipelines_spark.streaming.stream import (
        streaming_ivf_index_maintenance,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cols = ("query_id", "vec_id", "cos_sim", "rnk")
    inline = sorted(
        map(
            tuple,
            SIM.ivf_deterministic_topk(queries, emb, nlist=16, nprobe=4, k=5)
            .select(*cols)
            .collect(),
        )
    )

    # streamed maintenance on the s2h split
    delta_pred = (F.col("vec_id") % 5 == 4) & (F.col("vec_id") >= 16)
    idx = str(tmp_path / "det_idx")
    SIM.ivf_det_build_index(emb.where(~delta_pred), idx, nlist=16)
    src = tmp_path / "vec_in"
    src.mkdir()
    new = emb.where(delta_pred)
    new.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a.parquet")
    )
    new.where(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b.parquet")
    )
    for i, p in enumerate(sorted(glob.glob(str(src / "*.parquet")))):
        for root, _d, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (1000 + i, 1000 + i))
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = streaming_ivf_index_maintenance(
        stream,
        idx,
        str(tmp_path / "ck_det_ivf"),
        append_fn=SIM.ivf_det_append_batch,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        map(
            tuple,
            SIM.ivf_det_probe_topk(queries, idx, k=5, nprobe=4)
            .select(*cols)
            .collect(),
        )
    )
    assert got == inline

    # a different min-preserving split (batch append) — same answer
    idx2 = str(tmp_path / "det_idx2")
    pred2 = (F.col("vec_id") % 3 == 1) & (F.col("vec_id") >= 16)
    SIM.ivf_det_build_index(emb.where(~pred2), idx2, nlist=16)
    SIM.ivf_det_append_batch(emb.where(pred2), 0, idx2)
    got2 = sorted(
        map(
            tuple,
            SIM.ivf_det_probe_topk(queries, idx2, k=5, nprobe=4)
            .select(*cols)
            .collect(),
        )
    )
    assert got2 == inline


def test_streaming_sessionize_matches_batch_labels(spark, tmp_path):
    """r35's streaming twin: after draining the event log through
    micro-batches, every event's session label must equal the batch
    lag-flag + running-sum window's label."""
    from martech_pipelines_spark.plans import QUERIES
    from martech_pipelines_spark.streaming.stream import streaming_sessionize

    d = tmp_path / "r35_stream"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-000.parquet")
    stream = stream_events_source(spark, str(d), max_files_per_trigger=1)
    out = streaming_sessionize(stream, gap_s=30 * 60)
    q = run_stream_to_memory(out, "r35_mem", "append", str(tmp_path / "ck_r35"))
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["event_id"]): r["session_seq"]
            for r in spark.sql("SELECT * FROM r35_mem").collect()
        }
    finally:
        q.stop()
    want = {
        (r["user_id"], r["event_id"]): r["session_seq"]
        for r in QUERIES["r35_sessionize"](spark, SF).collect()
    }
    assert got == want
    assert max(got.values()) > 1  # the gap rule actually split sessions


def test_streaming_latest_n_matches_batch_window(spark, tmp_path):
    """r34's streaming twin: after draining the full event log through
    micro-batches, each user's final emitted top-3 must equal the batch
    window's rows (same (ts, event_id) DESC total order)."""
    from martech_pipelines_spark.plans import QUERIES
    from martech_pipelines_spark.streaming.stream import (
        streaming_latest_n_per_key,
    )

    d = tmp_path / "r34_stream"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-000.parquet")
    stream = stream_events_source(spark, str(d), max_files_per_trigger=1)
    out = streaming_latest_n_per_key(stream, n=3)
    q = run_stream_to_memory(out, "r34_mem", "update", str(tmp_path / "ck_r34"))
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["rn"]): (r["event_id"],)
            for r in spark.sql("SELECT * FROM r34_mem").collect()
        }
    finally:
        q.stop()
    want = {
        (r["user_id"], r["rn"]): (r["event_id"],)
        for r in QUERIES["r34_latest_n_per_key"](spark, SF).collect()
    }
    assert got == want


def test_streaming_rolling_zscore_matches_batch(spark, tmp_path):
    """dq2's streaming twin: drain the event log through time-ordered
    micro-batches; every FINALIZED day's (v, mu, z, anomaly) must equal
    the batch rolling_zscore row bit-for-bit (integer-cent moments +
    identical double tree + HALF_UP rounding on both paths).  The
    stream-end open day per key is not emitted — excluded from the
    batch side of the comparison."""
    from martech_pipelines_spark.operators import transforms as TR
    from martech_pipelines_spark.streaming.stream import (
        streaming_rolling_zscore,
        stream_events_source,
    )

    ev = load_table(spark, SF, "events")
    # three time-ordered files -> three triggers
    cuts = ev.selectExpr(
        "percentile(unix_micros(ts), array(0.34, 0.67)) AS c"
    ).collect()[0]["c"]
    d = tmp_path / "dq2_stream"
    d.mkdir()
    parts = [
        ev.where(F.unix_micros("ts") < int(cuts[0])),
        ev.where(
            (F.unix_micros("ts") >= int(cuts[0]))
            & (F.unix_micros("ts") < int(cuts[1]))
        ),
        ev.where(F.unix_micros("ts") >= int(cuts[1])),
    ]
    for i, part in enumerate(parts):
        part.coalesce(1).write.mode("overwrite").parquet(str(d / f"b{i}"))
        # the file source reads a flat dir of parquet files
        import glob as _glob
        import shutil as _shutil

        for f in _glob.glob(str(d / f"b{i}" / "part-*.parquet")):
            _shutil.copy(f, d / f"file-{i}.parquet")
        _shutil.rmtree(d / f"b{i}")

    stream = stream_events_source(spark, str(d), max_files_per_trigger=1)
    out = streaming_rolling_zscore(stream, window_periods=7)
    q = run_stream_to_memory(out, "dq2_mem", "append", str(tmp_path / "ck_dq2"))
    try:
        q.processAllAvailable()
        got = {
            (r["event_type"], r["day_us"]): (
                r["v"], r["mu"], r["z"], r["anomaly"]
            )
            for r in spark.sql("SELECT * FROM dq2_mem").collect()
        }
    finally:
        q.stop()

    batch = TR.rolling_zscore(ev, "event_type", "ts", "value", window_periods=7)
    open_day = {
        r["event_type"]: r["m"]
        for r in ev.groupBy("event_type")
        .agg(
            F.expr(
                "max(unix_micros(ts) div 86400000000 * 86400000000)"
            ).alias("m")
        )
        .collect()
    }
    want = {}
    for r in batch.collect():
        day = int(r["period"].replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
        if day != open_day[r["event_type"]]:
            want[(r["event_type"], day)] = (r["v"], r["mu"], r["z"], r["anomaly"])
    assert len(want) > 50
    assert got == want
    # the monitor actually fired somewhere
    assert any(v[3] for v in got.values()) or all(
        v[2] is not None for v in list(got.values())[:5]
    )


def test_streaming_session_maintenance_matches_batch(spark, tmp_path):
    """h21's streaming twin: per-batch session-interval partitions
    coalesced at read must equal the batch sessionization of the same
    events, and a batch_id-keyed replay is a no-op (overwrite of an
    identical partition)."""
    import glob as _g
    import shutil as _sh

    from martech_pipelines_spark.operators.windows import (
        numbered_sessions,
        session_intervals,
    )
    from martech_pipelines_spark.streaming.stream import (
        apply_session_batch,
        read_session_state,
        stream_events_source,
        streaming_session_maintenance,
    )

    d = tmp_path / "sess_stream"
    d.mkdir()
    ev = load_table(spark, SF, "events")
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"slice{i}"))
        src = _g.glob(str(tmp_path / f"slice{i}" / "part-*.parquet"))[0]
        _sh.copy(src, d / f"part-{i:03d}.parquet")

    state = str(tmp_path / "sess_state")
    stream = stream_events_source(spark, str(d))
    q = streaming_session_maintenance(
        stream, state, str(tmp_path / "sess_ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {tuple(r) for r in read_session_state(spark, state).collect()}
    want = {
        tuple(r)
        for r in numbered_sessions(session_intervals(ev)).collect()
    }
    assert got == want

    # replaying batch 0 overwrites its own partition with identical
    # content -> the rendered table is unchanged
    bdirs = sorted(_g.glob(state + "/batch_id=*"))
    assert len(bdirs) == 3
    apply_session_batch(ev.where(F.col("event_id") % 3 == 0), 0, state)
    again = {tuple(r) for r in read_session_state(spark, state).collect()}
    assert again == want


def test_streaming_card_maintenance_matches_batch(spark, tmp_path):
    """pipe12's streaming twin: per-batch card-state partitions merged
    at read must render the same card as the batch recompute."""
    import glob as _g
    import shutil as _sh

    from martech_pipelines_spark.operators.prep import (
        dataset_card_state,
        render_dataset_card,
    )
    from martech_pipelines_spark.streaming.stream import (
        read_card_state,
        streaming_card_maintenance,
    )

    d = tmp_path / "docs_stream"
    d.mkdir()
    docs = load_table(spark, SF, "documents")
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"dslice{i}"))
        src = _g.glob(str(tmp_path / f"dslice{i}" / "part-*.parquet"))[0]
        _sh.copy(src, d / f"part-{i:03d}.parquet")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    state = str(tmp_path / "card_state")
    q = streaming_card_maintenance(stream, state, str(tmp_path / "card_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {tuple(r) for r in read_card_state(spark, state).collect()}
    want = {
        tuple(r)
        for r in render_dataset_card(dataset_card_state(docs)).collect()
    }
    assert got == want


def test_streaming_journey_maintenance_matches_batch(spark, tmp_path):
    """h27's streaming twin: per-batch journey-state partitions folded
    at read (batch_id order) must reproduce the batch mart24 readout —
    including funnels that SPAN micro-batch boundaries, which is why
    matches are computed at read and never per batch."""
    import glob as _g
    import shutil as _sh

    from martech_pipelines_spark.operators.windows import (
        journey_readout,
        journey_state,
    )
    from martech_pipelines_spark.streaming.stream import (
        read_journey_state,
        streaming_journey_maintenance,
    )

    ev = load_table(spark, SF, "events")
    # event-time-ordered slices (the documented ingestion contract):
    # tercile cuts on integer micros
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    c1, c2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    slices = [
        ev.where(F.unix_micros("ts") < c1),
        ev.where((F.unix_micros("ts") >= c1) & (F.unix_micros("ts") < c2)),
        ev.where(F.unix_micros("ts") >= c2),
    ]
    d = tmp_path / "jr_stream"
    d.mkdir()
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"jrslice{i}")
        )
        src = _g.glob(str(tmp_path / f"jrslice{i}" / "part-*.parquet"))[0]
        _sh.copy(src, d / f"part-{i:03d}.parquet")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    state = str(tmp_path / "jr_state")
    q = streaming_journey_maintenance(stream, state, str(tmp_path / "jr_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(map(tuple, read_journey_state(spark, state).collect()))
    want = sorted(map(tuple, journey_readout(journey_state(ev)).collect()))
    assert got == want


def test_journey_state_out_of_order_batches_raise(spark, tmp_path):
    """ADVICE r9: out-of-order ingestion used to silently scramble
    journey strings (the read-side fold concatenates by batch_id).  The
    per-batch (min_ts, max_ts) markers now turn the contract violation
    into a loud error: time-reversed batch_ids must raise, and the same
    slices in the correct order must still read clean."""
    import pytest as _pt

    from martech_pipelines_spark.streaming.stream import (
        apply_journey_batch,
        read_journey_state,
    )

    ev = load_table(spark, SF, "events")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    cut = lo + (hi - lo) // 2
    early = ev.where(F.unix_micros("ts") < cut)
    late = ev.where(F.unix_micros("ts") >= cut)

    bad = str(tmp_path / "jr_bad")
    apply_journey_batch(late, 0, bad)  # later time range lands FIRST
    apply_journey_batch(early, 1, bad)
    with _pt.raises(ValueError, match="ordered-ingestion"):
        read_journey_state(spark, bad).collect()

    good = str(tmp_path / "jr_good")
    apply_journey_batch(early, 0, good)
    apply_journey_batch(late, 1, good)
    assert read_journey_state(spark, good).count() > 0


def test_streaming_slo_maintenance_matches_batch(spark, tmp_path):
    """dq15's streaming twin: per-batch daily counter cells folded at
    read must reproduce the batch error-budget report — counters are
    commutative sums, so slices are deliberately NOT time-ordered."""
    import glob as _g
    import shutil as _sh

    from martech_pipelines_spark.plans import QUERIES
    from martech_pipelines_spark.streaming.stream import (
        read_slo_state,
        streaming_slo_maintenance,
    )

    ev = load_table(spark, SF, "events")
    d = tmp_path / "slo_stream"
    d.mkdir()
    for i in range(3):  # arbitrary id-mod slices: order must not matter
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"sloslice{i}"))
        src = _g.glob(str(tmp_path / f"sloslice{i}" / "part-*.parquet"))[0]
        _sh.copy(src, d / f"part-{i:03d}.parquet")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    state = str(tmp_path / "slo_state")
    q = streaming_slo_maintenance(stream, state, str(tmp_path / "slo_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(map(tuple, read_slo_state(spark, state).collect()))
    want = sorted(map(tuple, QUERIES["dq15_error_budget"](spark, SF).collect()))
    assert got == want


def test_streaming_hist_maintenance_matches_batch(spark, tmp_path):
    """r40's streaming twin: per-batch histogram cells folded at read
    must reproduce the batch quantile report — cells are commutative
    sums, so slices are deliberately NOT ordered (id-mod split)."""
    import glob as _g
    import shutil as _sh

    from martech_pipelines_spark.plans import QUERIES
    from martech_pipelines_spark.streaming.stream import (
        read_hist_state,
        streaming_hist_maintenance,
    )

    li = load_table(spark, SF, "lineitem")
    d = tmp_path / "hist_stream"
    d.mkdir()
    for i in range(3):
        li.where(F.col("l_orderkey") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"histslice{i}"))
        src = _g.glob(str(tmp_path / f"histslice{i}" / "part-*.parquet"))[0]
        _sh.copy(src, d / f"part-{i:03d}.parquet")

    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    state = str(tmp_path / "hist_state")
    q = streaming_hist_maintenance(stream, state, str(tmp_path / "hist_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(map(tuple, read_hist_state(spark, state).collect()))
    want = sorted(
        map(tuple, QUERIES["r40_histogram_quantile"](spark, SF).collect())
    )
    assert got == want and len(got) > 0


def test_streaming_transitions_maintenance_matches_batch(spark, tmp_path):
    """mart28's streaming twin: within-batch cells + boundary stitching
    folded at read must reproduce the batch transition matrix —
    including transitions that SPAN micro-batch boundaries and users
    absent from intermediate batches."""
    import glob as _g
    import shutil as _sh

    from martech_pipelines_spark.plans import QUERIES
    from martech_pipelines_spark.streaming.stream import (
        read_transitions_state,
        streaming_transitions_maintenance,
    )

    ev = load_table(spark, SF, "events")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    c1, c2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    slices = [
        ev.where(F.unix_micros("ts") < c1),
        ev.where((F.unix_micros("ts") >= c1) & (F.unix_micros("ts") < c2)),
        ev.where(F.unix_micros("ts") >= c2),
    ]
    d = tmp_path / "tr_stream"
    d.mkdir()
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"trslice{i}")
        )
        src = _g.glob(str(tmp_path / f"trslice{i}" / "part-*.parquet"))[0]
        _sh.copy(src, d / f"part-{i:03d}.parquet")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    state = str(tmp_path / "tr_state")
    q = streaming_transitions_maintenance(
        stream, state, str(tmp_path / "tr_ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(map(tuple, read_transitions_state(spark, state).collect()))
    want = sorted(
        map(
            tuple,
            QUERIES["mart28_journey_transitions"](spark, SF).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_streaming_kmv_maintenance_matches_batch(spark, tmp_path):
    """h39's streaming twin: the event log streamed in 3 micro-batches
    through the KMV fold sink; estimates AND theta set-ops read off the
    maintained state must equal the batch forms bit-for-bit, and a
    replayed batch changes nothing (idempotent k-smallest merge)."""
    import glob as _g
    import shutil as _sh

    from martech_pipelines_spark.operators import sketches as SK
    from martech_pipelines_spark.streaming.stream import (
        apply_kmv_batch,
        stream_events_source,
        streaming_kmv_maintenance,
    )

    d = tmp_path / "kmv_stream"
    d.mkdir()
    ev = load_table(spark, SF, "events")
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"kslice{i}"))
        src = _g.glob(str(tmp_path / f"kslice{i}" / "part-*.parquet"))[0]
        _sh.copy(src, d / f"part-{i:03d}.parquet")

    state = str(tmp_path / "kmv_state")
    stream = stream_events_source(spark, str(d))
    q = streaming_kmv_maintenance(stream, state, str(tmp_path / "kmv_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    st = spark.read.parquet(state)
    batch_sk = SK.kmv_sketch_table(ev, "event_type", "user_id", k=64)
    got_est = {tuple(r) for r in SK.kmv_estimate(st, "event_type", k=64).collect()}
    want_est = {
        tuple(r) for r in SK.kmv_estimate(batch_sk, "event_type", k=64).collect()
    }
    assert got_est == want_est and got_est
    got_ops = {
        tuple(r) for r in SK.kmv_theta_setops(st, "event_type", k=64).collect()
    }
    want_ops = {
        tuple(r)
        for r in SK.kmv_theta_setops(batch_sk, "event_type", k=64).collect()
    }
    assert got_ops == want_ops and got_ops

    # at-least-once replay is a no-op
    apply_kmv_batch(
        ev.where(F.col("event_id") % 3 == 0), state, "event_type", "user_id"
    )
    again = {
        tuple(r)
        for r in SK.kmv_estimate(
            spark.read.parquet(state), "event_type", k=64
        ).collect()
    }
    assert again == want_est


def test_streaming_hll_maintenance_matches_batch(spark, tmp_path):
    """h7b's streaming twin: registers maintained across 3 micro-batches
    equal the full-log register table cell-for-cell; replay is free."""
    import glob as _g
    import shutil as _sh

    from martech_pipelines_spark.operators.sketches import hll_registers as _hll_registers
    from martech_pipelines_spark.streaming.stream import (
        apply_hll_batch,
        stream_events_source,
        streaming_hll_maintenance,
    )

    d = tmp_path / "hll_stream"
    d.mkdir()
    ev = load_table(spark, SF, "events")
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"hslice{i}"))
        src = _g.glob(str(tmp_path / f"hslice{i}" / "part-*.parquet"))[0]
        _sh.copy(src, d / f"part-{i:03d}.parquet")

    state = str(tmp_path / "hll_state")
    stream = stream_events_source(spark, str(d))
    q = streaming_hll_maintenance(stream, state, str(tmp_path / "hll_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {tuple(r) for r in spark.read.parquet(state).collect()}
    want = {tuple(r) for r in _hll_registers(ev).collect()}
    assert got == want and got

    apply_hll_batch(ev.where(F.col("event_id") % 3 == 1), state)
    again = {tuple(r) for r in spark.read.parquet(state).collect()}
    assert again == want
