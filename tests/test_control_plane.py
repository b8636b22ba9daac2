"""Control-plane parity: connections/secrets, object-store hook surface,
CSV sink, hot-key compaction, conf-driven job (SURVEY.md EP1/EP2, §2.A7/B5/B7)."""

from __future__ import annotations

import gzip
import json

import pytest

from martech_pipelines_spark.operators import cdc
from martech_pipelines_spark.operators.connections import (
    Connection,
    ConnectionRegistry,
    env_secret_provider,
)
from martech_pipelines_spark.sources import load_table
from martech_pipelines_spark.sources.objectstore import LocalObjectStore, parse_uri

SF = "/root/testdata/sf0.001"


# --- connections -------------------------------------------------------------


def test_connection_extras_and_secret_resolution(monkeypatch):
    monkeypatch.setenv("MARTECH_API_KEY", "sekret")
    reg = ConnectionRegistry(
        {
            "clevertap": {
                "conn_type": "http",
                "host": "api.example.com",
                "login": "acct",
                "password_secret": "martech/api-key",
                "extra": '{"X-Passcode": "p"}',
            }
        },
        secret_provider=env_secret_provider,
    )
    conn = reg.get("clevertap")
    assert conn.password == "sekret"  # env provider upper-cases non-alnum
    assert conn.extra_dejson == {"X-Passcode": "p"}
    with pytest.raises(KeyError):
        reg.get("nope")


def test_connection_bad_extra_is_empty_dict():
    assert Connection("x", extra="not json").extra_dejson == {}


# --- object store ------------------------------------------------------------


def test_parse_uri():
    assert parse_uri("store://bucket/a/b.csv") == ("bucket", "a/b.csv")
    assert parse_uri("plain/path/key.csv") == ("plain/path", "key.csv")


def test_objectstore_surface(tmp_path):
    store = LocalObjectStore(str(tmp_path))
    store.upload_bytes("in/a.csv", b"x,y\n1,2\n")
    store.upload_bytes("in/b.csv.gz", b"x,y\n3,4\n", gzip_compress=True)
    store.upload_bytes("other/c.txt", b"zz")

    assert store.check_for_key("in/a.csv")
    assert not store.check_for_key("in/missing.csv")
    assert store.list_keys("in") == ["in/a.csv", "in/b.csv.gz"]
    assert store.list_keys(pattern="*.csv") == ["in/a.csv"]
    assert store.list_prefixes() == ["in", "other"]
    assert store.read_key("in/a.csv") == b"x,y\n1,2\n"
    assert gzip.decompress(store.read_key("in/b.csv.gz")) == b"x,y\n3,4\n"

    store.copy_key("in/a.csv", "archive/a.csv")
    assert store.check_for_key("archive/a.csv")
    n = store.delete_keys(["in/a.csv", "in/missing.csv", "other/c.txt"])
    assert n == 2 and store.list_keys("in") == ["in/b.csv.gz"]


# --- salted compaction -------------------------------------------------------


def _latest_reference(rows, key, order):
    """Newest row per key computed in plain Python: the row with the
    largest ``order`` tuple among each key's rows."""
    best = {}
    for r in rows:
        k = r[key]
        if k not in best or tuple(r[c] for c in order) > tuple(best[k][c] for c in order):
            best[k] = r
    return sorted(tuple(r[c] for c in sorted(r.asDict())) for r in best.values())


def test_latest_per_key_under_planted_hot_key(spark):
    """One key owning 99% of rows compacts to exactly one row, the one a
    closed-form reference names (the hot key's newest row is seq 99,999)."""
    from pyspark.sql import functions as F

    hot = spark.range(100_000).select(
        F.lit(7).alias("k"),
        F.col("id").alias("seq"),
        (F.col("id") % 977).alias("v"),
    )
    cold = spark.range(1_000).select(
        (F.col("id") + 100).alias("k"),
        F.col("id").alias("seq"),
        F.lit(0).cast("long").alias("v"),
    )
    df = hot.unionByName(cold).withColumn(
        "ts", F.timestamp_micros(F.col("seq") * 1_000_000)
    )
    out = cdc.latest_per_key(df, "k", "ts", ["seq"])
    got = sorted(
        map(tuple, out.select("k", "seq", "v", F.unix_timestamp("ts")).collect())
    )
    want = [(100 + i, i, 0, i) for i in range(1_000)]
    want = sorted(want + [(7, 99_999, 99_999 % 977, 99_999)])
    assert len(got) == 1001  # hot key compacted to exactly one row
    assert got == want


def test_latest_per_key_matches_reference_on_events(spark):
    ev = load_table(spark, SF, "events")
    got = cdc.latest_per_key(ev, "user_id", "ts", ["event_id"])
    assert sorted(
        map(tuple, got.select(*sorted(got.columns)).collect())
    ) == _latest_reference(ev.collect(), "user_id", ("ts", "event_id"))


# --- CSV byte-capped sink ----------------------------------------------------


def test_rest_csv_sink_caps_and_headers(spark, tmp_path):
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from martech_pipelines_spark.operators.sinks import (
        RestSinkConfig,
        rest_csv_batch_sink,
    )

    store: list[dict] = []

    class H(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            body = self.rfile.read(int(self.headers["Content-Length"]))
            store.append(
                {"body": body, "bid": self.headers.get("X-Batch-Id"),
                 "ct": self.headers.get("Content-Type")}
            )
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        df = spark.createDataFrame(
            [(i, f"name,{i}") for i in range(200)], "id long, name string"
        ).coalesce(1)
        cfg = RestSinkConfig(url=f"http://127.0.0.1:{srv.server_port}/csv")
        metrics = rest_csv_batch_sink(df, cfg, max_bytes=600)
        assert metrics["sent"] == 200
        assert metrics["batches"] == len(store) and len(store) > 1
        total_rows = 0
        for rec in store:
            lines = rec["body"].decode().strip().split("\n")
            assert lines[0] == "id,name"  # header per chunk
            assert rec["ct"] == "text/csv" and rec["bid"]
            # quoted comma survives the roundtrip
            assert all('"name,' in ln for ln in lines[1:])
            total_rows += len(lines) - 1
        assert total_rows == 200
    finally:
        srv.shutdown()


# --- conf-driven job ---------------------------------------------------------


def test_user_profile_export_job(spark, tmp_path):
    from martech_pipelines_spark.job import UserProfileExportJob

    conf = {
        "job_name": "ct",
        "events_path": f"{SF}/events.parquet",
        "pass_types": ["purchase", "signup"],
        "output_path": str(tmp_path / "out"),
    }
    result = UserProfileExportJob(spark, conf).launch()
    assert result == {"job_name": "ct", "rows": 15}
    back = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(back.columns) == ["identity", "k", "updated_at", "value_paise"]
    assert back.count() == 15


def test_job_conf_file_roundtrip(spark, tmp_path):
    from martech_pipelines_spark.sources import read_text_conf

    conf = {"job_name": "ct", "events_path": f"{SF}/events.parquet"}
    p = tmp_path / "conf.json"
    p.write_text(json.dumps(conf))
    assert read_text_conf(spark, str(p)) == conf
