"""Conf-driven job entry points (SURVEY.md §3 EP1/EP3).

The reference's jobs are classes with a ``launch()`` driven by a
``--conf-file`` JSON (reference: martech_pipelines/tasks/base.py:13-80,
tasks/user_profile/clevertap.py:6-66), deployed via Databricks dbx. The
engine replaces that with plain ``spark-submit``-able modules: the same
conf shape, a session from the engine factory, and the pipeline composed
from operators — no dbutils, no Databricks coupling.

Run:  python -m martech_pipelines_spark.job --conf-file conf.json
Conf: {"job_name": "ct", "events_path": "...", "watermark_path": null,
       "pass_types": ["purchase", "signup"], "output_path": "..."}
"""

from __future__ import annotations

import argparse
import datetime as dt
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from martech_pipelines_spark.operators import cdc
from martech_pipelines_spark.operators.sinks import write_file
from martech_pipelines_spark.sources import read_text_conf
from martech_pipelines_spark.sources.schemas import SCHEMAS, STREAMING_JOB_RUNS_SCHEMA


class UserProfileExportJob:
    """The flagship pipeline as a deployable job: watermark -> incremental
    change scan -> change-type filter -> latest-per-key compaction ->
    export projection -> sink (reference: tasks/user_profile/clevertap.py)."""

    def __init__(self, spark: SparkSession, conf: dict) -> None:
        self.spark = spark
        self.conf = conf

    def _watermark(self) -> dt.datetime | None:
        path = self.conf.get("watermark_path")
        if not path:
            return None  # H4 cold start
        try:
            runs = self.spark.read.schema(STREAMING_JOB_RUNS_SCHEMA).parquet(path)
        except Exception:  # noqa: BLE001 - first run: table absent
            return None
        return cdc.lookup_watermark(runs, self.conf["job_name"])

    def transform(self, events: DataFrame) -> DataFrame:
        compact = cdc.cdc_compact(
            events,
            key_cols=self.conf.get("key_col", "user_id"),
            ts_col=self.conf.get("ts_col", "ts"),
            since=self._watermark(),
            change_type_col=self.conf.get("change_type_col", "event_type"),
            pass_types=tuple(self.conf.get("pass_types", ["purchase", "signup"])),
            tiebreak_cols=[self.conf.get("tiebreak_col", "event_id")],
        )
        from martech_pipelines_spark.functions import profile as P

        return compact.select(
            F.col(self.conf.get("key_col", "user_id")).alias("identity"),
            F.date_format(self.conf.get("ts_col", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "updated_at"
            ),
            # F6 via the shared function so the pinned truncate-toward-zero
            # semantics have one source of truth (it compiles to the same
            # *100 long cast this inlined before)
            P.modify_reward(F.col("value")).alias("value_paise"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )

    def launch(self) -> dict:
        from martech_pipelines_spark.sources.readers import load_table
        import os

        events_path = self.conf["events_path"]
        sf_dir, table = os.path.split(events_path.rstrip("/"))
        events = load_table(self.spark, sf_dir, table.removesuffix(".parquet"))
        out = self.transform(events)
        n = out.count()
        if self.conf.get("output_path"):
            write_file(out, self.conf["output_path"], fmt="parquet")
        return {"job_name": self.conf["job_name"], "rows": n}


def main(argv: list[str] | None = None) -> dict:
    parser = argparse.ArgumentParser()
    parser.add_argument("--conf-file", required=True)
    args = parser.parse_args(argv)

    from martech_pipelines_spark import get_spark

    spark = get_spark("user_profile_export")
    conf = read_text_conf(spark, args.conf_file)
    result = UserProfileExportJob(spark, conf).launch()
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
