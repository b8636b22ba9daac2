"""The benchmark's workloads: named steps, how each runs, and how its
output is checked against the DuckDB oracle of the corpus query behind it.

A step runs in two phases. *build* calls the corpus query and forces its
physical plan (any jobs launched here are eager driver round-trips);
*action* materialises every output column: ``collect()`` for a query step,
or the sink call for a sink step. Checks run after the timed passes, on
the outputs the passes kept, so no step is re-run to be checked.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass

import duckdb
import pyarrow.dataset as ds

from tools.check_oracle import df_to_multiset


@dataclass(frozen=True)
class Step:
    name: str
    query: str  # corpus query that produces the step's data
    sink: str | None = None  # None, "rest_json", "rest_csv" or "parquet"


def _queries(*names: str) -> list[Step]:
    return [Step(n, n) for n in names]


WORKLOADS: dict[str, list[Step]] = {
    # The paper's pipeline: change-log compaction to the latest row per key
    # (two strategies), profile export, and the three sinks.
    "martech_sync": _queries(
        "flagship_cdc_dedup",
        "e2_latest_per_key_agg",
        "export_profile_pipeline",
        "pipe5_export_e2e",
    )
    + [
        Step("sink_rest_profiles", "export_profile_pipeline", "rest_json"),
        Step("sink_rest_csv_flagship", "flagship_cdc_dedup", "rest_csv"),
        Step("sink_parquet_flagship", "flagship_cdc_dedup", "parquet"),
    ],
    # Text quality and dedup operators for LLM data preparation.
    "llm_curation": _queries(
        "t4_quality",
        "dd3_minhash_near_dup",
        "t56_pii_redaction",
        "t57_intradoc_dedup",
    ),
    # Similarity search: exact top-k, an LSH kNN graph built with Arrow
    # kernels, and hard-negative mining.
    "vector_search": _queries(
        "s1_bruteforce_topk",
        "s10b_knn_graph_lsh",
        "s9_hard_negatives",
    ),
}


def expected_results(data_dir: str, tables: tuple[str, ...], oracles: dict[str, str],
                     queries: set[str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """Run each query's DuckDB oracle over the generated tables."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for q in sorted(queries):
            cur = con.execute(oracles[q])
            out[q] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def _json_record(cols: list[str], row: tuple) -> str:
    """A profile as ``sinks.rest_batch_sink`` serialises it (nulls dropped)."""
    rec = {k: v for k, v in zip(cols, row) if v is not None}
    return json.dumps(json.loads(json.dumps(rec, default=str)), sort_keys=True)


def _csv_record(cols: list[str], row: tuple) -> tuple:
    """A row as ``sinks.rest_csv_batch_sink`` renders its cells."""
    return tuple(sorted((c, "" if v is None else str(v)) for c, v in zip(cols, row)))


def expected_form(step: Step, expected: tuple[list[str], list[tuple]]):
    """The oracle result in the form ``check`` compares outputs against."""
    cols, rows = expected
    if step.sink == "rest_json":
        return Counter(_json_record(cols, r) for r in rows)
    if step.sink == "rest_csv":
        return Counter(_csv_record(cols, r) for r in rows)
    return sorted(cols), df_to_multiset(cols, rows)


def check(step: Step, output, want) -> str | None:
    """None when ``output`` matches ``want`` (from ``expected_form``), else
    the reason it does not.

    ``output`` is ``(columns, rows)`` for a query step, a stub ``Delivery``
    for a REST sink step and the output directory for a parquet step.
    """
    if step.sink in ("rest_json", "rest_csv"):
        if output.duplicate_batches():
            return f"{output.duplicate_batches()} duplicate batch ids"
        if step.sink == "rest_json":
            got = Counter(json.dumps(r, sort_keys=True) for r in output.records)
        else:
            got = Counter(tuple(sorted(r.items())) for r in output.records)
        n_got, n_want = sum(got.values()), sum(want.values())
    else:
        if step.sink == "parquet":
            table = ds.dataset(output, format="parquet").to_table()
            cols, rows = table.column_names, [tuple(r.values()) for r in table.to_pylist()]
        else:
            cols, rows = output
        got = sorted(cols), df_to_multiset(cols, rows)
        if got[0] != want[0]:
            return f"columns {got[0]} != {want[0]}"
        n_got, n_want = len(rows), sum(want[1].values())
    if got != want:
        return f"{n_got} rows or records, oracle has {n_want}, contents differ"
    return None


def plant_error(step: Step, output):
    """Corrupt one record of ``output`` (used to prove the check fails)."""
    if step.sink is None:
        cols, rows = output
        return cols, rows[1:] + rows[:1] * 2
    if step.sink == "parquet":
        parts = [os.path.join(output, n) for n in os.listdir(output) if n.endswith(".parquet")]
        os.remove(max(parts, key=os.path.getsize))
        return output
    output.records.pop()
    return output
