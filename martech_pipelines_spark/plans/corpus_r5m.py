"""Round-5m corpus addition: exact percentiles over a discrete domain.

``r29_exact_percentiles`` — EXACT p50/p90/p99 per group computed the
way exact quantiles survive 100 TB: reduce to a value HISTOGRAM first
(the domain is discrete integer paise, so the histogram is bounded by
the value domain, not the row count), cumulate over the tiny histogram,
and pick the smallest value whose cumulative count reaches ceil(q*n).
The quantile definition is spelled explicitly in BOTH engines — no
reliance on quantile_disc/percentile interpolation conventions — so the
comparison is integer-exact.

Complements: r8b (approx percentile sketch, rows-only), h12 (mergeable
fixed-bin histogram percentiles, approximate), r18 (interpolated exact
percentile on tiny groups).  This is the exact answer at scale for
discrete domains.

Registers into the shared QUERIES/ORACLE dicts at import time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from martech_pipelines_spark.operators.sketches import (
    percentiles_from_histogram,
    value_histogram,
)
from martech_pipelines_spark.plans.corpus import ORACLE, QUERIES, q  # noqa: F401
from martech_pipelines_spark.sources import load_table

_R29_ORACLE = """
    WITH hist AS (
        SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS y,
               count(*) AS cnt
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, y, cnt,
               sum(cnt) OVER (
                   PARTITION BY event_type ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS c,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM hist
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN c >= ceil(n * 0.50) THEN y END) AS p50,
           min(CASE WHEN c >= ceil(n * 0.90) THEN y END) AS p90,
           min(CASE WHEN c >= ceil(n * 0.99) THEN y END) AS p99
    FROM cum
    GROUP BY event_type
"""


@q("r29_exact_percentiles", _R29_ORACLE)
def r29_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles without sorting rows: one keyed
    histogram aggregation (map-side combine collapses the row count to
    the distinct-value count), a cumulative window over the per-group
    histogram (|distinct values| rows, not |rows|), and the explicit
    rank-selection rule min{y : cum(y) >= ceil(q*n)} — the "smallest
    value covering the quantile rank" definition, identical integer
    arithmetic in both engines.  percentile()/quantile_disc conventions
    never enter the comparison."""
    ev = load_table(spark, sf_dir, "events")
    return percentiles_from_histogram(value_histogram(ev))
