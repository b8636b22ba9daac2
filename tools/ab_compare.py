"""Interleaved A/B timing inside ONE Spark session (guide §1).

The sandbox host's throughput drifts 1.5-2.8x between runs minutes
apart (measured via bench.py's calib probe, round 12), so cross-session
comparisons are meaningless.  This harness times N alternating
(variant, query) executions in a single session and reports per-variant
best + median, which cancels the drift to first order.

Usage:
    python tools/ab_compare.py QUERY  VARIANT_SPEC [VARIANT_SPEC ...]

A VARIANT_SPEC is ``label=module:attr=value`` — before each timed run
of that variant, setattr(module, attr, ast.literal_eval(value)) is
applied (module imported by dotted path).  ``value`` must be a Python
literal (number, string, tuple, list, dict, bool, None): expressions
such as ``2**20`` or name references raise ValueError.  ``value`` may
itself contain ``=``.  ``base=`` applies nothing.
"""

from __future__ import annotations

import ast
import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rounds = int(os.environ.get("AB_ROUNDS", "4"))
    query = sys.argv[1]
    specs = []
    for raw in sys.argv[2:]:
        label, _, rest = raw.partition("=")
        if not rest:
            specs.append((label, None))
            continue
        mod_attr, _, value = rest.partition("=")
        mod, _, attr = mod_attr.partition(":")
        specs.append((label, (mod, attr, ast.literal_eval(value))))

    from martech_pipelines_spark import caching, get_spark
    from martech_pipelines_spark.plans import QUERIES

    spark = get_spark("ab_compare")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Snapshot the ORIGINAL value of every attribute any variant patches,
    # and restore ALL of them before applying a variant's own patch — a
    # ``base=`` (no-patch) run after a patched run must execute the
    # unpatched module, not whatever the previous variant left behind
    # (ADVICE r12: the old code silently timed the wrong configuration
    # for every base run after the first patched run).
    originals: dict[tuple[str, str], object] = {}
    for _, patch in specs:
        if patch:
            mod, attr, _ = patch
            originals.setdefault(
                (mod, attr), getattr(importlib.import_module(mod), attr)
            )

    def apply(patch) -> None:
        for (mod, attr), value in originals.items():
            setattr(importlib.import_module(mod), attr, value)
        if patch:
            mod, attr, value = patch
            setattr(importlib.import_module(mod), attr, value)

    fn = QUERIES[query]
    times: dict[str, list[float]] = {label: [] for label, _ in specs}
    try:
        # warm both variants once (codegen/broadcast caches)
        for label, patch in specs:
            apply(patch)
            fn(spark, sf_dir).count()
            caching.release()
        for r in range(rounds):
            for label, patch in specs:
                apply(patch)
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                el = time.perf_counter() - t0
                caching.release()
                times[label].append(el)
                print(f"round {r} {label:>20}: {el:7.3f}s", flush=True)
    finally:
        # leave the modules exactly as found, even on error/^C
        for (mod, attr), value in originals.items():
            setattr(importlib.import_module(mod), attr, value)
    print()
    for label, ts in times.items():
        print(
            f"{label:>20}: best {min(ts):7.3f}  median "
            f"{statistics.median(ts):7.3f}  all {[round(t, 3) for t in ts]}"
        )


if __name__ == "__main__":
    main()
