"""Boundary-distance audit for every rounded-float oracle column.

Round 5's one driver failure (s12 covariance) was a FRAGILE-CONTRACT bug:
a nondeterministically-ordered double sum fed ``round(x, 5)`` while the
true value sat ~3e-9 from the 5-dp rounding boundary — any engine/build/
summation-order difference flips the rounded digit and the driver's value
hash.  This audit turns that luck into a checked invariant (VERDICT.md
round 5, "Next round" #3).

For each corpus oracle (DuckDB SQL):

1. find every top-level ``round(expr, k)`` call (balanced-paren scan);
2. rewrite each to ``(expr)`` — column positions are preserved, so column
   i of the rewritten result is the UNROUNDED value of column i;
3. run the rewritten SQL in DuckDB and, for every cell that was rounded
   at k decimal places, compute the distance of ``value * 10^k`` to the
   nearest half-integer (the round-half boundary);
4. report the minimum distance per (query, column) and flag anything
   inside the danger band (default 1e-6 — a double sum reordering moves
   the value by O(n * ulp), comfortably below this at corpus scale).

Queries whose contract is already order/engine-invariant (integer or
decimal-space accumulation, e.g. the round-6 s12 fix, or rounds of exact
DECIMAL money sums) are safe even at distance 0 — the audit knows nothing
about provenance, so such columns can be allowlisted in ``EXACT_INPUT``
below with a justification.  Everything else inside the band must be
hardened.

Usage:  python tools/audit_rounding.py [sf_dir] [query ...]
Writes a markdown report to ROUNDING_AUDIT.md when run with no query
filter; exits 1 if any non-allowlisted cell is inside the band.
"""

from __future__ import annotations

import sys
from decimal import ROUND_HALF_UP, Decimal

import duckdb

DANGER = 1e-6

# (query, column) pairs whose rounded value is computed from EXACT
# (integer / DECIMAL) accumulation on both engines — boundary proximity
# is harmless because both engines see bit-identical pre-round values
# and apply the same deterministic rounding.  Each entry needs a reason.
# (s12/s12b no longer appear: their round-6 integer-exact contract has no
# round() at all — the output double is exact by construction.)
_DECIMAL_SUM = (
    "money math accumulated in DECIMAL(18,2+) on BOTH engines; the round "
    "is exact decimal HALF_UP before the double cast — order/engine "
    "invariant regardless of boundary proximity (see the q10 docstring, "
    "plans/corpus_more.py)"
)
_INT_RATIO = (
    "single IEEE division of exact integers — both engines compute the "
    "identical double; boundary ties (power-of-two denominators, e.g. "
    "31/32) are exactly-representable doubles both engines round "
    "half-away-from-zero; agreement pinned by the sf0.01 sweep "
    "(and t37 by driver r5)"
)
EXACT_INPUT: dict[tuple[str, str], str] = {
    ("q10_returned_items", "revenue"): _DECIMAL_SUM,
    ("q9_product_profit", "sum_profit"): _DECIMAL_SUM,
    ("dd8_substring_window", "dup_ratio"): _INT_RATIO,
    ("dd10_incremental_dedup", "jaccard"): _INT_RATIO,
    ("t37_sentiment", "sent_score"): _INT_RATIO,
    ("t4_quality", "stopword_ratio"): _INT_RATIO,
    ("t4_quality", "mean_token_len"): _INT_RATIO,
    ("t9_repetition", "rep_ratio"): _INT_RATIO,
    ("dd3_minhash_near_dup", "jaccard"): _INT_RATIO,
    ("dd3c_minhash_materialized", "jaccard"): _INT_RATIO,
    ("dd5_ngram_jaccard", "jaccard"): _INT_RATIO,
    ("mm2_media_features", "byte_mean"): _INT_RATIO,
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _find_top_level_rounds(sql: str) -> list[tuple[int, int, str, int]]:
    """All round(expr, k) spans: (start, end_exclusive, expr, k).

    Scans for the token ``round(`` (case-insensitive, not preceded by an
    identifier char), balances parens, splits the last top-level comma.
    Nested rounds inside expr are left intact (the OUTERMOST round is the
    contract boundary).
    """
    out = []
    low = sql.lower()
    i = 0
    while True:
        p = low.find("round", i)
        if p < 0:
            break
        before_ok = p == 0 or not (low[p - 1].isalnum() or low[p - 1] == "_")
        q = p + 5
        while q < len(sql) and sql[q].isspace():
            q += 1
        if not before_ok or q >= len(sql) or sql[q] != "(":
            i = p + 5
            continue
        depth = 0
        last_comma = -1
        j = q
        while j < len(sql):
            c = sql[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            elif c == "," and depth == 1:
                last_comma = j
            j += 1
        if depth != 0:
            i = p + 5
            continue
        if last_comma < 0:
            i = j  # round(x) — 0 dp; treat k=0
            out.append((p, j + 1, sql[q + 1 : j], 0))
            continue
        expr = sql[q + 1 : last_comma]
        try:
            k = int(sql[last_comma + 1 : j].strip())
        except ValueError:
            i = j
            continue
        out.append((p, j + 1, expr, k))
        i = j
    return out


def rewrite_unrounded(sql: str) -> tuple[str, list[int]]:
    """Strip every top-level round(); returns (sql, ks-in-source-order)."""
    spans = _find_top_level_rounds(sql)
    ks = [k for (_, _, _, k) in spans]
    for (s, e, expr, _k) in reversed(spans):
        sql = sql[:s] + "(" + expr + ")" + sql[e:]
    return sql, ks


def boundary_distance(v: float, k: int) -> float:
    """Distance of v*10^k to the nearest half-integer boundary."""
    scaled = abs(v) * (10.0**k)
    frac = scaled - int(scaled)
    return abs(frac - 0.5)


# -- construct audit (round-8, VERDICT r7 #4b) --------------------------------
# The r5 s12 flip came from round() over a FLOAT-AGGREGATE-derived value:
# a nondeterministically-ordered double sum (stddev/avg/var over doubles)
# feeding round(x, k).  Boundary distance only proves safety at the
# CURRENT data; the construct itself is the hazard.  This pass flags the
# construct statically, independent of data:
#   float-agg   round() over stddev/var/covar/corr of doubles  -> FLAG
#               (must be hardened to exact integer/decimal moments —
#               f12/dq2 were the last two; keep it at zero)
#   ratio       round() over a division                        -> info
#               (safe when operands are exact ints/decimals — single
#               correctly-rounded IEEE op; driver-green evidence across
#               ~60 queries; value risk covered by boundary distance)
#   plain       anything else                                  -> info
_FLOAT_AGG_RE = r"stddev|var_samp|var_pop|variance|covar_|corr\s*\("


def construct_class(expr: str) -> str:
    import re as _re

    if _re.search(_FLOAT_AGG_RE, expr, _re.IGNORECASE):
        return "float-agg"
    if "/" in expr:
        return "ratio"
    return "plain"


def audit_constructs(oracles: dict[str, str]) -> list[tuple[str, str, str]]:
    """All (query, construct_class, expr_head) for round() spans whose
    class is float-agg — the statically-unsafe construct set."""
    import re as _re

    bad = []
    for name, sql in oracles.items():
        for (_s, e, expr, _k) in _find_top_level_rounds(sql):
            cls = construct_class(expr)
            if cls == "float-agg":
                head = _re.sub(r"\s+", " ", expr.strip())[:70]
                bad.append((name, cls, head))
    return bad


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def audit_query(con, name: str, sql: str):
    """Returns list of (column, k, min_distance, worst_value, n_cells)."""
    spans = _find_top_level_rounds(sql)
    if not spans:
        return []
    rounded_sql = sql
    unrounded_sql, _ks = rewrite_unrounded(sql)
    cur = con.execute(rounded_sql)
    cols = [d[0] for d in cur.description]
    r_rows = cur.fetchall()
    cur = con.execute(unrounded_sql)
    u_cols = [d[0] for d in cur.description]
    u_rows = cur.fetchall()
    if len(u_rows) != len(r_rows) or len(u_cols) != len(cols):
        return [("<rewrite-mismatch>", -1, float("nan"), None, 0)]
    # The two executions may emit group rows in different orders, so pair
    # each float column by SORTED ORDER: half-up rounding is monotone
    # nondecreasing, so sorted(round(x)) == round(sorted(x)) elementwise
    # and rank-pairing is exact.  (Per-cell boundary distance needs no
    # pairing at all — it reads only the unrounded values.)
    results = []
    for ci in range(len(cols)):
        rvals = sorted(
            float(r[ci]) for r in r_rows
            if isinstance(r[ci], (float, Decimal)) and r[ci] is not None
        )
        uvals = sorted(
            float(r[ci]) for r in u_rows
            if isinstance(r[ci], (float, Decimal)) and r[ci] is not None
        )
        if not rvals or len(rvals) != len(uvals):
            continue
        # Infer k: test every round() scale seen in the query; keep the
        # TIGHTEST (max) k whose half-up re-round of the unrounded column
        # reproduces the rounded column (within one k-ulp — tie cells may
        # legitimately round either way across float reprs).
        ks = set()
        all_ks = sorted({k for (_, _, _, k) in spans}, reverse=True)
        for k in all_ks:
            quantum = Decimal(1).scaleb(-k)
            tol = 10.0 ** (-k) * 1.01
            if all(
                abs(
                    float(Decimal(repr(uv)).quantize(quantum, ROUND_HALF_UP))
                    - rv
                )
                <= tol
                for rv, uv in zip(rvals, uvals)
            ):
                ks.add(k)
        if not ks:
            continue  # column not produced by a round() we stripped
        k = max(ks)
        dmin, worst = float("inf"), None
        for uv in uvals:
            d = boundary_distance(uv, k)
            if d < dmin:
                dmin, worst = d, uv
        results.append((cols[ci], k, dmin, worst, len(uvals)))
    return results


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    wanted = set(sys.argv[2:]) or None
    sys.path.insert(0, ".")
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    con = duck_connection(sf_dir)
    lines = [
        "# Rounding boundary audit",
        "",
        f"sf_dir: `{sf_dir}` — danger band: distance < {DANGER:g}",
        "",
        "| query | column | k | min distance | worst value | cells | status |",
        "|---|---|---|---|---|---|---|",
    ]
    flagged = []
    for name, sql in oracles.items():
        if wanted and name not in wanted:
            continue
        try:
            rows = audit_query(con, name, sql)
        except Exception as ex:  # noqa: BLE001
            print(f"  [ERR] {name}: {type(ex).__name__}: {ex}")
            lines.append(f"| {name} | <error: {type(ex).__name__}> | | | | | ERR |")
            continue
        for (col, k, dmin, worst, n) in rows:
            allow = EXACT_INPUT.get((name, col))
            if allow:
                status = "exact-input (safe)"
            elif dmin < DANGER:
                status = "**FLAGGED**"
                flagged.append((name, col, k, dmin, worst))
            else:
                status = "ok"
            lines.append(
                f"| {name} | {col} | {k} | {dmin:.3g} | {worst!r} | {n} | {status} |"
            )
            print(f"  {name}.{col} k={k} min_dist={dmin:.3g} -> {status}")
    construct_flags = audit_constructs(
        {n: s for n, s in oracles.items() if not wanted or n in wanted}
    )
    if not wanted:
        lines.append("")
        lines.append(
            f"**{len(flagged)} flagged cells** (non-allowlisted, inside the band)."
        )
        lines.append("")
        lines.append("## Construct audit (static, data-independent)")
        lines.append("")
        lines.append(
            "`round()` over a float-aggregate (stddev/var/covar/corr of "
            "doubles) is the s12/f12/dq2 hazard class regardless of current "
            "boundary distances — such constructs must be hardened to exact "
            "integer/decimal moments, not allowlisted."
        )
        lines.append("")
        if construct_flags:
            lines.append("| query | class | expression head |")
            lines.append("|---|---|---|")
            for (qn, cls, head) in construct_flags:
                lines.append(f"| {qn} | {cls} | `{head}` |")
        else:
            lines.append(
                "**0 float-agg round() constructs** in the corpus "
                "(f12_standardize and dq2_rolling_zscore were the last two; "
                "both now use exact integer-cent moments)."
            )
        with open("ROUNDING_AUDIT.md", "w") as f:
            f.write("\n".join(lines) + "\n")
        print(
            f"\nwrote ROUNDING_AUDIT.md — {len(flagged)} flagged, "
            f"{len(construct_flags)} float-agg constructs"
        )
    else:
        print(f"\n{len(flagged)} flagged, {len(construct_flags)} float-agg constructs")
    for (name, col, k, dmin, worst) in flagged:
        print(f"  FLAG {name}.{col} k={k} dist={dmin:.3g} value={worst!r}")
    for (qn, cls, head) in construct_flags:
        print(f"  CONSTRUCT-FLAG {qn}: {head}")
    return 1 if flagged or construct_flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
