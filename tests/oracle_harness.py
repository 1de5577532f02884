"""Local mimic of the driver's correctness gate: run every registered
query on Spark AND its oracle SQL on DuckDB over the same parquet, then
compare row count, column names, and values (column-name-sorted,
row-canonicalized, float-tolerant) — so mismatches surface before the
round driver runs.

Usage:
    python -m tests.oracle_harness                 # all queries, sf0.001
    python -m tests.oracle_harness q01_pricing_summary --sf 0.01
    python -m tests.oracle_harness --strict --sf 0.01   # bit-exact sweep

Strict mode (``--strict`` / ``compare(..., strict=True)``) drops the
float tolerance entirely and compares full-precision values — the local
analogue of the round driver's exact value hash. The default tolerant
mode (REL_TOL 1e-6) structurally cannot see sub-tolerance drift such as
a ``round(sum(<double>), 2)`` money column landing a penny off DuckDB's
sequential fold (the r7 ``q_sales_pareto_abc`` red row); strict mode
exists to enumerate that class before a query rotates into the driver
window. Pre-rotation checklist: every query in the next round's WINDOW
must pass ``--strict`` at sf0.01.
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime

import duckdb

from flash_cdc_spark.queries import ORACLE, QUERIES
from flash_cdc_spark.tables import TABLE_NAMES

REL_TOL = 1e-6
ABS_TOL = 1e-9


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon_value(v, strict: bool = False):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        if strict:
            # full precision — any bit-level drift must surface
            return ("f", v)
        # canonicalize to 9 significant digits so sub-tolerance engine
        # noise doesn't perturb the row sort order
        return ("f", float(f"{v:.9g}"))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("t", datetime(v.year, v.month, v.day).isoformat())
    return ("s", str(v))


def _values_match(a, b, strict: bool = False) -> bool:
    if a[0] != b[0]:
        # int-vs-float cross typing tolerated numerically
        if {a[0], b[0]} <= {"i", "f"} and "nan" not in (a[1], b[1]):
            if strict:
                return float(a[1]) == float(b[1])
            return math.isclose(float(a[1]), float(b[1]), rel_tol=REL_TOL, abs_tol=ABS_TOL)
        return False
    if a[0] == "f" and a[1] != "nan" and b[1] != "nan":
        if strict:
            return a[1] == b[1]
        return math.isclose(a[1], b[1], rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def _canon_rows(col_names, rows, strict: bool = False):
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    out = []
    for row in rows:
        out.append(tuple(_canon_value(row[i], strict) for i in order))
    out.sort(key=lambda r: [(c[0], repr(c[1:])) for c in r])
    return sorted(col_names), out


def spark_result(name: str, spark, sf_dir: str) -> tuple[list[str], list]:
    """Build ``QUERIES[name]`` over ``sf_dir`` and collect it: the
    columns and rows :func:`compare` takes."""
    sdf = QUERIES[name](spark, sf_dir)
    return sdf.columns, sdf.collect()


def compare(name: str, columns, rows, con, strict: bool = False) -> dict:
    """Compare a Spark result (``columns``, ``rows``) of ``name`` with
    its oracle run on ``con``."""
    s_cols = [c.lower() for c in columns]
    s_rows = [tuple(r) for r in rows]
    if name not in ORACLE:
        return {"query": name, "mode": "rows_only", "rows": len(s_rows), "ok": True}
    res = con.execute(ORACLE[name])
    d_cols = [c.lower() for c in [d[0] for d in res.description]]
    d_rows = res.fetchall()
    s_cols_sorted, s_canon = _canon_rows(s_cols, s_rows, strict)
    d_cols_sorted, d_canon = _canon_rows(d_cols, d_rows, strict)
    result = {
        "query": name,
        "mode": "oracle-strict" if strict else "oracle",
        "rows": len(s_rows),
        "oracle_rows": len(d_rows),
        "cols_match": s_cols_sorted == d_cols_sorted,
        "count_match": len(s_rows) == len(d_rows),
    }
    if not result["cols_match"]:
        result.update(ok=False, detail=f"cols spark={s_cols_sorted} duck={d_cols_sorted}")
        return result
    if not result["count_match"]:
        result.update(ok=False, detail="row count mismatch")
        return result
    mismatches = []
    for i, (sr, dr) in enumerate(zip(s_canon, d_canon)):
        for j, (sv, dv) in enumerate(zip(sr, dr)):
            if not _values_match(sv, dv, strict):
                mismatches.append((i, s_cols_sorted[j], sv, dv))
                if len(mismatches) >= 5:
                    break
        if len(mismatches) >= 5:
            break
    result["ok"] = not mismatches
    if mismatches:
        result["detail"] = mismatches
    return result


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf = "0.001"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    strict = "--strict" in args
    if strict:
        args.remove("--strict")
    sf_dir = f"/root/testdata/sf{sf}"
    names = args or list(QUERIES)
    from flash_cdc_spark.session import get_spark

    spark = get_spark(app_name="oracle-harness")
    con = duck_connection(sf_dir)
    failures = 0
    for name in names:
        try:
            r = compare(name, *spark_result(name, spark, sf_dir), con, strict=strict)
        except Exception as exc:  # surface per-query, keep going
            r = {"query": name, "ok": False, "detail": f"EXCEPTION {type(exc).__name__}: {exc}"}
        status = "OK " if r.get("ok") else "FAIL"
        print(f"[{status}] {name}: rows={r.get('rows')} oracle={r.get('oracle_rows','-')} "
              f"mode={r.get('mode','?')} {r.get('detail','')}")
        if not r.get("ok"):
            failures += 1
    print(f"\n{len(names) - failures}/{len(names)} queries match")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
