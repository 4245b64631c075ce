#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares it
to the matching ``oracle_sql()`` DuckDB result: row count, column names,
and an order-insensitive value compare (columns sorted by name, rows
sorted, floats rounded).  Queries without an oracle get a rows-only
check (runs, returns a stable row count >= 0).

``--strict`` runs the oracle-backed queries only and string-compares
every cell with NO float tolerance (after canonical column/row sorting,
floats rendered with repr, -0.0 as 0.0).  It is deliberately stricter
than the gate: a float that differs in the 7th decimal between engines
passes the gate today but is one summation-order change away from
flipping a round() boundary and redding the gate's value hash.  A query
whose cells differ only past the 6th decimal is reported as TOL
(tolerance-only) and does not fail the run; any other difference is a
FAIL — including a column that is float on one engine and integer on
the other ('657.0' vs '657'), which the gate's numeric compare lets
through.  Run ``--strict`` after any oracle edit.

Usage: python scripts/check_oracle.py [--strict] [sf_dir] [query_name ...]
(with query names given, only those queries run — and the entry()
smoke is skipped)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame, strict: bool = False,
          digits: int | None = 6) -> pd.DataFrame:
    """Columns sorted by name, rows sorted, floats rounded to ``digits``
    decimals (None: unrounded).  ``strict`` renders every cell as a
    string, floats with repr, so a float column never equals an int one."""
    df = df.copy()
    df.columns = [str(c) for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        kind = str(df[c].dtype).lower()
        if "float" in kind or "decimal" in kind:
            vals = df[c].astype(float)
            if digits is not None:
                vals = vals.round(digits)
            # + 0.0 canonicalizes -0.0 before string rendering
            df[c] = (vals + 0.0).map(repr) if strict else vals
        elif strict or df[c].dtype == object:
            df[c] = df[c].map(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame, strict: bool = False,
            digits: int | None = 6) -> list[str]:
    """The gate's compare (floats equal within 1e-6), or with ``strict``
    a string compare of ``canon(strict=True, digits)`` cells."""
    a, b = canon(spark_df, strict, digits), canon(duck_df, strict, digits)
    if list(a.columns) != list(b.columns):
        return ["columns: spark=%s duckdb=%s" % (list(a.columns), list(b.columns))]
    if len(a) != len(b):
        return ["rows: spark=%d duckdb=%d" % (len(a), len(b))]
    problems = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if not strict and ("float" in str(av.dtype) or "float" in str(bv.dtype)):
            ok = ((av.astype(float) - bv.astype(float)).abs() < 1e-6) | (av.isna() & bv.isna())
        else:
            ok = (av.astype(str) == bv.astype(str))
        n_bad = int((~ok).sum())
        if n_bad:
            i = (~ok).idxmax()
            problems.append("col %s: %d mismatches, first at row %d: spark=%r duckdb=%r"
                            % (c, n_bad, i, av.iloc[i], bv.iloc[i]))
    return problems


def strict_verdict(spark_df: pd.DataFrame,
                   duck_df: pd.DataFrame) -> tuple[str, list[str]]:
    """``--strict`` classification -> (OK | TOL | FAIL, problems): OK when
    every cell renders identically, TOL when the cells match once floats
    are rounded to 6 decimals, FAIL otherwise."""
    cells = compare(spark_df, duck_df, strict=True, digits=None)
    if not cells:
        return "OK", []
    rounded = compare(spark_df, duck_df, strict=True)
    return ("FAIL", rounded) if rounded else ("TOL", cells)


def main() -> int:
    strict = "--strict" in sys.argv
    if strict:
        sys.argv.remove("--strict")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from deepseek_ocr_omnidocbench_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(app_name="check_oracle", cores=len(os.sched_getaffinity(0)))
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
        except duckdb.Error:
            pass

    qs = entry.queries()
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(qs)
        if unknown:
            print("unknown queries:", sorted(unknown))
            return 1
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entry.oracle_sql()
    if strict:
        qs = {k: v for k, v in qs.items() if k in oracles}
    failures = tol_only = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK   {name}: rows-only, {len(sdf)} rows ({time.time() - t0:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        if strict:
            verdict, problems = strict_verdict(sdf, ddf)
        else:
            problems = compare(sdf, ddf)
            verdict = "FAIL" if problems else "OK"
        if verdict == "FAIL":
            failures += 1
            print(f"FAIL {name} ({time.time() - t0:.1f}s):")
            for p in problems:
                print("   ", p)
        elif verdict == "TOL":
            tol_only += 1
            print(f"TOL  {name}: not cell-identical past the 6th decimal"
                  f" ({time.time() - t0:.1f}s)")
            for p in problems[:3]:
                print("   ", p)
        else:
            print(f"OK   {name}: {len(sdf)} rows {'cell-identical' if strict else 'match'}"
                  f" ({time.time() - t0:.1f}s)")
    if strict:
        print("strict sweep: %d FAIL, %d tolerance-only" % (failures, tol_only))
    elif not only:
        print("entry() smoke:", end=" ")
        edf = entry.entry(spark).toPandas()
        print(f"{len(edf)} rows, cols={list(edf.columns)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
