"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__.py`` at a given
scale factor, runs the matching ``oracle_sql()`` in DuckDB over the
same parquet tables, and compares row count, column names, and
REPRESENTATION-SENSITIVE values, mirroring the driver's comparator:
both results go through pandas (``sdf.toPandas()`` /
``duckdb_result.df()``) and cells compare on their exact string form.
This is what the driver's value hash sees — and it is why round 1
shipped 8 locally-green queries the driver failed:

  * DuckDB ``.df()`` converts DECIMAL(p,s) to float64 while Spark
    returns ``Decimal`` objects, so ``Decimal('0.00')`` vs ``0.0``
    hash-differ even though the values are equal.  => final money
    columns must be DOUBLE on BOTH sides (compute in decimal for
    exactness, cast the output).
  * DuckDB ``sum(int)`` is HUGEINT -> float64 in pandas ('123.0' vs
    Spark's '123').  => wrap oracle integer sums in CAST(.. AS BIGINT).

Integer *width* drift (int32 vs int64) is invisible after pandas
(both int64), matching the driver (q08 passed with exactly that).

Usage:

    python tools/check.py [sf_dir] [query_key ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_cell(x) for x in v)
    # str() is the driver-faithful form: Decimal('1.50') -> '1.50'
    # differs from float 1.5 -> '1.5' — that drift is a real failure.
    return f"{type(v).__name__ if type(v).__name__ in ('Decimal',) else ''}{v}"


def _frame_form(df: pd.DataFrame):
    names = sorted(df.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df[names].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return names, rows


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    for a in list(argv):
        if a.startswith("--json="):
            json_out = a.split("=", 1)[1]
            argv.remove(a)
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    from product_analytics_spark import cache
    from product_analytics_spark.session import get_spark

    # after the package: __spark_entry__ puts its own path first
    import __spark_entry__ as entry_mod

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_pd = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            results[name] = {"status": "FAIL", "error": f"spark: {e}"[:300],
                             "sec": round(time.time() - t0, 2)}
            continue
        finally:
            cache.clear_all()
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(s_pd)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(s_pd) == 0:
                print(f"WARN {name}: zero rows")
            results[name] = {"status": "ROWS_ONLY", "rows": len(s_pd),
                             "sec": round(time.time() - t0, 2)}
            continue
        try:
            d_pd = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            results[name] = {"status": "FAIL", "error": f"duckdb: {e}"[:300],
                             "sec": round(time.time() - t0, 2)}
            continue
        problems = []
        s_names, s_rows = _frame_form(s_pd)
        d_names, d_rows = _frame_form(d_pd)
        if s_names != d_names:
            problems.append(f"cols spark={s_names} oracle={d_names}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} oracle={len(d_rows)}")
        if not problems and s_rows != d_rows:
            diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
            problems.append(
                f"values differ (spark dtypes={dict(s_pd.dtypes.astype(str))}, "
                f"oracle dtypes={dict(d_pd.dtypes.astype(str))}), "
                f"first diffs: {diff}"
            )
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
            results[name] = {"status": "FAIL",
                             "error": "; ".join(problems)[:300],
                             "sec": round(time.time() - t0, 2)}
        else:
            print(f"PASS {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            results[name] = {"status": "PASS", "rows": len(s_rows),
                             "sec": round(time.time() - t0, 2)}

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        import json as _json

        payload = {
            "sf_dir": sf_dir,
            "n_keys": len(results),
            "n_pass": sum(1 for r in results.values()
                          if r["status"] == "PASS"),
            "n_rows_only": sum(1 for r in results.values()
                               if r["status"] == "ROWS_ONLY"),
            "n_fail": len(failures),
            "failures": failures,
            "keys": results,
        }
        with open(json_out, "w", encoding="utf-8") as fh:
            _json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
