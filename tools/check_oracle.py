"""Local mirror of the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry on Spark and the matching
``oracle_sql()`` statement on DuckDB over the same parquet tables, then
compares row count, sorted column names, and order-insensitive values.

Usage:
    python tools/check_oracle.py [sf_dir] [query_name ...]

Default sf_dir is /root/testdata/sf0.01 (the driver's correctness scale).
Exact float equality is reported separately from a 1e-9-relative match so
cross-engine ulp noise is visible while iterating.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(val):
    if val is None:
        return None
    if isinstance(val, float):
        return val
    if hasattr(val, "as_integer_ratio") and not isinstance(val, int):
        return float(val)
    try:
        import decimal
        if isinstance(val, decimal.Decimal):
            return float(val)
    except Exception:
        pass
    if isinstance(val, (list, tuple)):
        return tuple(_canon(v) for v in val)
    return val


def _rows(df_rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in df_rows:
        out.append(tuple(_canon(r[i]) for i in order))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _close(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from cl_data_frame_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            results[name] = f"SPARK ERROR\n{traceback.format_exc()}"
            continue
        if name not in oracles:
            results[name] = f"rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)"
            continue
        try:
            orel = con.execute(oracles[name])
            ocols = [d[0] for d in orel.description]
            orows = orel.fetchall()
        except Exception:
            results[name] = f"ORACLE ERROR\n{traceback.format_exc()}"
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            sc = _rows(srows, scols)
            oc = _rows(orows, ocols)
            exact = sum(1 for a, b in zip(sc, oc) if a == b)
            close = sum(1 for a, b in zip(sc, oc) if _close(a, b))
            if exact == len(sc):
                results[name] = f"OK exact ({len(sc)} rows, {time.time()-t0:.1f}s)"
            elif close == len(sc):
                bad = next((a, b) for a, b in zip(sc, oc) if a != b)
                results[name] = (f"CLOSE not exact ({close}/{len(sc)}) "
                                 f"e.g. {bad[0]!r} vs {bad[1]!r}")
            else:
                bad = next(((a, b) for a, b in zip(sc, oc) if not _close(a, b)),
                           None)
                results[name] = (f"VALUE MISMATCH exact={exact} close={close} "
                                 f"of {len(sc)}; e.g. {bad[0]!r} vs {bad[1]!r}")
        else:
            results[name] = "; ".join(problems)
    width = max(len(n) for n in results) if results else 10
    nok = 0
    for name, res in results.items():
        flag = "PASS" if res.startswith(("OK", "rows-only")) else "FAIL"
        nok += flag == "PASS"
        print(f"[{flag}] {name:<{width}} {res}")
    print(f"\n{nok}/{len(results)} pass")
    spark.stop()


if __name__ == "__main__":
    main()
