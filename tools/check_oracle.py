"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet tables; compare row-count, column names, and
order-insensitive values.

Usage:  python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def values_equal(a, b) -> bool:
    import numpy as np

    if a is None and b is None:
        return True
    # Driver parity: the gate hashes raw values, so int64 123 vs float64
    # 123.0 is a MISMATCH (the round-1 HUGEINT->float64 trap). Flag it.
    a_float = isinstance(a, (float, np.floating))
    b_float = isinstance(b, (float, np.floating))
    a_int = isinstance(a, (int, np.integer)) and not isinstance(a, bool)
    b_int = isinstance(b, (int, np.integer)) and not isinstance(b, bool)
    if (a_float and b_int) or (a_int and b_float):
        return False
    if a_float and b_float:
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(sdf.columns) != sorted(odf.columns):
        errs.append(f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return errs
    if len(sdf) != len(odf):
        errs.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
        return errs
    s, o = canon(sdf), canon(odf)

    def bitwise_pair(a, b) -> bool:
        # Exactness for the NOTE counter: NULL==NULL and NaN==NaN count
        # as exact (both engines emitted null; pandas renders nullable
        # ints as float64 NaN — a tool-local artifact, not divergence).
        if a is None and b is None:
            return True
        if isinstance(a, float) and isinstance(b, float):
            if math.isnan(a) and math.isnan(b):
                return True
            return a == b
        return type(a) is type(b) and a == b

    exact = 0
    for c in s.columns:
        sv, ov = s[c].tolist(), o[c].tolist()
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(sv, ov)) if not values_equal(a, b)]
        if bad:
            i, a, b = bad[0]
            errs.append(f"col {c}: {len(bad)}/{len(sv)} mismatches, first at row {i}: {a!r} vs {b!r}")
        if all(bitwise_pair(a, b) for a, b in zip(sv, ov)):
            exact += 1
    if not errs and exact < len(s.columns):
        errs.append(f"NOTE: only {exact}/{len(s.columns)} columns bitwise-exact (within-tol pass)")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent
    from data_ingestion_task_spark import api
    from data_ingestion_task_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oq = ent.queries(), ent.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = None
        try:
            df = fn(spark, sf_dir)
            sdf = df.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            # each query computes its own intermediates: nothing one
            # query cached may serve the next
            if df is not None:
                api.release(df)
            spark.catalog.clearCache()
        if name not in oq:
            print(f"pass {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            odf = con.execute(oq[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        errs = compare(name, sdf, odf)
        hard = [e for e in errs if not e.startswith("NOTE")]
        status = "FAIL" if hard else "pass"
        if hard:
            failures += 1
        print(f"{status} {name}: {len(sdf)} rows, {time.time()-t0:.1f}s" + ("; " + "; ".join(errs) if errs else ""))
    print(f"\n{failures} failures / {len(only) if only else len(qs)} checked")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
