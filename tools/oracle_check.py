"""Local replica of the driver's correctness gate.

Loads __spark_entry__, runs entry(spark) as a smoke check, then for every
queries() entry runs the Spark DataFrame AND the DuckDB oracle at sf0.01
and compares row count, sorted column names, and an order-insensitive
value hash (floats rounded to 6 decimals). Usage:

    python tools/oracle_check.py [query ...]

A named query that is not registered exits non-zero before anything runs.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NAN"
        return f"{round(v, 6):.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def pandas_rows(df):
    """DataFrame -> list of plain-python tuples (numpy scalars unwrapped).

    Emulates a harness that fetches through pandas/Arrow instead of
    fetchall()/collect(). The critical divergence this surfaces: DuckDB
    renders HUGEINT (any sum() over an integer column) as float64 in its
    pandas output — 6 becomes 6.0 — while Spark's sum(int) stays int64.
    An oracle that hash-matches under fetchall but not under .df() will
    fail on any driver that fetches through pandas; every integer output
    must therefore be typed BIGINT on both sides.
    """
    import numpy as np
    import pandas as pd

    out = []
    for row in df.itertuples(index=False, name=None):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
                vals.append(None)
            elif isinstance(v, np.integer):
                vals.append(int(v))
            elif isinstance(v, np.floating):
                vals.append(float(v))
            elif isinstance(v, np.bool_):
                vals.append(bool(v))
            elif isinstance(v, pd.Timestamp):
                vals.append(v.to_pydatetime())
            elif isinstance(v, np.ndarray):
                vals.append(str(v.tolist()))
            elif isinstance(v, list):
                vals.append(str([x.item() if hasattr(x, "item") else x for x in v]))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return out


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sys.path.insert(0, REPO)
    import duckdb

    import __spark_entry__ as entrymod
    from vector_database_product_recommendation_spark.session import get_spark

    qs = entrymod.queries()
    only = set(sys.argv[1:])
    unknown = sorted(only - set(qs))
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark("oracle-check")

    t0 = time.time()
    smoke = entrymod.entry(spark)
    rows = smoke.collect()
    print(f"entry(): {len(rows)} rows, schema={[f.name for f in smoke.schema]}, "
          f"{time.time()-t0:.1f}s")
    assert len(rows) >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            t_spark = time.time() - t0
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({t_spark:.1f}s)")
            n_rows_only += 1
            continue
        try:
            t0 = time.time()
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            t_duck = time.time() - t0
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if not problems:
            hs, ho = table_hash(scols, srows), table_hash(ocols, orows)
            if hs != ho:
                problems.append(f"hash {hs} vs {ho}")
        if not problems:
            # Fetch-path invariance: the driver may collect through
            # pandas/Arrow instead of fetchall/collect. DuckDB's pandas
            # output turns HUGEINT into float64 (sum(int) -> 6.0), so an
            # oracle can match under fetchall yet fail on the driver.
            # Require all four paths to agree.
            try:
                sp = pandas_rows(sdf.toPandas())
                op = pandas_rows(con.execute(oracles[name]).df())
                hsp, hop = table_hash(scols, sp), table_hash(ocols, op)
                if not (hs == hsp == hop):
                    problems.append(
                        f"pandas-path hash: spark {hs}/{hsp} duck {ho}/{hop}"
                        " (HUGEINT or NaN/NULL or date rendering?)"
                    )
                    for i, (a, b) in enumerate(zip(sorted(sp)[:2], sorted(op)[:2])):
                        print(f"   spark-pd[{i}]={a}\n   duck-pd [{i}]={b}")
            except Exception as e:  # pragma: no cover - diagnostic only
                problems.append(f"pandas-path error: {e}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            for i, (a, b) in enumerate(zip(sorted(srows)[:3], sorted(orows)[:3])):
                print(f"   spark[{i}]={a}\n   duck [{i}]={b}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows, hash match "
                  f"(spark {t_spark:.1f}s, duck {t_duck:.2f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{n_rows_only} rows-only, {len(qs)} total queries")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
