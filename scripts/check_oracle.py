"""Local replica of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
on DuckDB over the same parquet tables, then compares row count, column
names, and an order-insensitive value hash (values normalized to strings,
rows sorted). Usage:

    python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from ksml_spark import get_spark  # noqa: E402
from ksml_spark.sources.files import TABLE_NAMES  # noqa: E402


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # tz-aware vs naive is parquet ANNOTATION, not value: Spark
        # returns session-local-naive datetimes while DuckDB returns
        # aware ones for UTC-adjusted files (the r15 null_sweep copy is
        # UTC-adjusted where the driver testdata is naive) — same
        # instant, so the signature must not distinguish them
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # + 0.0 collapses -0.0 to +0.0 (r14, VERDICT r13 #3): Spark's
        # BigDecimal ROUND and DuckDB/Python IEEE rounding disagree on
        # the sign of a zero result; the values are equal, so the
        # signature must not distinguish them
        return repr(v + 0.0)
    return str(v)


def table_signature(rows, cols):
    sorted_cols = sorted(cols)
    idx = [cols.index(c) for c in sorted_cols]
    normed = sorted("|".join(norm_cell(r[i]) for i in idx) for r in rows)
    import hashlib

    h = hashlib.sha256("\n".join(normed).encode()).hexdigest()[:16]
    return h, normed


def run_gate(spark, sf_dir: str, only=None) -> list:
    """The full gate as a callable (r15, so the null_sweep suite test
    reuses the ONE compare implementation in-process): runs every
    queries() entry on Spark and its oracle on DuckDB over sf_dir's
    parquet tables, returns the failure-name list. Printing unchanged —
    main() is a thin argv wrapper."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok-   {name}: rows-only ({len(rows)} rows, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            orc = con.sql(oracles[name])
            ocols = [d[0] for d in orc.description]
            orows = orc.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        h1, n1 = table_signature(rows, cols)
        h2, n2 = table_signature(orows, ocols)
        status = []
        if len(rows) != len(orows):
            status.append(f"rowcount {len(rows)} vs {len(orows)}")
        if sorted(cols) != sorted(ocols):
            status.append(f"cols {sorted(cols)} vs {sorted(ocols)}")
        if h1 != h2:
            status.append("value-hash mismatch")
        if status:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(status)} [{time.time()-t0:.1f}s]")
            sample = [(a, b) for a, b in zip(n1, n2) if a != b][:3]
            for a, b in sample:
                print(f"      spark: {a}\n      duck : {b}")
            if len(rows) != len(orows):
                s1, s2 = set(n1), set(n2)
                for x in list(s1 - s2)[:3]:
                    print(f"      only-spark: {x}")
                for x in list(s2 - s1)[:3]:
                    print(f"      only-duck : {x}")
        else:
            print(f"OK    {name}: {len(rows)} rows, hash {h1} [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures: {failures}")
    return failures


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    return 1 if run_gate(get_spark(), sf_dir, only) else 0


if __name__ == "__main__":
    sys.exit(main())
