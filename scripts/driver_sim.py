#!/usr/bin/env python
"""Simulate the driver's verify pass end-to-end against __spark_entry__.py:

  t1: entry(spark) on sf0.001 → rows >= 0, stable schema
  t2: every queries()[name] at a chosen SF vs oracle_sql()[name] in DuckDB —
      row count + sorted-column names + order-insensitive value comparison.

Usage: python scripts/driver_sim.py [sf_dir]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from nilm_data_framework_spark.session import get_session  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(rows):
    out = []
    for row in rows:
        norm = []
        for v in row:
            if isinstance(v, float):
                norm.append("NaN" if math.isnan(v) else round(v, 6))
            elif hasattr(v, "isoformat"):
                norm.append(v.isoformat()[:26])
            else:
                norm.append(v)
        out.append(tuple(norm))
    return sorted(out, key=repr)


def dtype_family(dt) -> str:
    """Collapse a pandas dtype to the family the driver's typed hash sees.

    The round driver hashes TYPED values (pandas/numpy), so a DuckDB HUGEINT
    column fetched as float64/object hash-mismatches a Spark int64 column
    even when every value is numerically equal — the exact failure mode of
    the four r4 flags. Local value comparison (Python `5 == 5.0`) cannot see
    it; this dtype check can.
    """
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    return "object"


def dtype_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    out = []
    for c in sdf.columns:
        sf, of = dtype_family(sdf[c].dtype), dtype_family(odf[c].dtype)
        if sf != of:
            # An all-null column collapses to float64 NaN (or object None) on
            # either side regardless of the logical type — not a divergence
            # the driver can hash differently if BOTH sides are null there.
            if sdf[c].isna().all() and odf[c].isna().all():
                continue
            out.append(f"{c}: spark {sdf[c].dtype}/{sf} vs oracle {odf[c].dtype}/{of}")
    return out


def run_oracle(con, sql: str, cache: dict) -> tuple:
    """(frame or DuckDB error, seconds, whether reused) for one oracle
    text. Several registry names share one oracle text (the RAG gates,
    the near-dup cluster twins, the SCD2 interval gates), so each text
    runs once and later names reuse its frame; the seconds are those of
    that one run."""
    if sql in cache:
        got, secs = cache[sql]
        return got, secs, True
    t0 = time.perf_counter()
    try:
        got = con.execute(sql).fetchdf()
    except Exception as e:
        got = e
    cache[sql] = (got, time.perf_counter() - t0)
    return got, cache[sql][1], False


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    spark = get_session(app_name="driver-sim")
    spark.sparkContext.setLogLevel("ERROR")
    import pyspark

    print(
        f"engines: pyspark {pyspark.__version__}, duckdb {duckdb.__version__}, "
        f"pandas {pd.__version__}"
    )

    # t1 smoke
    df = entrymod.entry(spark)
    n = df.count()
    print(f"t1 entry(): {n} rows, schema: {[f.name for f in df.schema.fields]}")
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    passed = failed = rows_only = 0
    oracle_cache: dict = {}
    for name, fn in sorted(qs.items()):
        if only is not None and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {e}")
            failed += 1
            continue
        dt = time.perf_counter() - t0
        if name not in oracles:
            rows_only += 1
            print(f"rows-only {name}: {len(sdf)} rows ({dt:.1f}s)")
            continue
        odf, ot, reused = run_oracle(con, oracles[name], oracle_cache)
        times = f"(spark {dt:.1f}s, oracle {ot:.1f}s{' reused' if reused else ''})"
        if isinstance(odf, Exception):
            print(f"FAIL {name}: duckdb error {odf} {times}")
            failed += 1
            continue
        s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
        if s_cols != o_cols:
            print(f"FAIL {name}: cols {s_cols} vs {o_cols} {times}")
            failed += 1
            continue
        dt_bad = dtype_mismatches(sdf[s_cols], odf[o_cols])
        if dt_bad:
            print(f"FAIL {name}: dtype mismatch {dt_bad} {times}")
            failed += 1
            continue
        s_rows = normalize([tuple(r) for r in sdf[s_cols].itertuples(index=False)])
        o_rows = normalize([tuple(r) for r in odf[o_cols].itertuples(index=False)])
        if len(s_rows) != len(o_rows):
            print(f"FAIL {name}: rowcount {len(s_rows)} vs {len(o_rows)} {times}")
            failed += 1
            continue
        diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
        if diffs:
            print(f"FAIL {name}: {len(diffs)} row diffs, first: {diffs[0]} {times}")
            failed += 1
        else:
            passed += 1
            print(f"PASS {name}: {len(s_rows)} rows {times}")

    print(f"\nt2 @ {sf_dir}: {passed} passed, {failed} failed, {rows_only} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
