#!/usr/bin/env python
"""Scale-out sweep over registry queries: write the test data k× to disk,
re-run each named query UNCHANGED against the k× directory, and fit how its
wall time grows with k.

    python scripts/stress_scaling.py [--k 1,2,4,8] QUERY...

``QUERY`` is a registry name (``__spark_entry__.queries()``); the source
tables come from ``SPARK_GRAFT_SF_DIR``. Replica r of a table is the source
table with the rules of ``REPLICATE`` applied (replica 0 is the source
itself), so foreign-key joins stay inside a replica and a k× directory is
an ordinary sf directory that any query reads through ``load_table``.

Each (query, k) is built and counted once to warm up, then timed as the
minimum of 2 build+count runs. Output: one JSON line per (query, k) with
``input_rows`` (rows of the replicated tables the query reads) and
``result_rows``, then one line per query with the least-squares log-log
slope over all ks (sec ~ k^slope; slope ≈ 1 = linear). A line whose
``result_rows`` exceed k/k0 times the first k's rows is marked
``answer_superlinear``: that slope measures the answer's growth, not the
operator's. Results are summarized in STRESS.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.readwriter import DataFrameReader  # noqa: E402

from nilm_data_framework_spark.plans.registry import all_queries  # noqa: E402
from nilm_data_framework_spark.session import get_session  # noqa: E402
from nilm_data_framework_spark.sources.testdata import DEFAULT_SF_DIR  # noqa: E402
from nilm_data_framework_spark.tmpdirs import pid_scratch_dir  # noqa: E402

# Key offset per replica: above every source id, so replicas are disjoint,
# and 7 strides still fit in int32 for a query that narrows a key.
STRIDE = 100_000_000


def _shift(col: pa.ChunkedArray, r: int) -> pa.ChunkedArray:
    return pc.add_checked(col, pa.scalar(STRIDE * r, col.type))


def _suffix(col: pa.ChunkedArray, r: int) -> pa.ChunkedArray:
    """Replica-specific last token: replicas are near-dups of their
    original (Jaccard just below 1), the worst case for LSH candidates."""
    return pc.binary_join_element_wise(col, f" replica{r}", "")


def _nudge(col: pa.ChunkedArray, r: int) -> pa.Array:
    """Component 0 += r·0.001 (float32, as stored): replicas stay distinct
    vectors, k-center's k ≪ distinct-vectors precondition."""
    arr = col.combine_chunks()
    vals = arr.values.to_numpy(zero_copy_only=False).copy()
    first = arr.offsets.to_numpy()[:-1]
    vals[first] = (vals[first].astype("float64") + r * 0.001).astype("float32")
    return pa.ListArray.from_arrays(arr.offsets, pa.array(vals), type=arr.type)


# The replication rule, declared once: table → {column: rule(column, r)}.
# Both sides of every foreign key carry the same _shift; a table with no
# rule is a dimension and is written once, unchanged.
REPLICATE = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": _shift},
    "supplier": {"s_suppkey": _shift},
    "part": {"p_partkey": _shift},
    "orders": {"o_orderkey": _shift, "o_custkey": _shift},
    "lineitem": {"l_orderkey": _shift, "l_partkey": _shift, "l_suppkey": _shift},
    "events": {"event_id": _shift, "user_id": _shift},
    "documents": {"doc_id": _shift, "text": _suffix},
    "embeddings": {"vec_id": _shift, "embedding": _nudge},
}


def write_replica(src: str, dst: str, k: int) -> dict[str, int]:
    """Write the k× copy of every table of ``src`` into ``dst`` (one parquet
    file per table, one row group set per replica, column types kept);
    return the rows written per table."""
    os.makedirs(dst)
    rows = {}
    for name, rule in REPLICATE.items():
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        n = k if rule else 1
        with pq.ParquetWriter(os.path.join(dst, f"{name}.parquet"), t.schema) as w:
            w.write_table(t)  # replica 0 is the source table itself
            for r in range(1, n):
                rep = t
                for col, fn in rule.items():
                    i = t.schema.get_field_index(col)
                    rep = rep.set_column(i, t.schema.field(i), fn(t[col], r))
                w.write_table(rep)
        rows[name] = n * t.num_rows
    return rows


def _timed(spark, spec, sf_dir: str, tables: set[str]) -> tuple[float, int]:
    """(seconds, rows) of one build + count; the testdata tables the build
    reads are added to ``tables``. They are recorded at the reader because
    a query's eager checkpoints hide their scans from the final plan."""
    read = DataFrameReader.parquet

    def recording(self, *paths, **kw):
        tables.update(
            os.path.basename(p)[: -len(".parquet")]
            for p in paths
            if os.path.dirname(p) == sf_dir
        )
        return read(self, *paths, **kw)

    DataFrameReader.parquet = recording
    try:
        t0 = time.perf_counter()
        n = spec.spark(spark, sf_dir).count()
        return time.perf_counter() - t0, n
    finally:
        DataFrameReader.parquet = read


def _slope(pts: list[tuple[int, float]]) -> float:
    """Least squares over ALL points, so one noisy endpoint cannot move it."""
    xs = [math.log(k) for k, _ in pts]
    ys = [math.log(t) for _, t in pts]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def sweep(spark, sf_dir: str, ks: list[int], names: list[str]) -> None:
    specs = all_queries()
    pts: dict[str, list[tuple[int, float]]] = {q: [] for q in names}
    first: dict[str, tuple[int, int]] = {}
    flagged: set[str] = set()
    root = pid_scratch_dir(tempfile.gettempdir(), "nilm_stress_")
    try:
        for k in ks:
            d = os.path.join(root, f"k{k}")
            rows = write_replica(sf_dir, d, k)
            for q in names:
                tables: set[str] = set()
                _timed(spark, specs[q], d, tables)  # warm: codegen, broadcasts
                sec, n = min(_timed(spark, specs[q], d, tables) for _ in range(2))
                k0, n0 = first.setdefault(q, (k, n))
                superlinear = n * k0 > n0 * k
                if superlinear:
                    flagged.add(q)
                pts[q].append((k, sec))
                print(json.dumps({
                    "query": q, "k": k,
                    "input_rows": sum(rows[t] for t in tables),
                    "result_rows": n, "sec": round(sec, 3),
                    "answer_superlinear": superlinear,
                }), flush=True)
            shutil.rmtree(d)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print("\n# log-log slope (sec ~ k^slope); <= ~1.1 = scales linearly")
    for q, p in pts.items():
        if len(p) < 2:
            continue
        (k0, t0), (k1, t1) = p[0], p[-1]
        print(json.dumps({
            "query": q, "slope": round(_slope(p), 2),
            "pair_slopes": [round(_slope([a, b]), 2) for a, b in zip(p, p[1:])],
            "span": f"{k0}x->{k1}x, {t0:.2f}s->{t1:.2f}s",
            "answer_superlinear": q in flagged,
        }), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--k", default="1,2,4,8", help="replication factors")
    ap.add_argument("queries", nargs="+", metavar="QUERY", help="registry name")
    a = ap.parse_args()
    unknown = sorted(set(a.queries) - set(all_queries()))
    if unknown:
        ap.error(f"not registry queries: {', '.join(unknown)}")
    ks = sorted({int(k) for k in a.k.split(",")})
    spark = get_session(app_name="stress-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    sweep(spark, DEFAULT_SF_DIR, ks, a.queries)


if __name__ == "__main__":
    main()
