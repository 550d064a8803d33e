"""The scale-out sweep (``scripts/stress_scaling.py``): its k× replica
multiplies every replicated table by k, keeps the dimensions as they are,
keeps every foreign-key join inside one replica and keeps ids disjoint
across replicas; and one registry query runs through it end to end."""

from __future__ import annotations

import importlib.util
import json
import math
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest

from nilm_data_framework_spark.schema import TESTDATA_TABLES
from tests.conftest import SF_DIR

_SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "stress_scaling.py"
_spec = importlib.util.spec_from_file_location("stress_scaling", _SCRIPT)
S = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(S)

K = 3


@pytest.fixture(scope="module")
def replicas(tmp_path_factory):
    root = tmp_path_factory.mktemp("replicas")
    S.write_replica(SF_DIR, str(root / "k1"), 1)
    rows = S.write_replica(SF_DIR, str(root / "k3"), K)
    con = duckdb.connect()
    for k in ("k1", "k3"):
        con.execute(f"CREATE SCHEMA {k}")
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {k}.{t} AS SELECT * FROM read_parquet('{root / k / t}.parquet')"
            )
    yield con, rows, root
    con.close()


def test_rule_table_covers_every_table_and_keeps_types(replicas):
    _, rows, root = replicas
    assert set(S.REPLICATE) == set(TESTDATA_TABLES)
    for t in TESTDATA_TABLES:
        src = pq.read_table(f"{SF_DIR}/{t}.parquet")
        out = pq.read_table(root / "k3" / f"{t}.parquet")
        assert out.schema == src.schema, t
        factor = K if S.REPLICATE[t] else 1  # region/nation: unchanged
        assert out.num_rows == rows[t] == factor * src.num_rows, t
        if factor == 1:
            assert out.equals(src), t


def test_joins_stay_inside_a_replica(replicas):
    con, _, _ = replicas
    s = S.STRIDE
    joins = {
        "lineitem-orders-customer": (
            "{k}.lineitem JOIN {k}.orders ON l_orderkey = o_orderkey"
            " JOIN {k}.customer ON o_custkey = c_custkey",
            f"l_partkey // {s} <> c_custkey // {s}",
        ),
        "lineitem-part": (
            "{k}.lineitem JOIN {k}.part ON l_partkey = p_partkey",
            f"l_orderkey // {s} <> p_partkey // {s}",
        ),
        "lineitem-supplier": (
            "{k}.lineitem JOIN {k}.supplier ON l_suppkey = s_suppkey",
            f"l_orderkey // {s} <> s_suppkey // {s}",
        ),
    }
    for name, (src, crossed) in joins.items():
        (n1,) = con.execute(f"SELECT count(*) FROM {src.format(k='k1')}").fetchone()
        (nk, bad) = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE {crossed})"
            f" FROM {src.format(k='k3')}"
        ).fetchone()
        assert n1 > 0 and nk == K * n1 and bad == 0, name


def test_ids_are_disjoint_across_replicas(replicas):
    con, _, _ = replicas
    for t, rule in S.REPLICATE.items():
        for col, fn in rule.items():
            if fn is not S._shift:
                continue
            (d1,) = con.execute(f"SELECT count(DISTINCT {col}) FROM k1.{t}").fetchone()
            (dk, reps) = con.execute(
                f"SELECT count(DISTINCT {col}), count(DISTINCT {col} // {S.STRIDE})"
                f" FROM k3.{t}"
            ).fetchone()
            assert (dk, reps) == (K * d1, K), f"{t}.{col}"


def test_sweep_smoke(spark, capsys):
    S.sweep(spark, SF_DIR, [1, 2], ["kaplan_meier_survival"])
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines() if x.startswith("{")]
    per_k, (fit,) = lines[:2], lines[2:]
    assert [p["k"] for p in per_k] == [1, 2]
    for p in per_k:
        assert p["query"] == "kaplan_meier_survival"
        assert p["input_rows"] > 0 and p["result_rows"] > 0 and p["sec"] > 0
        assert p["answer_superlinear"] is False
    assert per_k[1]["input_rows"] == 2 * per_k[0]["input_rows"]
    assert math.isfinite(fit["slope"]) and len(fit["pair_slopes"]) == 1
