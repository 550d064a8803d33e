"""Fixed per-request costs of the serve path: program-written layouts open
without a schema-inference job, the IVF probe evaluates its query frame
once and picks its probe lists on the driver exactly as the JVM would,
the BM25 and IVF probes build their plans in a bounded number of Py4J
round trips, the canonical store keeps its in-file sort order,
partitioned writes run no empty writer tasks, and Python workers come
from the package's daemon module."""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import uuid
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nilm_data_framework_spark import layouts as L
from nilm_data_framework_spark.operators import similarity as S
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.sources import canonical as C
from tests.conftest import SF_DIR

# the gate scale of the oracle-parity runs, next to the test scale
GATE_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def _jobs_during(spark, build):
    """(result of build(), ids of the Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"serve-floor-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _readings(spark):
    """Two datasets, three channels, timestamps that collide across
    channels: a frame whose written order is observable."""

    def part(dataset, n):
        return spark.range(n).select(
            F.lit(dataset).alias("dataset"),
            (F.col("id") % 2).cast("int").alias("house_id"),
            F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("channel_id"),
            F.timestamp_seconds(F.col("id") * 7 % 500).alias("ts"),
            (F.col("id") * 0.5).alias("power"),
        )

    return part("refit", 600).unionByName(part("ukdale", 300))


def test_read_readings_with_sidecar_launches_no_job(spark, tmp_path):
    out = str(tmp_path / "store")
    df = _readings(spark)
    C.write_readings(df, out)
    sidecar = json.loads((tmp_path / "store" / L.SCHEMA_SIDECAR).read_text())
    assert [f["name"] for f in sidecar["fields"]] == df.columns
    back, jobs = _jobs_during(spark, lambda: C.read_readings(spark, out))
    assert jobs == []
    assert back.schema == spark.read.parquet(out).schema
    assert back.count() == 900


def test_store_without_sidecar_still_reads(spark, tmp_path):
    out = str(tmp_path / "plain")
    _readings(spark).write.partitionBy("dataset", "house_id").parquet(out)
    back = C.read_readings(spark, out)
    assert back.schema == spark.read.parquet(out).schema
    assert back.count() == 900


def test_merge_upsert_leaves_matching_sidecar(spark, tmp_path):
    out = str(tmp_path / "merged")
    schema = "dataset string, house_id int, channel_id int, ts long, value double"
    spark.createDataFrame(
        [("refit", 1, 1, 100, 1.0), ("refit", 2, 1, 100, 3.0)], schema
    ).write.partitionBy("dataset", "house_id").parquet(out)
    assert L.read_schema_sidecar(spark, out) is None
    C.merge_upsert_partitioned(
        spark, spark.createDataFrame([("refit", 1, 1, 200, 2.0)], schema), out
    )
    recorded = L.read_schema_sidecar(spark, out)
    assert recorded is not None
    assert spark.read.schema(recorded).parquet(out).schema == spark.read.parquet(out).schema
    got = {(r["house_id"], r["ts"]): r["value"] for r in C.read_readings(spark, out).collect()}
    assert got == {(1, 100): 1.0, (1, 200): 2.0, (2, 100): 3.0}


def test_bm25_probe_launches_no_job_while_building(spark, tmp_path):
    path = str(tmp_path / "bm25")
    docs = spark.createDataFrame(
        [(1, "solar power meter"), (2, "power fridge"), (3, "kettle kettle power")],
        "doc_id long, text string",
    )
    T.write_bm25_index(docs, path)
    hits, jobs = _jobs_during(spark, lambda: T.bm25_hits_indexed(spark, path, ["power", "kettle"]))
    assert jobs == []
    assert {r["doc_id"] for r in hits.collect()} == {1, 2, 3}


def _counting_identity(evaluated_rows):
    """An identity UDF on the query vectors that counts its evaluations."""

    @F.udf("array<float>")
    def counted(v):
        evaluated_rows.add(1)
        return v

    return counted


def test_ivf_partitioned_evaluates_queries_once(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = S.sample_centroids(emb, 8)
    path = str(tmp_path / "ivf")
    S.write_ivf_corpus(emb, path, cents)
    rows = emb.filter(F.col("vec_id") < 4).select("vec_id", "embedding").collect()
    evaluated = spark.sparkContext.accumulator(0)
    queries = spark.createDataFrame(rows, "vec_id long, embedding array<float>").withColumn(
        "embedding", _counting_identity(evaluated)("embedding")
    )
    got, jobs = _jobs_during(
        spark,
        lambda: S.ivf_topk_partitioned(spark, path, queries, k=5, centroids=cents, n_probe=3),
    )
    # the one collect of the query side; the corpus read infers nothing
    assert len(jobs) == 1
    got_rows = sorted(map(tuple, got.select("query_id", "match_id", "rk").collect()))
    assert evaluated.value == len(rows)
    want = S.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 4), k=5, n_probe=3, centroids=cents
    ).select("query_id", "match_id", "rk")
    assert got_rows == sorted(map(tuple, want.collect()))
    assert len(got_rows) == 4 * 5


def test_ivf_partitioned_empty_queries(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = S.sample_centroids(emb, 8)
    path = str(tmp_path / "ivf_empty")
    S.write_ivf_corpus(emb, path, cents)
    none = emb.filter(F.col("vec_id") < 0)
    assert S.ivf_topk_partitioned(spark, path, none, k=5, centroids=cents).count() == 0


def _jvm_probe_cids(frame, centroids, n_probe):
    """Each row's ``n_probe`` nearest centroid ids as the JVM picks them
    (the :func:`S._nearest` kernel of assign_centroids and ivf_topk)."""
    pick = f"transform({S._nearest(S.array_lit(centroids), n_probe)}, s -> s.cid) AS cids"
    return [r["cids"] for r in frame.selectExpr(pick).collect()]


def test_driver_probe_pick_matches_jvm_nearest(spark):
    emb = spark.read.parquet(f"{GATE_SF_DIR}/embeddings.parquet").orderBy("vec_id")
    cents = S.sample_centroids(emb, 16)
    vecs = [r["embedding"] for r in emb.select("embedding").collect()]
    assert len(vecs) == 500
    for n_probe in range(1, 5):
        assert S._probe_cids(vecs, cents, n_probe) == _jvm_probe_cids(emb, cents, n_probe)


def test_driver_probe_pick_breaks_exact_ties_on_lower_cid(spark):
    # centroids 1 and 2 are the same vector: every query ties on them
    cents = [[1.0, 0.0, 0.0], [0.5, 0.5, 0.0], [0.5, 0.5, 0.0], [0.0, 0.0, 1.0]]
    vecs = [[0.6, 0.4, 0.1], [0.1, 0.1, 0.9]]
    frame = spark.createDataFrame([(v,) for v in vecs], "embedding array<float>")
    assert S._probe_cids(vecs, cents, 1)[0] == [1]
    for n_probe in range(1, 5):
        assert S._probe_cids(vecs, cents, n_probe) == _jvm_probe_cids(frame, cents, n_probe)


def test_ivf_partitioned_zero_norm_query_fails_loudly(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = S.sample_centroids(emb, 8)
    path = str(tmp_path / "ivf_zero")
    S.write_ivf_corpus(emb, path, cents)
    zero = spark.createDataFrame([(10**9, [0.0] * 64)], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S.ivf_topk_partitioned(spark, path, zero, k=5, centroids=cents).collect()


def _py4j_commands(spark, monkeypatch, run) -> int:
    """Py4J commands sent while ``run()`` builds and collects a frame,
    without the memory releases (``m``) the garbage collector sends at
    unpredictable times."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if command[:1] != "m":
            sent.append(command[:1])
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        run()
    finally:
        monkeypatch.undo()
    return len(sent)


# measured 93 (BM25, two terms) and 128 (IVF, one query); the Column-API
# builds of the same plans sent 795 and 1,151
BM25_PROBE_MAX_COMMANDS = 110
IVF_PROBE_MAX_COMMANDS = 150


def test_bm25_probe_py4j_round_trips(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "bm25")
    T.write_bm25_index(spark.read.parquet(f"{SF_DIR}/documents.parquet"), path)
    terms = ["spark", "vector"]
    n = _py4j_commands(spark, monkeypatch, lambda: T.bm25_hits_indexed(spark, path, terms).collect())
    assert n <= BM25_PROBE_MAX_COMMANDS, n


def test_ivf_probe_py4j_round_trips(spark, tmp_path, monkeypatch):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = S.sample_centroids(emb, 16)
    path = str(tmp_path / "ivf")
    S.write_ivf_corpus(emb, path, cents)
    row = emb.orderBy("vec_id").first()
    q = spark.createDataFrame([(row[0], list(row[1]))], "vec_id long, embedding array<float>")
    run = lambda: S.ivf_topk_partitioned(spark, path, q, 10, cents, n_probe=4).collect()  # noqa: E731
    n = _py4j_commands(spark, monkeypatch, run)
    assert n <= IVF_PROBE_MAX_COMMANDS, n


def _final_plan(desc: str) -> str:
    """The executed tree of a formatted plan description (AQE's final
    plan, without the initial plan and the per-node details)."""
    m = re.search(r"== Final Plan ==(.*?)(== Initial Plan ==|\Z)", desc, flags=re.S)
    return m.group(1) if m else desc


def test_canonical_store_files_keep_ts_order(spark, tmp_path):
    out = str(tmp_path / "ordered")
    sc = spark.sparkContext
    tag = f"write-order-{uuid.uuid4().hex}"
    sc.setJobDescription(tag)
    try:
        C.write_readings(_readings(spark), out)
    finally:
        sc.setJobDescription(None)
    files = sorted(glob.glob(f"{out}/*/*/*.parquet"))
    assert len(files) == 4
    for f in files:
        rows = pd.read_parquet(f)
        keys = list(zip(rows["ts"], rows["channel_id"]))
        assert keys == sorted(keys), f"{f} is not ordered by (ts, channel_id)"

    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    descs = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).description() == tag
    ]
    assert descs, "write execution not found in the SQL status store"
    plan = _final_plan(descs[-1])
    sorts = re.findall(r"\bSort \(\d+\)", plan)
    assert len(sorts) == 1, plan


def _write_stage_tasks(spark, write, root: str) -> int:
    """Tasks of the stage that wrote the files under ``root`` in
    ``write()``: the last stage of the one SQL execution whose write
    command targets ``root``."""
    sc = spark.sparkContext
    tag = f"write-shape-{uuid.uuid4().hex}"
    sc.setJobDescription(tag)
    try:
        write()
    finally:
        sc.setJobDescription(None)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    last = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.description() == tag and f"Arguments: file:{root}," in e.physicalPlanDescription():
            ids = e.stages().toList()
            last.append(max(ids.apply(k) for k in range(ids.size())))
    assert len(last) == 1, f"{len(last)} write executions target {root}"
    return sc.statusTracker().getStageInfo(last[0]).numTasks


def _partitioned_layout(spark, tmp_path, layout):
    """(write, written root, partition directory glob) for one layout."""
    if layout == "readings":
        out = str(tmp_path / "store")
        return lambda: C.write_readings(_readings(spark), out), out, f"{out}/*/*/"
    if layout == "bm25":
        out = str(tmp_path / "bm25")
        docs = spark.createDataFrame(
            [(1, "solar power meter"), (2, "power fridge"), (3, "kettle kettle power")],
            "doc_id long, text string",
        )
        return lambda: T.write_bm25_index(docs, out), f"{out}/postings", f"{out}/postings/*/"
    out = str(tmp_path / "ivf")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = S.sample_centroids(emb, 8)
    return lambda: S.write_ivf_corpus(emb, out, cents), out, f"{out}/*/"


@pytest.mark.parametrize("layout", ["readings", "bm25", "ivf"])
def test_partitioned_writes_run_no_empty_tasks(spark, tmp_path, layout):
    write, root, dirs_glob = _partitioned_layout(spark, tmp_path, layout)
    tasks = _write_stage_tasks(spark, write, root)
    dirs = glob.glob(dirs_glob)
    assert dirs
    assert tasks <= len(dirs), f"{tasks} writer tasks for {len(dirs)} partition directories"
    files = {d: len(glob.glob(f"{d}*.parquet")) for d in dirs}
    assert set(files.values()) == {1}, files


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the shim only patches CPython < 3.12")
def test_python_workers_run_the_zip_cache_shim(spark, tmp_path):
    sc = spark.sparkContext

    def shim_name(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__qualname__

    assert sc.parallelize([0], 1).mapPartitions(shim_name).collect() == [
        "_invalidate_unless_fixed"
    ]


def test_add_py_file_module_imports_on_workers(spark, tmp_path):
    mod = f"nilm_shipped_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    sc = spark.sparkContext
    sc.addPyFile(str(archive))

    def load(_):
        import importlib

        yield importlib.import_module(mod).VALUE

    assert sc.parallelize([0, 1], 2).mapPartitions(load).collect() == [42, 42]
