"""Tests for W6 median smoothing against scipy's reflect-padded median
filter, and for the §2.9 stateful streaming run tracker
(applyInPandasWithState)."""

from __future__ import annotations

import json
import time

import numpy as np
import pandas as pd
import pytest

from nilm_data_framework_spark.operators.windows import median_smooth


def _reflect_median_oracle(vals: list[float], k: int) -> list[float]:
    padded = np.pad(np.asarray(vals, dtype=float), k, mode="symmetric")
    wins = np.lib.stride_tricks.sliding_window_view(padded, 2 * k + 1)
    return np.median(wins, axis=1).tolist()


@pytest.mark.parametrize("k", [1, 2])
def test_reflect_oracle_matches_scipy_if_available(k):
    # scipy is not shipped in this container; the numpy symmetric-pad oracle
    # IS the scipy 'reflect' semantics — cross-check wherever scipy exists.
    scipy_ndimage = pytest.importorskip("scipy.ndimage", reason="scipy not installed")
    vals = [0.0, 5.0, 1.0, 9.0, 2.0, 2.0, 7.0, 0.0, 3.0]
    assert (
        _reflect_median_oracle(vals, k)
        == scipy_ndimage.median_filter(np.asarray(vals), size=2 * k + 1).tolist()
    )


def test_reflect_vs_clipped_interior_equal(spark):
    vals = [4.0, 1.0, 3.0, 8.0, 2.0, 9.0, 5.0]
    pdf = pd.DataFrame({"ch": ["a"] * len(vals), "t": range(len(vals)), "v": vals})
    df = spark.createDataFrame(pdf)
    k = 1
    refl = _reflect_median_oracle(vals, k)
    clip = (
        median_smooth(df, keys=["ch"], ts="t", value="v", half_width=k)
        .orderBy("t").toPandas()["smoothed"].tolist()
    )
    # interior matches; only edges may differ
    assert refl[k:-k] == clip[k:-k]


def test_stateful_run_tracker(spark, tmp_path):
    from nilm_data_framework_spark.streaming.stateful import track_runs

    src = tmp_path / "stream_in"
    src.mkdir()
    # device d1: ON(3 samples) then OFF(2) then ON(1, stays open)
    lines = [
        {"device": "d1", "ts": "2024-01-01T00:00:00Z", "apower": 150.0},
        {"device": "d1", "ts": "2024-01-01T00:00:08Z", "apower": 140.0},
        {"device": "d1", "ts": "2024-01-01T00:00:16Z", "apower": 130.0},
        {"device": "d1", "ts": "2024-01-01T00:00:24Z", "apower": 10.0},
        {"device": "d1", "ts": "2024-01-01T00:00:32Z", "apower": 5.0},
        {"device": "d1", "ts": "2024-01-01T00:00:40Z", "apower": 200.0},
    ]
    (src / "batch0.json").write_text("\n".join(json.dumps(x) for x in lines))

    from pyspark.sql.types import StructType, StructField, StringType, DoubleType, TimestampType

    schema = StructType(
        [
            StructField("device", StringType()),
            StructField("ts", TimestampType()),
            StructField("apower", DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    runs = track_runs(stream, threshold=100.0)
    q = (
        runs.writeStream.format("memory")
        .queryName("runs_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM runs_out ORDER BY start_epoch").toPandas()
    # the two closed runs must have been emitted (the trailing ON run is
    # still open in state; watermark timeout would flush it on later input)
    assert len(out) >= 2
    first, second = out.iloc[0], out.iloc[1]
    assert (first["state"], first["n_samples"]) == (1, 3)
    assert (second["state"], second["n_samples"]) == (0, 2)
    assert first["end_epoch"] - first["start_epoch"] == 16


def test_transformwithstate_running_totals_match_batch(spark, tmp_path):
    """§2.9 v2 stateful API (transformWithStateInPandas): after a bounded
    2-batch stream drains, the last emission per device equals the batch
    groupBy aggregate over the same data. SKIPS where google.protobuf is
    broken (this container) — the v2 state-server protocol requires it."""
    pytest.importorskip("google.protobuf.descriptor",
                        reason="transformWithState needs working protobuf")
    from nilm_data_framework_spark.streaming.stateful import running_totals_v2

    src = tmp_path / "twsi_in"
    src.mkdir()
    b1 = [
        {"device": "d1", "apower": 10.0},
        {"device": "d1", "apower": 20.0},
        {"device": "d2", "apower": 5.0},
    ]
    b2 = [
        {"device": "d1", "apower": 30.0},
        {"device": "d2", "apower": 7.0},
        {"device": "d3", "apower": 1.0},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(x) for x in b1))
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    (src / "b2.json").write_text("\n".join(json.dumps(x) for x in b2))

    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    schema = StructType(
        [StructField("device", StringType()), StructField("apower", DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = running_totals_v2(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("twsi_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "twsi_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emissions = spark.sql("SELECT * FROM twsi_out").toPandas()
    # last emission per device = cumulative total
    final = (
        emissions.groupby("device")
        .last()
        .reset_index()[["device", "n", "total"]]
        .sort_values("device")
    )
    got = {(r.device): (int(r.n), float(r.total)) for r in final.itertuples()}
    assert got == {"d1": (3, 60.0), "d2": (2, 12.0), "d3": (1, 1.0)}
