"""Ingest-parity tests for the raw NILM source readers (FIXTURES.md §1),
using synthetic fixture files in the reference's formats."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from nilm_data_framework_spark.sources.mqtt_json import read_mqtt_log
from nilm_data_framework_spark.sources.refit import read_refit
from nilm_data_framework_spark.sources.ukdale import read_ukdale


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw")
    # REFIT: two houses, header + rows (FIXTURES.md §1.1)
    for house, rows in [(3, [(1700000000, 100.0, 5.0), (1700000008, 110.0, 0.0)]),
                        (12, [(1700000004, 90.0, 7.5)])]:
        path = d / f"CLEAN_House{house}.csv"
        with open(path, "w") as f:
            cols = "Time,Unix,Aggregate," + ",".join(f"Appliance{i}" for i in range(1, 10)) + ",Issues"
            f.write(cols + "\n")
            for unix, agg, app1 in rows:
                f.write(f"ts,{unix},{agg},{app1}" + ",0.0" * 8 + ",0\n")
    # UK-DALE: channel files + button_press decoy + malformed line (§1.2)
    os.makedirs(d / "ukdale")
    with open(d / "ukdale" / "channel_1.dat", "w") as f:
        f.write("1700000000 240.5\n1700000006 241.0\n")
    with open(d / "ukdale" / "channel_2.dat", "w") as f:
        f.write("1700000000 10.0\nnot_a_number garbage\n")
    with open(d / "ukdale" / "channel_1_button_press.dat", "w") as f:
        f.write("1700000000 1\n")
    # Shelly MQTT JSON-lines (§1.3) with malformed + duplicate rows
    with open(d / "mqtt.log.20240101", "w") as f:
        f.write(json.dumps({"ts": 1700000000.5, "payload": {"dst": "kettle/events",
                 "params": {"switch:0": {"apower": 1850.2}}}}) + "\n")
        f.write(json.dumps({"ts": 1700000000.5, "payload": {"dst": "kettle/events",
                 "params": {"switch:0": {"apower": 1850.2}}}}) + "\n")
        f.write("this is not json\n")
        f.write(json.dumps({"ts": 1700000001.0, "payload": {"dst": "fridge/events",
                 "params": {}}}) + "\n")  # missing apower → dropped
    return str(d)


def test_refit_reader(spark, fixture_dir):
    df = read_refit(spark, f"{fixture_dir}/CLEAN_House*.csv")
    rows = df.collect()
    # 2 houses; non-null channels only (Appliance2..9 are 0.0, still rows)
    houses = {r["house_id"] for r in rows}
    assert houses == {3, 12}
    agg3 = {
        (r["ts"].isoformat(), r["power"])
        for r in rows
        if r["house_id"] == 3 and r["channel_id"] == "Aggregate"
    }
    assert agg3 == {("2023-11-14T22:13:20", 100.0), ("2023-11-14T22:13:28", 110.0)}
    assert all(r["dataset"] == "refit" for r in rows)


def test_ukdale_reader_skips_decoys_and_bad_rows(spark, fixture_dir):
    df = read_ukdale(spark, f"{fixture_dir}/ukdale/channel_*.dat", house_id=1)
    rows = df.collect()
    chans = {r["channel_id"] for r in rows}
    assert chans == {"channel_1", "channel_2"}  # no button_press
    assert len([r for r in rows if r["channel_id"] == "channel_2"]) == 1  # bad row dropped
    assert {r["house_id"] for r in rows} == {1}


def test_mqtt_reader(spark, fixture_dir):
    df = read_mqtt_log(spark, f"{fixture_dir}/mqtt.log.*")
    rows = df.collect()
    # malformed + missing-apower lines dropped; duplicates retained (dedup is
    # a downstream operator, P10/A3)
    assert len(rows) == 2
    assert all(r["device"] == "kettle" for r in rows)
    assert all(abs(r["apower"] - 1850.2) < 1e-9 for r in rows)


def test_canonical_roundtrip(spark, fixture_dir, tmp_path):
    from nilm_data_framework_spark.sources.canonical import read_readings, write_readings

    df = read_refit(spark, f"{fixture_dir}/CLEAN_House*.csv")
    out = str(tmp_path / "readings")
    write_readings(df, out)
    back = read_readings(spark, out)
    assert back.count() == df.count()
    # partition pruning: house filter reads only that house's directory
    assert back.filter(F.col("house_id") == 3).count() == df.filter(F.col("house_id") == 3).count()
    assert set(back.columns) == set(df.columns)


def test_ukdale_house_from_path(spark, tmp_path):
    # UK-DALE layout: one house_N directory per building; house_id must come
    # from the path when no override is given
    for house in (1, 5):
        d = tmp_path / f"house_{house}"
        d.mkdir()
        (d / "channel_1.dat").write_text("1700000000 240.5\n")
    df = read_ukdale(spark, f"{tmp_path}/house_*/channel_*.dat")
    assert {r["house_id"] for r in df.collect()} == {1, 5}
    # houses= generalizes the reference's house-4-only debug filter
    # (UKDALELoader.py:49-50): the selected-houses run configuration
    only5 = read_ukdale(spark, f"{tmp_path}/house_*/channel_*.dat", houses=[5])
    assert {r["house_id"] for r in only5.collect()} == {5}
    none = read_ukdale(spark, f"{tmp_path}/house_*/channel_*.dat", houses=[4])
    assert none.count() == 0
    # r6 advice: houses= must honor an explicit house_id override — a
    # single-house glob with no house_N/ path component previously
    # re-extracted NULL from _file and silently dropped every row
    flat = tmp_path / "flatdir"
    flat.mkdir()
    (flat / "channel_1.dat").write_text("1700000000 240.5\n")
    ovr = read_ukdale(
        spark, f"{flat}/channel_*.dat", house_id=7, houses=[7]
    )
    assert {r["house_id"] for r in ovr.collect()} == {7}
    ovr_out = read_ukdale(
        spark, f"{flat}/channel_*.dat", house_id=7, houses=[4]
    )
    assert ovr_out.count() == 0


def test_canonical_partition_pruning_plan(spark, fixture_dir, tmp_path):
    """The (dataset, house_id) partitioning must surface as PartitionFilters
    in the scan — the SCALE.md near-free per-house slice claim."""
    import contextlib
    import io

    from nilm_data_framework_spark.sources.canonical import read_readings, write_readings

    df = read_refit(spark, f"{fixture_dir}/CLEAN_House*.csv")
    out = str(tmp_path / "readings_pruned")
    write_readings(df, out)
    back = read_readings(spark, out).filter(F.col("house_id") == 3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "house_id" in pf[0], f"no partition filter in scan:\n{plan[:600]}"


def test_metadata_json_reader(spark, tmp_path):
    """S5: nested {house: {channel: {field: value}}} JSON → channels dim."""
    meta = {
        "3": {
            "Appliance1": {"label": "Fridge", "manufacturer": "LG"},
            "Aggregate": {"label": "aggregate"},
        },
        "12": {"Appliance1": {"label": "Kettle", "acquisition_device": "plug"}},
    }
    p = tmp_path / "refit_appliance_metadata.json"
    p.write_text(json.dumps(meta))
    from nilm_data_framework_spark.sources.metadata_json import read_metadata_json

    rows = {(r["house_id"], r["channel_id"]): r for r in read_metadata_json(spark, str(p)).collect()}
    assert set(rows) == {(3, "Appliance1"), (3, "Aggregate"), (12, "Appliance1")}
    assert rows[(3, "Appliance1")]["label"] == "Fridge"
    assert rows[(3, "Appliance1")]["manufacturer"] == "LG"
    assert rows[(12, "Appliance1")]["acquisition_device"] == "plug"
    assert rows[(3, "Aggregate")]["manufacturer"] is None


def _write_ukdale_fixture(tmp_path):
    """NILMTK-shaped building YAML + labels.dat for two houses; house 3 has
    labels but no YAML and must be skipped (reference behavior)."""
    meta = tmp_path / "metadata"
    meta.mkdir()
    (meta / "building1.yaml").write_text(
        """
elec_meters:
  1: {device_model: EcoManagerWholeHouseTx}
  2: {device_model: CurrentCostTx}
  3: {device_model: CurrentCostTx}
appliances:
  - original_name: Kettle
    manufacturer: Breville
    model: JK12
    meters: [2]
  - original_name: " Fridge "
    manufacturer: LG
    meters: [3]
  - original_name: ""
    manufacturer: Ghost
    meters: [1]
"""
    )
    (meta / "building2.yaml").write_text(
        """
elec_meters:
  1: {device_model: SoundCardPowerMeter}
appliances:
  - original_name: kettle
    manufacturer: DeLonghi
    model: KBOV
    meters: [2]
"""
    )
    for house, labels in [
        (1, "1 aggregate\n2 kettle\n3 fridge\n9 no_meter_entry\nmalformed\n"),
        (2, "1 aggregate\n2 kettle\n"),
        (3, "1 aggregate\n"),
    ]:
        d = tmp_path / f"house_{house}"
        d.mkdir()
        (d / "labels.dat").write_text(labels)
    return str(meta), str(tmp_path)


def test_ukdale_metadata_build(spark, tmp_path):
    """S6 (create_ukdale_metadata.py:13-91): YAML+labels → combined object
    with Unknown-defaulting, appliance->meter mapping, skipped houses."""
    from nilm_data_framework_spark.sources import ukdale_metadata as UM

    meta_dir, base_dir = _write_ukdale_fixture(tmp_path)
    combined = UM.build_combined_metadata(meta_dir, base_dir, houses=range(1, 6))
    # house 3 skipped: labels.dat exists but building3.yaml does not
    assert set(combined) == {"House 1", "House 2"}
    h1 = {e["channel"]: e for e in combined["House 1"]}
    assert sorted(h1) == [1, 2, 3, 9]
    # channel 2: appliance original_name Kettle -> Breville/JK12, meter device
    assert h1[2] == {
        "channel": 2, "appliance_raw_label": "kettle", "manufacturer": "Breville",
        "model": "JK12", "acquisition_device": "CurrentCostTx",
    }
    # " Fridge " strips+lowercases; model missing -> Unknown
    assert h1[3]["manufacturer"] == "LG" and h1[3]["model"] == "Unknown"
    # empty original_name never maps manufacturer (reference quirk)
    assert h1[1]["manufacturer"] == "Unknown"
    assert h1[1]["acquisition_device"] == "EcoManagerWholeHouseTx"
    # channel in labels but absent from elec_meters -> Unknown device
    assert h1[9]["acquisition_device"] == "Unknown"
    # house 2: kettle maps via lowercase original_name; channel 2 has no
    # elec_meters entry -> Unknown device but mapped manufacturer
    h2 = {e["channel"]: e for e in combined["House 2"]}
    assert h2[2]["manufacturer"] == "DeLonghi"
    assert h2[2]["acquisition_device"] == "Unknown"

    # JSON round-trip preserves the structure (reference's output file shape)
    out = tmp_path / "combined.json"
    UM.write_combined_metadata(combined, str(out))
    assert json.loads(out.read_text()) == combined

    # channels dim: S5 schema, one row per (house, channel)
    dim = UM.ukdale_channels_dim(spark, meta_dir, base_dir)
    rows = {(r["house_id"], r["channel_id"]): r for r in dim.collect()}
    assert (1, "2") in rows and rows[(1, "2")]["label"] == "kettle"
    assert rows[(2, "1")]["acquisition_device"] == "SoundCardPowerMeter"
    assert len(rows) == 6


def test_ola_h5_transform(spark, tmp_path):
    """S3 (OlaLoader.py:32-141): wide Ola frames → canonical long model —
    suffix typing, aggregate = keep-first-dedup + fillna(0) row-sum — then
    round-trip through the S7/S8 canonical Parquet sink/source."""
    import numpy as np
    import pandas as pd

    from nilm_data_framework_spark.schema import READINGS
    from nilm_data_framework_spark.sources.canonical import read_readings, write_readings
    from nilm_data_framework_spark.sources.ola_h5 import (
        infer_sample_rate_str,
        ola_to_canonical,
    )

    shelly = pd.DataFrame(
        {"plug_a": [10.0, 20.0, 30.0], "plug_b": [1.0, np.nan, 3.0]},
        index=[100, 110, 120],
    )
    # duplicated index ts=100 (keep first in aggregate), plus unknown suffix
    emon = pd.DataFrame(
        {
            "main_W": [5.0, 7.0, 9.0],
            "main_VA": [6.0, 8.0, 10.0],
            "main_PF": [0.9, 0.9, 0.9],
            "weird_X": [1.0, 1.0, 1.0],
        },
        index=[100, 100, 130],
    )
    readings, channels = ola_to_canonical(shelly=shelly, emonesp=emon)

    chan = {r.channel_id: r for r in channels.itertuples()}
    assert chan["shelly_plug_a"].data_type == "active"
    assert chan["shelly_plug_a"].acquisition_device == "Shelly"
    assert chan["emonesp_main_VA"].data_type == "apparent"
    assert chan["emonesp_main_VA"].unit == "VA"
    assert chan["emonesp_main_PF"].unit == "unitless"
    assert chan["emonesp_main_W"].raw_label == "main"
    assert "emonesp_weird_X" not in chan  # unknown suffix skipped
    assert chan["aggregate"].manufacturer == "Computed"
    assert chan["shelly_plug_a"].sample_rate == "10S"
    assert chan["emonesp_main_W"].sample_rate == "30S"  # dup delta 0 excluded

    # aggregate: shelly (100,110,120) + emon active main_W keep-first
    # (100→5.0, 130→9.0), aligned fillna(0):
    #   100: 10+1+5=16, 110: 20+0(nan plug_b)... plug_b nan at 110 stays NaN
    agg = readings[readings.channel_id == "aggregate"].set_index("ts")["power"]
    agg.index = (agg.index.astype("int64") // 10**9).astype(int)
    assert agg[100] == 16.0
    assert agg[120] == 33.0   # 30 + 3 + 0
    assert agg[130] == 9.0    # emon only
    # NaN in a source column propagates through sum (pandas sum of aligned
    # frame rows with NaN → NaN only if skipna not applied; fillna(0) only
    # fills alignment gaps, matching the reference)
    assert np.isnan(agg[110]) or agg[110] == 20.0

    # round-trip through canonical sink/source preserves values exactly
    sdf = spark.createDataFrame(readings, READINGS)
    out = str(tmp_path / "canon")
    write_readings(sdf, out)
    back = read_readings(spark, out)
    a = sorted(
        (r["channel_id"], int(r["ts"].timestamp()), r["power"])
        for r in back.collect()
        if r["power"] is not None and not (r["power"] != r["power"])
    )
    b = sorted(
        (r.channel_id, int(r.ts.timestamp()), r.power)
        for r in readings.itertuples()
        if not (r.power != r.power)
    )
    assert a == b

    assert infer_sample_rate_str(pd.to_datetime([100], unit="s")) == "unknown"


def test_merge_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """MERGE semantics (update-else-insert) + the cost bound: untouched
    partitions' files must be byte-identical after the merge."""
    import glob
    import hashlib

    from nilm_data_framework_spark.sources.canonical import (
        merge_upsert_partitioned,
        read_readings,
    )

    schema = "dataset string, house_id int, channel_id int, ts long, value double"
    base = spark.createDataFrame(
        [
            ("refit", 1, 1, 100, 1.0),
            ("refit", 1, 1, 200, 2.0),
            ("refit", 2, 1, 100, 3.0),
            ("refit", 2, 2, 100, 4.0),
        ],
        schema,
    )
    out = str(tmp_path / "readings")
    (
        base.repartition("dataset", "house_id")
        .write.mode("overwrite")
        .partitionBy("dataset", "house_id")
        .parquet(out)
    )

    def digest(pattern):
        return {
            p: hashlib.md5(open(p, "rb").read()).hexdigest()
            for p in sorted(glob.glob(pattern, recursive=True))
        }

    untouched_before = digest(f"{out}/dataset=refit/house_id=2/**/*.parquet")

    # one UPDATE (house 1 ts=200 → 20.0) and one INSERT (house 1 ts=300)
    changes = spark.createDataFrame(
        [("refit", 1, 1, 200, 20.0), ("refit", 1, 1, 300, 30.0)], schema
    )
    merge_upsert_partitioned(spark, changes, out)

    back = {
        (r["house_id"], r["channel_id"], r["ts"]): r["value"]
        for r in read_readings(spark, out).collect()
    }
    assert back == {
        (1, 1, 100): 1.0,
        (1, 1, 200): 20.0,
        (1, 1, 300): 30.0,
        (2, 1, 100): 3.0,
        (2, 2, 100): 4.0,
    }
    assert digest(f"{out}/dataset=refit/house_id=2/**/*.parquet") == untouched_before


def test_canonical_schema_evolution_merge(spark, tmp_path):
    """Stores live for years; readers must survive columns ADDED over time.
    Parquet mergeSchema unions the file schemas: old files surface the new
    column as NULL, new files carry it — no rewrite of history. (At 100 TB
    schema merging is a FOOTER-only operation, but it's off by default
    because listing every footer has a cost — turn it on per-read, or pin
    the merged schema explicitly once known.)"""
    v1 = spark.createDataFrame(
        [("refit", 1, 1, 100, 1.0)],
        "dataset string, house_id int, channel_id int, ts long, value double",
    )
    v2 = spark.createDataFrame(
        [("refit", 2, 1, 100, 2.0, "W")],
        "dataset string, house_id int, channel_id int, ts long, value double, unit string",
    )
    out = str(tmp_path / "evolving")
    v1.write.mode("overwrite").partitionBy("dataset", "house_id").parquet(out)
    v2.write.mode("append").partitionBy("dataset", "house_id").parquet(out)

    back = spark.read.option("mergeSchema", "true").parquet(out)
    rows = {r["house_id"]: r for r in back.collect()}
    assert "unit" in back.columns
    assert rows[1]["unit"] is None and rows[2]["unit"] == "W"
    assert rows[1]["value"] == 1.0 and rows[2]["value"] == 2.0


def test_orc_roundtrip_matches_parquet(spark, tmp_path):
    """S7/S8 alternate format: the ORC sink round-trips the canonical
    readings frame exactly, and agrees row-for-row with the Parquet sink
    (same partitioned layout, different container)."""
    from nilm_data_framework_spark.sources import canonical as C

    rows = [
        ("refit", 1, 10, 1_700_000_000_000_000 + i * 8_000_000, float(i % 40))
        for i in range(200)
    ] + [("ukdale", 2, 3, 1_700_000_000_000_000, 7.5)]
    df = spark.createDataFrame(
        rows, "dataset string, house_id int, channel_id int, ts_us long, power double"
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")

    pq = str(tmp_path / "pq")
    oc = str(tmp_path / "orc")
    C.write_readings(df, pq)
    C.write_readings_orc(df, oc)

    def canon(d):
        return sorted(
            (r["dataset"], r["house_id"], r["channel_id"], r["ts"], r["power"])
            for r in d.collect()
        )

    got_orc = canon(C.read_readings_orc(spark, oc))
    got_pq = canon(C.read_readings(spark, pq))
    assert got_orc == got_pq == canon(df)

    # partition pruning works on the ORC layout too
    pruned = C.read_readings_orc(spark, oc).filter(
        (F.col("dataset") == "ukdale") & (F.col("house_id") == 2)
    )
    assert pruned.count() == 1
