"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments and
writes bytes only; the program under test receives nothing but the files
written here. Same seed, same bytes: numpy's PCG64 stream is stable across
platforms and every file is written in a fixed order with fixed formatting.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

# REFIT-style epoch start (2014-01-01) and UK-DALE / Shelly starts; the
# values only need to be realistic and fixed.
REFIT_T0 = 1_388_534_400
UKDALE_T0 = 1_363_564_800
MQTT_T0 = 1_751_529_600

REFIT_APPLIANCES = [f"Appliance{i}" for i in range(1, 10)]
MQTT_DEVICES = ["kettle", "fridge", "washer", "tv", "dryer"]

# documents draw words from w0..w{DOC_VOCAB-1} with Zipf weights, so term
# postings differ in size, as in real text
DOC_VOCAB = 30


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per generator so resizing one input never shifts
    another's bytes."""
    key = [seed & 0xFFFFFFFF, *(ord(c) for c in stream)]
    return np.random.default_rng(np.random.SeedSequence(key))


def _appliance_power(rng: np.random.Generator, n: int, on_w: int) -> np.ndarray:
    """Integer-watt on/off trace: runs of off (standby 0-3 W) and on
    (on_w ± 10%) with geometric run lengths."""
    out = np.empty(n, dtype=np.int64)
    i = 0
    on = False
    while i < n:
        run = int(rng.geometric(1 / (40 if on else 200)))
        j = min(n, i + run)
        if on:
            out[i:j] = rng.integers(int(on_w * 0.9), int(on_w * 1.1) + 1, j - i)
        else:
            out[i:j] = rng.integers(0, 4, j - i)
        i = j
        on = not on
    return out


def write_refit(root: str, seed: int, houses: int, rows: int) -> None:
    """``CLEAN_House{N}.csv``: header ``Time,Unix,Aggregate,Appliance1..9,
    Issues``; ~8 s sampling with jitter and about 0.5% repeated timestamps;
    about 0.2% of appliance cells empty (missing readings)."""
    os.makedirs(root, exist_ok=True)
    rng = rng_for(seed, "refit")
    for h in range(1, houses + 1):
        deltas = rng.integers(6, 11, rows)
        deltas[rng.random(rows) < 0.005] = 0
        unix = REFIT_T0 + h * 3600 + np.cumsum(deltas)
        cols = {}
        for k, name in enumerate(REFIT_APPLIANCES):
            cols[name] = _appliance_power(rng, rows, 100 + 250 * k).astype(np.float64)
        agg = sum(cols.values()) + rng.integers(50, 80, rows)
        for name in REFIT_APPLIANCES:
            cols[name][rng.random(rows) < 0.002] = np.nan
        frame = pd.DataFrame(
            {
                "Time": pd.to_datetime(unix, unit="s").strftime("%Y-%m-%d %H:%M:%S"),
                "Unix": unix,
                "Aggregate": agg.astype(np.int64),
                **{n: pd.array(c.round(), dtype="Int64") for n, c in cols.items()},
                "Issues": (rng.random(rows) < 0.01).astype(np.int64),
            }
        )
        frame.to_csv(os.path.join(root, f"CLEAN_House{h}.csv"), index=False)


def write_ukdale(root: str, seed: int, houses: int, channels: int, rows: int) -> None:
    """``house_N/channel_M.dat`` (``timestamp power``, space separated, no
    header). channel_1 is the mains. Each house also gets a
    ``channel_2_button_press.dat`` decoy with well-formed rows that the
    reader must skip, and channel 2 carries malformed rows (non-numeric
    fields, a missing field) that the reader must drop."""
    rng = rng_for(seed, "ukdale")
    for h in range(1, houses + 1):
        d = os.path.join(root, f"house_{h}")
        os.makedirs(d, exist_ok=True)
        ts0 = UKDALE_T0 + h * 7200
        apps = []
        for c in range(2, channels + 1):
            ts = ts0 + np.cumsum(rng.integers(5, 8, rows))
            p = _appliance_power(rng, rows, 60 + 180 * c)
            apps.append((c, ts, p))
        mains_ts = ts0 + 6 * np.arange(1, rows + 1)
        mains = rng.integers(150, 3000, rows)
        for c, ts, p in [(1, mains_ts, mains), *apps]:
            lines = [f"{t} {v}" for t, v in zip(ts.tolist(), p.tolist())]
            if c == 2:
                for pos, bad in zip(rng.integers(0, rows, 3).tolist(), ["bad row", "17 x", "9"]):
                    lines.insert(pos, bad)
            with open(os.path.join(d, f"channel_{c}.dat"), "w") as f:
                f.write("\n".join(lines) + "\n")
        press = ts0 + np.arange(1, 51) * 60
        with open(os.path.join(d, "channel_2_button_press.dat"), "w") as f:
            f.write("".join(f"{t} 1\n" for t in press.tolist()))


def write_mqtt(root: str, seed: int, days: int, lines_per_day: int) -> None:
    """``mqtt.log.YYYYMMDD`` Shelly JSON lines. About 1% of lines are each
    of: not JSON, a non-dict payload, a payload without ``apower``; about
    1% repeat a (ts, device) pair with another power value."""
    os.makedirs(root, exist_ok=True)
    rng = rng_for(seed, "mqtt")
    for day in range(days):
        t0 = MQTT_T0 + day * 86_400
        stamp = pd.Timestamp(t0, unit="s").strftime("%Y%m%d")
        ts = t0 + np.cumsum(rng.integers(1, 4, lines_per_day)) + rng.integers(1, 999, lines_per_day) / 1000
        dev = rng.integers(0, len(MQTT_DEVICES), lines_per_day)
        watts = np.round(rng.uniform(0.5, 2200.0, lines_per_day), 1)
        kind = rng.random(lines_per_day)
        out = []
        for i in range(lines_per_day):
            d = MQTT_DEVICES[dev[i]]
            rec = {
                "ts": round(float(ts[i]), 3),
                "payload": {"dst": f"{d}/events", "params": {"switch:0": {"apower": float(watts[i])}}},
            }
            k = kind[i]
            if k < 0.01:
                out.append('{"ts": ' + str(rec["ts"]) + ', "payload": {broken')
                continue
            if k < 0.02:
                rec["payload"] = "offline"
            elif k < 0.03:
                rec["payload"]["params"] = {"switch:0": {"voltage": 231.4}}
            out.append(json.dumps(rec))
            if 0.03 <= k < 0.04:
                rec["payload"]["params"]["switch:0"]["apower"] = float(watts[i]) + 1.5
                out.append(json.dumps(rec))
        with open(os.path.join(root, f"mqtt.log.{stamp}"), "w") as f:
            f.write("\n".join(out) + "\n")


def documents_frame(seed: int, n_docs: int) -> pd.DataFrame:
    """``documents`` (doc_id, text): 10-100 words each, from the Zipf
    vocabulary."""
    rng = rng_for(seed, "documents")
    vocab = np.array([f"w{i}" for i in range(DOC_VOCAB)])
    p = 1.0 / np.arange(1, DOC_VOCAB + 1)
    p /= p.sum()
    texts = [" ".join(vocab[rng.choice(DOC_VOCAB, int(rng.integers(10, 101)), p=p)]) for _ in range(n_docs)]
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})


def embeddings_frame(seed: int, n: int, dim: int, clusters: int) -> pd.DataFrame:
    """Testdata-shaped ``embeddings`` (vec_id, embedding float[dim], label):
    a Gaussian mixture so IVF lists are uneven but non-empty."""
    rng = rng_for(seed, "embeddings")
    centers = rng.normal(0, 1, (clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = (centers[label] + rng.normal(0, 0.6, (n, dim))).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": label.astype(np.int32),
        }
    )


def write_parquet(frame: pd.DataFrame, path: str) -> None:
    frame.to_parquet(path, index=False, compression="snappy")


def tree_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``, ignoring Spark's hidden markers."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
