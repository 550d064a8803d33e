"""Independent answers for every output the benchmark checks.

DuckDB re-reads the generated raw files itself (the program's readers are
not used), Python's json module parses the MQTT log, and NumPy computes
brute-force BM25 and IVF top-k. Nothing here runs inside a timed section.
"""

from __future__ import annotations

import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

REFIT_COLS = ["Aggregate"] + [f"Appliance{i}" for i in range(1, 10)]
AGGREGATE_CHANNELS = ("Aggregate", "channel_1")


def raw_readings(con: duckdb.DuckDBPyConnection, raw: str, mqtt: bool) -> None:
    """Create table ``oracle_readings(dataset, house_id, channel_id, ts_us,
    power)`` from the raw REFIT CSVs, UK-DALE .dat files and (optionally)
    the MQTT log."""
    refit_types = ", ".join(
        ["'Time': 'VARCHAR'", "'Unix': 'BIGINT'"]
        + [f"'{c}': 'DOUBLE'" for c in REFIT_COLS]
        + ["'Issues': 'INTEGER'"]
    )
    unpivot = ", ".join(REFIT_COLS)
    con.execute(
        f"""
        CREATE OR REPLACE TABLE oracle_readings AS
        WITH refit AS (
          SELECT CAST(regexp_extract(filename, 'CLEAN_House(\\d+)\\.csv', 1) AS INTEGER)
                   AS house_id, * EXCLUDE (filename)
          FROM read_csv('{raw}/refit/CLEAN_House*.csv', header = true,
                        auto_detect = false, columns = {{{refit_types}}}, filename = true)
        ),
        refit_long AS (
          SELECT 'refit' AS dataset, house_id, channel_id, Unix * 1000000 AS ts_us, power
          FROM (UNPIVOT refit ON {unpivot} INTO NAME channel_id VALUE power)
        ),
        uk AS (
          SELECT filename, TRY_CAST(a AS BIGINT) AS t, TRY_CAST(b AS DOUBLE) AS p
          FROM read_csv('{raw}/ukdale/house_*/channel_*.dat', delim = ' ', header = false,
                        auto_detect = false, null_padding = true,
                        columns = {{'a': 'VARCHAR', 'b': 'VARCHAR'}}, filename = true)
          WHERE filename NOT LIKE '%button_press%'
        )
        SELECT * FROM refit_long
        UNION ALL
        SELECT 'ukdale', CAST(regexp_extract(filename, '/house_?(\\d+)/', 1) AS INTEGER),
               'channel_' || regexp_extract(filename, 'channel_(\\d+)', 1), t * 1000000, p
        FROM uk WHERE t IS NOT NULL AND p IS NOT NULL
        """
    )
    if mqtt:
        mq = pd.DataFrame(mqtt_rows(os.path.join(raw, "mqtt")), columns=["channel_id", "ts_us", "power"])
        con.register("mq", mq)
        con.execute("INSERT INTO oracle_readings SELECT 'shelly', 1, channel_id, ts_us, power FROM mq")
        con.unregister("mq")


def mqtt_rows(root: str) -> list[tuple[str, int, float]]:
    """The reference's per-line parse (preprocess_shelly.py): skip lines
    that are not JSON, payloads that are not objects and records without a
    numeric ``apower``."""
    out = []
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name)) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                ts = rec.get("ts") if isinstance(rec, dict) else None
                payload = rec.get("payload") if isinstance(rec, dict) else None
                if not isinstance(ts, (int, float)) or not isinstance(payload, dict):
                    continue
                dst = payload.get("dst")
                sw = (payload.get("params") or {}).get("switch:0")
                power = sw.get("apower") if isinstance(sw, dict) else None
                if not isinstance(dst, str) or not isinstance(power, (int, float)):
                    continue
                device = dst[: -len("/events")] if dst.endswith("/events") else dst
                out.append((device, int(ts * 1_000_000), float(power)))
    return out


def reading_counts(con) -> dict:
    return {
        (d, h, c): n
        for d, h, c, n in con.execute(
            "SELECT dataset, house_id, channel_id, count(*) FROM oracle_readings GROUP BY ALL"
        ).fetchall()
    }


def store_counts(store: str) -> dict:
    return {
        (d, h, c): n
        for d, h, c, n in duckdb.sql(
            f"""SELECT dataset, CAST(house_id AS INTEGER), channel_id, count(*)
                FROM read_parquet('{store}/*/*/*.parquet', hive_partitioning = true)
                GROUP BY ALL"""
        ).fetchall()
    }


def bucket_sums(con, seconds: int, where: str = "TRUE") -> dict:
    """(dataset, house, bucket start in s) -> summed power of the
    non-aggregate channels."""
    agg = ", ".join(f"'{c}'" for c in AGGREGATE_CHANNELS)
    return {
        (d, h, b): v
        for d, h, b, v in con.execute(
            f"""SELECT dataset, house_id, (ts_us // {seconds * 1_000_000}) * {seconds} AS b,
                       sum(power)
                FROM oracle_readings
                WHERE channel_id NOT IN ({agg}) AND {where}
                GROUP BY ALL"""
        ).fetchall()
    }


def channel_means(con, seconds: int, where: str) -> dict:
    """(dataset, house, channel, bucket start in s) -> mean power."""
    return {
        (d, h, c, b): v
        for d, h, c, b, v in con.execute(
            f"""SELECT dataset, house_id, channel_id,
                       (ts_us // {seconds * 1_000_000}) * {seconds}, avg(power)
                FROM oracle_readings WHERE {where} GROUP BY ALL"""
        ).fetchall()
    }


def window_counts(con, aggregate: str, targets: list[str], seq_len: int, step: int) -> dict:
    """Windows per REFIT house: the tensor export truncates every present
    series to the shortest one and keeps complete windows only."""
    chans = ", ".join(f"'{c}'" for c in [aggregate, *targets])
    out = {}
    for h, n in con.execute(
        f"""SELECT house_id, min(n) FROM (
              SELECT house_id, channel_id, count(*) AS n FROM oracle_readings
              WHERE dataset = 'refit' AND channel_id IN ({chans}) GROUP BY ALL)
            GROUP BY house_id"""
    ).fetchall():
        w = (n - seq_len) // step + 1 if n >= seq_len else 0
        if w > 0:
            out[h] = w
    return out


def same_map(got: dict, want: dict) -> bool:
    """Same keys, and every value equal up to float summation order."""
    if got.keys() != want.keys():
        return False
    return all(math.isclose(float(got[k]), float(want[k]), rel_tol=1e-9, abs_tol=1e-9) for k in want)


def bm25_ranked(docs: list[list[str]], ids: np.ndarray, terms: list[str],
                k1: float = 1.2, b: float = 0.75) -> list[tuple[int, float]]:
    """Brute-force Okapi BM25 (Lucene idf) over every document that holds
    a query term, ranked by score desc then id."""
    n = len(docs)
    dl = np.array([len(d) for d in docs], dtype=np.float64)
    avgdl = dl.sum() / n
    tf = np.array([[d.count(t) for t in terms] for d in docs], dtype=np.float64)
    df = (tf > 0).sum(axis=0)
    score = np.zeros(n)
    for j in range(len(terms)):
        idf = math.log(1.0 + (n - df[j] + 0.5) / (df[j] + 0.5))
        score += idf * (tf[:, j] * (k1 + 1.0)) / (tf[:, j] + k1 * ((1.0 - b) + b * (dl / avgdl)))
    hit = tf.sum(axis=1) > 0
    return sorted(zip(ids[hit].tolist(), score[hit].tolist()), key=lambda x: (-x[1], x[0]))


def ivf_ranked(vecs: np.ndarray, ids: np.ndarray, centroids: np.ndarray, q: np.ndarray,
               qid: int, n_probe: int) -> list[tuple[int, float]]:
    """Brute-force IVF: assign every vector to its nearest centroid by
    cosine (ties to the lower index), probe the query's ``n_probe`` nearest
    lists, rank their members by cosine desc then id."""
    def unit(m):
        return m / np.linalg.norm(m, axis=-1, keepdims=True)

    cu = unit(centroids)
    vu = unit(vecs)
    assign = np.argmax(vu @ cu.T, axis=1)
    qcos = cu @ unit(q)
    probed = sorted(range(len(cu)), key=lambda i: (-qcos[i], i))[:n_probe]
    mask = np.isin(assign, probed) & (ids != qid)
    cos = vu[mask] @ unit(q)
    return sorted(zip(ids[mask].tolist(), cos.tolist()), key=lambda x: (-x[1], x[0]))


def topk_ok(got: list[tuple[int, float]], ranked: list[tuple[int, float]], k: int,
            tol: float) -> bool:
    """``got`` is (id, score) in rank order. Scores must match the oracle's
    rank by rank; ids must match except inside a run of scores tied within
    ``tol`` (where float summation order may reorder them)."""
    want = ranked[:k]
    if len(got) != len(want):
        return False
    for i, ((gid, gs), (wid, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > tol:
            return False
        if gid != wid:
            tied = {r[0] for r in ranked if abs(r[1] - ws) <= tol}
            if gid not in tied:
                return False
    return True
