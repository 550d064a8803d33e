#!/usr/bin/env python3
"""Self-tests of the benchmark itself (no Spark session needed):

1. the same seed gives byte-identical inputs, another seed different ones;
2. every metric run.py can print is named in BENCHMARK.json with its unit;
3. deliberately corrupted outputs are caught by the checks.

    python3 nilmbench/selftest.py      # from the repository root
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
from types import SimpleNamespace

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, names in sorted(os.walk(root)):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(wl, work: str, seed: int) -> str:
    ctx = SimpleNamespace(raw=os.path.join(work, "raw"), seed=seed)
    wl.generate(ctx)
    return ctx.raw


def test_inputs_are_seeded(tmp: str) -> None:
    for name, cls in workloads.WORKLOADS.items():
        a, b, c = (generate(cls(), os.path.join(tmp, f"{name}-{i}"), s) for i, s in enumerate((7, 7, 8)))
        assert tree_digest(a) == tree_digest(b), f"{name}: same seed, different bytes"
        assert tree_digest(a) != tree_digest(c), f"{name}: another seed, same bytes"


def test_metrics_match_benchmark_json() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        "end_to_end": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    assert declared["end_to_end"] == run.END_TO_END, "end_to_end metrics differ from run.py"
    assert declared["per_layer"] == run.PER_LAYER, "per_layer metrics differ from run.py"
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def test_corruption_is_caught(tmp: str) -> None:
    # nilm_etl: answers from the oracle, "program outputs" built from them
    etl = workloads.NilmEtl()
    etl.REFIT = dict(houses=2, rows=400)
    etl.UKDALE = dict(houses=1, channels=3, rows=300)
    etl.MQTT = dict(days=1, lines_per_day=300)
    raw = generate(etl, os.path.join(tmp, "etl"), 3)
    ans = etl.answers(SimpleNamespace(raw=raw))
    sums = ans["sums"]
    agg = pd.DataFrame(
        [(d, h, pd.Timestamp(b, unit="s"), v) for (d, h, b), v in sums.items()],
        columns=["dataset", "house_id", "bucket_ts", "aggregate_computed"],
    )
    assert workloads.check_sums(agg, sums)
    bad = agg.copy()
    bad.loc[0, "aggregate_computed"] += 1.0
    assert not workloads.check_sums(bad, sums), "a wrong bucket sum passed"
    assert not workloads.check_sums(agg.iloc[1:], sums), "a missing bucket passed"

    win = os.path.join(tmp, "windows")
    os.makedirs(win)
    rows = [(h, i, [0.0] * etl.SEQ_LEN, [[0.0] * 3] * etl.SEQ_LEN) for h, n in ans["windows"].items() for i in range(n)]
    frame = pd.DataFrame(rows, columns=["house_id", "window_id", "x", "y"])
    frame.to_parquet(os.path.join(win, "part-0.parquet"))
    assert workloads.window_counts(win, etl.SEQ_LEN) == ans["windows"]
    frame.iloc[:-1].to_parquet(os.path.join(win, "part-0.parquet"))
    assert workloads.window_counts(win, etl.SEQ_LEN) != ans["windows"], "a dropped window passed"

    # interactive set-up: a store that was not written
    want = {"counts": ans["counts"]}
    assert workloads.Interactive().check(want, {"store": os.path.join(tmp, "missing")}) == ["setup.store"]

    # probes: a swapped top-k id and a wrong score
    rng = np.random.default_rng(0)
    docs = [[f"w{j}" for j in rng.integers(0, 20, 30)] for _ in range(50)]
    ranked = oracle.bm25_ranked(docs, np.arange(50), ["w1", "w2"])
    got = [(i, s) for i, s in ranked[:5]]
    assert oracle.topk_ok(got, ranked, 5, 1e-9)
    swapped = [got[0], (ranked[7][0], got[1][1]), *got[2:]]
    assert not oracle.topk_ok(swapped, ranked, 5, 1e-9), "a wrong top-k id passed"
    assert not oracle.topk_ok([(got[0][0], got[0][1] + 0.01), *got[1:]], ranked, 5, 1e-9)

    vecs = rng.normal(0, 1, (80, 8))
    cents = vecs[:4]
    ivf = oracle.ivf_ranked(vecs, np.arange(80), cents, rng.normal(0, 1, 8), -1, 2)
    assert not oracle.topk_ok(ivf[1:6], ivf, 5, 1e-9), "a shifted IVF top-k passed"


def main() -> int:
    with tempfile.TemporaryDirectory(dir=os.getcwd(), prefix=".nilmbench_selftest_") as tmp:
        tests = [
            (test_inputs_are_seeded, (tmp,)),
            (test_metrics_match_benchmark_json, ()),
            (test_corruption_is_caught, (tmp,)),
        ]
        failed = 0
        for fn, a in tests:
            try:
                fn(*a)
                print(f"PASS {fn.__name__}")
            except AssertionError as e:
                failed += 1
                print(f"FAIL {fn.__name__}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
