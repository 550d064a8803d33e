"""Registry iteration-order contract.

The round driver records CORRECTNESS rows for only the FIRST 50 registry
entries; all_queries() therefore front-loads driver-unrecorded queries. The
recorded set is GENERATED from the CORRECTNESS_r*.json artifacts by
scripts/gen_driver_recorded.py (judge r5 item 8: hand-maintaining it was the
likeliest source of a displaced re-attestation window). These tests pin

  1. the generated file is in sync with the artifacts + the live registry,
  2. the driver's 50-row window contains only unattested queries,
  3. the unrecorded/recorded blocks never interleave,
  4. the order is the explicit (recorded, not REATTEST, name) key, so no
     import history can move the window,

so adding a query module or regenerating after a new round cannot silently
push a never-attested query out of the driver's sample.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

from nilm_data_framework_spark.plans.driver_recorded import DRIVER_RECORDED
from nilm_data_framework_spark.plans.registry import _DRIVER_RECORDED, all_queries

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _gen_module():
    spec = importlib.util.spec_from_file_location(
        "gen_driver_recorded", os.path.join(_REPO, "scripts", "gen_driver_recorded.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_generated_file_in_sync_with_artifacts():
    """driver_recorded.py must match what gen_driver_recorded.py derives from
    the CORRECTNESS artifacts + the live registry. Fails right after a new
    CORRECTNESS_r{N}.json lands (or a query gains/loses its oracle) until
    `python scripts/gen_driver_recorded.py` is re-run."""
    computed = set(_gen_module().compute_recorded())
    assert computed == set(DRIVER_RECORDED), (
        f"stale plans/driver_recorded.py — rerun scripts/gen_driver_recorded.py "
        f"(missing: {sorted(computed - set(DRIVER_RECORDED))[:5]}, "
        f"extra: {sorted(set(DRIVER_RECORDED) - computed)[:5]})"
    )


def test_registry_uses_generated_set():
    assert _DRIVER_RECORDED is DRIVER_RECORDED


def test_driver_window_is_all_unrecorded():
    names = list(all_queries())
    unrecorded = [n for n in names if n not in DRIVER_RECORDED]
    window = names[: min(50, len(names))]
    # while a backlog exists, every window slot must go to an unattested query
    expected_unrecorded_in_window = min(50, len(unrecorded))
    got = [n for n in window if n not in DRIVER_RECORDED]
    assert len(got) == expected_unrecorded_in_window, (
        f"driver window wastes slots on already-attested queries: "
        f"{[n for n in window if n in DRIVER_RECORDED][:5]}"
    )


def test_oracle_gained_queries_reattest():
    """A query whose rows-only attestation predates its oracle (tensor_export
    gained a DuckDB oracle in r6) must be back in the window for a
    hash-checked row — until the driver records that hash PASS, at which
    point the generated set absorbs it and this check self-retires."""
    if "tensor_export" in DRIVER_RECORDED:
        return  # hash-attested in a later round; nothing to re-front-load
    names = list(all_queries())
    assert "tensor_export" in set(names[:50])


def test_unrecorded_sort_before_recorded():
    names = list(all_queries())
    flags = [n in DRIVER_RECORDED for n in names]
    # once the recorded block starts, it never reverts to unrecorded
    first_recorded = flags.index(True)
    assert all(flags[first_recorded:]), "recorded/unrecorded blocks interleaved"


def test_window_is_stable_registration_order():
    """The order is the explicit key — never-recorded first, then REATTEST,
    then the rest, by name within each block — not registration order."""
    from nilm_data_framework_spark.plans.reattest import REATTEST

    names = list(all_queries())
    assert names == sorted(
        names, key=lambda n: (n in DRIVER_RECORDED, n not in REATTEST, n)
    )


def _order_in_fresh_interpreter(pre_import: str | None = None) -> list[str]:
    code = "from nilm_data_framework_spark.plans.registry import all_queries\n"
    if pre_import:
        code = f"import {pre_import}\n" + code
    code += "print('\\n'.join(all_queries()))\n"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_REPO, capture_output=True,
        text=True, check=True,
    )
    return out.stdout.split()


def test_order_ignores_import_history():
    """Importing a query module before all_queries() registers its queries
    first; the driver's window must not depend on that."""
    clean = _order_in_fresh_interpreter()
    for mod in ("similarity", "retrieval"):
        pre = f"nilm_data_framework_spark.queries.{mod}"
        assert _order_in_fresh_interpreter(pre) == clean, pre


def test_reattest_names_front_load_the_window():
    """Round-10 contract (VERDICT r9 items 1b/8): with the never-recorded
    backlog empty, the driver's 50-row window must re-attest the queries
    whose physical execution was rewritten since their last driver record
    (plans/reattest.py). Every REATTEST name must exist, the unrecorded
    backlog plus REATTEST must fit in the 50 rows (an overflow fails and
    names the queries that would wait), and every REATTEST name must sit
    inside the window."""
    from nilm_data_framework_spark.plans.reattest import REATTEST

    names = list(all_queries())
    unknown = REATTEST - set(names)
    assert not unknown, f"REATTEST names not in the registry: {sorted(unknown)}"
    # the front block: never-recorded queries, then REATTEST (a query can
    # be both, so this is the union, not the sum of the two sizes)
    front = [n for n in names if n in REATTEST or n not in DRIVER_RECORDED]
    assert len(front) <= 50, (
        f"{len(front)} never-recorded or REATTEST queries overflow the "
        f"driver's 50-row window; these would wait: {front[50:]}"
    )
    window = set(names[:50])
    missing = REATTEST - window
    assert not missing, (
        f"rewritten queries missing from the driver window: {sorted(missing)}"
    )


def test_slow_parity_rows_stay_attested():
    """Default runs deselect the `slow` oracle-parity rows because the
    round's correctness run attests those queries directly. That reason
    holds only while each one is in REATTEST, or has a hash-matching row
    in a CORRECTNESS file of the round that first ran its current code or
    a later one — so pruning REATTEST early, or rewriting a slow query
    without adding it there, fails here instead of silently dropping its
    attestation."""
    import glob
    import json
    import re

    from nilm_data_framework_spark.plans.reattest import REATTEST
    from tests.test_oracle_parity import _SLOW_PARITY

    passed_in: dict[str, list[int]] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                passed_in.setdefault(name, []).append(rnd)
    stale = {
        name: since
        for name, since in _SLOW_PARITY.items()
        if name not in REATTEST and not any(r >= since for r in passed_in.get(name, []))
    }
    assert not stale, (
        f"slow-marked parity rows with no CORRECTNESS attestation of their "
        f"current code (name -> round of last rewrite): {stale}"
    )
