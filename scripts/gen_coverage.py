#!/usr/bin/env python
"""Generate COVERAGE.md: SURVEY.md §2 inventory → registered query →
check kind. Run after adding queries; the table is derived from the
registry's survey_ref strings so it cannot drift from the code."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nilm_data_framework_spark.plans.registry import all_queries  # noqa: E402

HEADER = """# COVERAGE — SURVEY.md §2 inventory → driver queries

Auto-generated by `scripts/gen_coverage.py` from the query registry
(`nilm_data_framework_spark/plans/registry.py`). Every row of the SURVEY §2
operator inventory maps to at least one registered driver query; "oracle"
means the driver hash-checks Spark vs DuckDB at sf0.01, "rows-only" means
the driver checks rows + schema only (numeric parity pinned by unit tests).

Source-format readers (S1-S6) and sinks (S7-S11) run against raw fixture
files, not the driver's parquet tables — their checks live in
`tests/test_sources.py` (ingest parity, canonical round-trip, bucketed
layout) and are listed at the bottom.

| query | check | SURVEY ref |
|---|---|---|
"""

FOOTER = """
## Source readers / sinks (pytest-verified, not driver queries)

| op | where | test |
|---|---|---|
| S1 REFIT CSV scan | `sources/refit.py` | `test_sources.py::test_refit_reader` |
| S2 UK-DALE .dat scan | `sources/ukdale.py` | `test_sources.py::test_ukdale_*` |
| S3 HDF5 read | `sources/ola_h5.py` + `scripts/convert_h5.py` (one-time HDF5→Parquet conversion — Spark has no HDF5 source; OlaLoader.py:40-68 semantics), then S8 | `test_sources.py::test_ola_h5_transform` |
| S4 MQTT JSON parse | `sources/mqtt_json.py` | `test_sources.py::test_mqtt_reader` |
| S5 metadata JSON → channels dim | `sources/metadata_json.py` | `test_sources.py::test_metadata_json_reader` |
| S6 YAML metadata build | `sources/ukdale_metadata.py` (building{N}.yaml + labels.dat → channels dim; create_ukdale_metadata.py:13-91) | `test_sources.py::test_ukdale_metadata_build` |
| S9 pickle sink | deliberately NOT ported (anti-goal, SURVEY §7) | — |
| S11 pivoted sink | pivot (A4) + Parquet write | `pivot_wide` query + S7 round-trip |
| S7/S8 canonical Parquet sink/source | `sources/canonical.py` | `test_sources.py::test_canonical_roundtrip` |
| S7 bucketed variant | `sources/canonical.py::write_readings_bucketed` | `test_bucketing_skew.py` |
| S10 tensor sink shape | `operators/tensorize.py` (array-column rows) | `tensor_export` query + `test_tensorize.py` |
| §2.9 streaming ingest/session/stateful | `streaming/` | `test_streaming_multimodal.py`, `test_stateful_reflect.py` |

## Ubiquitous primitives (inside many queries rather than one)

| op | where it appears |
|---|---|
| P1/P2 drop/project/rename | every query's final `select(...alias...)` |
| P9 file-name predicates | `input_file_name()` filters in `sources/refit.py` / `sources/ukdale.py` |
| P11 null fill | `pivot_wide` (`na.fill(0)`), `metadata_enrichment` (`coalesce` defaults) |
| U4 append frames | `unionByName` in `resample_guarded`, `asof_join`, dedup unions |
| F2-F5 contains/affix/parse/split | `string_cleaning`, `keyword_label_map`, source readers |
| F6/F7 epoch↔timestamp | `timestamp_seconds`/`unix_timestamp`/`unix_micros` across the A/W queries |
| F11-F13 math/conditional/null | arithmetic + `when/otherwise` + `isNull` across all queries |

## Kernel-parity and property tests

- W4 windows vs NumPy `sliding_window_view`: `test_kernels.py`
- W5 trailing-segment semantics vs reference: `test_kernels.py`
- W6 interior rows vs the centered (scipy reflect-padded) median: `test_kernels.py`,
  `test_stateful_reflect.py`
- J3 label precedence vs reference tiers: `test_kernels.py`
- Properties: resample-mean conservation, dedup idempotence, window-count
  formula: `test_resample_joins.py`, `test_dedup_kernels.py`,
  `test_kernels.py`
"""


def main() -> None:
    specs = all_queries()
    lines = []
    for name, spec in sorted(specs.items()):
        kind = "oracle" if spec.oracle else "rows-only"
        lines.append(f"| `{name}` | {kind} | {spec.survey_ref} |")
    n_oracle = sum(1 for s in specs.values() if s.oracle)
    body = "\n".join(lines)
    summary = (
        f"\n**{len(specs)} queries: {n_oracle} oracle-checked, "
        f"{len(specs) - n_oracle} rows-only.**\n"
    )
    with open("COVERAGE.md", "w") as f:
        f.write(HEADER + body + "\n" + summary + FOOTER)
    print(f"COVERAGE.md: {len(specs)} queries ({n_oracle} oracle)")


if __name__ == "__main__":
    main()
