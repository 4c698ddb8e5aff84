"""The driver tail-captures ~2,000 chars of bench.py stdout and parses
the LAST line as JSON — round 5 lost its entire machine-readable bench
signal when the enriched line outgrew that budget (VERDICT r5 #1).
These tests pin the compact-line contract WITHOUT running Spark: the
final payload must fit with margin even in the worst realizable case.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _worst_case_payload() -> dict:
    # every field at its widest plausible rendering: the 12 longest
    # query names, 4-digit-seconds timings, errors listing EVERY
    # headline query name (the crash-everything scenario)
    longest = sorted(bench.HEADLINE, key=len, reverse=True)[:12]
    return {
        "metric": "headline_queries_total",
        "value": 99999.999,
        "unit": "sec",
        "queries": {n: 9999.999 for n in longest},
        "sf": 100.001,
        "cold_total_sec": 99999.999,
        "ingest_rows_per_sec": 99999999.0,
        "calibration_sec": 99.9999,
        "ivfpq_serve_sec": 9999.999,
        "rollup_serve_sec": 9999.999,
        "nb_serve_sec": 9999.999,
        "dedup_ingest_batch_sec": 9999.999,
        "dedup_trickle_batch_sec": 9999.999,
        "dedup_trickle_state_ratio": 99.99,
        "dedup_incr_fold_sec": 9999.999,
        "substring_ingest_batch_sec": 9999.999,
        "substring_incr_fold_sec": 9999.999,
        "queries_count": len(bench.HEADLINE),
        "detail_file": "BENCH_DETAIL.json",
    }


def test_compact_line_fits_tail_capture():
    line = json.dumps(_worst_case_payload())
    assert len(line) <= bench._LINE_CAP, (
        f"compact bench line is {len(line)} chars — the driver captures "
        "only ~2000; trim the top-N or field set"
    )


def test_compact_line_fits_even_with_full_error_list():
    # the crash-everything scenario: every headline query errors. The
    # real truncation helper must get the line under the cap (dropping
    # `queries`, then bounding `errors` to a prefix + `errors_n`).
    p = _worst_case_payload()
    p["errors"] = sorted(bench.HEADLINE)  # names only, by design
    line = bench.compact_line(p)
    assert len(line) <= bench._LINE_CAP
    out = json.loads(line)
    # totals always survive truncation
    assert out["value"] == p["value"]
    assert out["queries_count"] == p["queries_count"]
    # if the name list was bounded, the total error count is preserved
    if "errors_n" in out:
        assert out["errors_n"] == len(bench.HEADLINE)


def test_compact_line_is_identity_when_small():
    p = {"metric": "headline_queries_total", "value": 1.0, "queries": {}}
    assert bench.compact_line(p) == json.dumps(p)


def test_compact_line_survives_wide_payload_without_errors():
    """A payload whose non-queries fields alone exceed the cap (and
    with NO errors list to trim) must still come back under the cap via
    the core-totals fallback — and must not grow a spurious errors_n."""
    p = _worst_case_payload()
    for i in range(60):  # future wide serve/ab fields
        p[f"some_future_metric_with_a_long_name_{i:02d}"] = 99999.999
    line = bench.compact_line(p)
    assert len(line) <= bench._LINE_CAP
    out = json.loads(line)
    assert out["value"] == p["value"]
    assert "errors_n" not in out


def test_headline_names_resolve_in_registry():
    from data_pipeline_with_big_data_stack_spark.queries import QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"bench names not in registry: {missing}"
