"""bench.py artifact contract: the printed JSON line must survive the
driver's ~2000-char stdout-tail capture (BENCH_r10/r11 outgrew it and
PERF_r11/r12 lost every round-over-round speedup), and the control-triad
gate must distinguish "host busy" from "code got slower" (a regressed
control would otherwise make every future window read noisy forever).
No SparkSession — these pin the serialization and the classifier only.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

# the capture window the driver actually applies (BASELINE.md round-10
# note + VERDICT round-12 item 3: tails are truncated at ~2000 chars)
CAPTURE_WINDOW = 2000


def _compact_line(per_query: dict) -> str:
    """Reproduce bench.main()'s printed-line serialization."""
    compact = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(per_query.values()), 4),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in per_query.items()},
        "sf": "sf0.1",
        "probe_start": 4.443,
        "probe_end": 4.489,
        "host_quiet": True,
        "controls_quiet": {
            "quiet": True,
            "signature": bench.classify_controls(per_query),
        },
    }
    return json.dumps(compact, separators=(",", ":"))


def test_printed_line_fits_capture_window():
    # worst realistic case: every headline query at a 4-digit-seconds
    # value (xx.xxx) — far slower than any observed run
    per_query = {name: 99.999 for name in bench.HEADLINE}
    line = _compact_line(per_query)
    assert len(line) <= CAPTURE_WINDOW - 100, (
        f"printed bench line is {len(line)} bytes; the driver captures "
        f"only the last {CAPTURE_WINDOW} — PERF would lose the head again"
    )
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_sec"
    assert set(parsed["queries"]) == set(bench.HEADLINE)


def test_headline_set_unchanged():
    # the driver compares per-query medians round-over-round; renaming or
    # dropping an entry voids the comparison (optimization-round rule)
    assert len(bench.HEADLINE) == 75
    assert "format_point_lookup" in bench.HEADLINE
    assert "q01" in bench.HEADLINE


def test_classify_quiet():
    assert bench.classify_controls(
        {"q04": 0.51, "q18": 1.05, "graph_pagerank": 0.67}
    ) == "quiet"


def test_classify_noisy_host_uniform_inflation():
    # the observed uniform-steal signature (BENCH_r12 driver window:
    # band-ratios 1.43 / 1.21 / 1.38 — all out, comparable factors)
    assert bench.classify_controls(
        {"q04": 0.93, "q18": 1.57, "graph_pagerank": 1.18}
    ) == "noisy_host"


def test_classify_forced_code_regression():
    # an artificially slowed control (one query 3x its band, the other
    # two clean) must NOT read as host noise — this is the query-shaped
    # signature of a code regression
    assert bench.classify_controls(
        {"q04": 0.51, "q18": 1.05, "graph_pagerank": 2.55}
    ) == "suspect_regression"
    # two clean + one wildly out
    assert bench.classify_controls(
        {"q04": 0.51, "q18": 5.0, "graph_pagerank": 0.67}
    ) == "suspect_regression"
    # all out but wildly uneven (one control 5x, others just past band):
    # not the uniform-steal shape either
    assert bench.classify_controls(
        {"q04": 0.70, "q18": 1.40, "graph_pagerank": 4.30}
    ) == "suspect_regression"


def test_classify_missing_control():
    # a control that failed or was dropped measured nothing, so it cannot
    # vouch for a quiet window — not even when the rest are in band
    assert bench.classify_controls(
        {"q04": 0.51, "q18": 1.05}
    ) == "suspect_regression"
    assert bench.classify_controls(
        {"q04": 0.51, "q18": 1.05, "graph_pagerank": None}
    ) == "suspect_regression"
    assert bench.classify_controls({}) == "suspect_regression"
    assert bench.classify_controls({"q01": 0.3}) == "suspect_regression"
