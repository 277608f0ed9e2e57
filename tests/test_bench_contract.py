"""Pin bench.py's stdout contract against the driver's 2000-char tail
capture (ADVICE r14, both findings):

1. `_compact_line` must return a line <= 1900 chars for ANY per-query
   dict — the earlier bare-contract fallback kept the full queries
   dict and could itself cross the cap, recreating the r13
   parsed=null failure.
2. `_recover_tail_queries` must not admit the compact line's
   non-query float keys (cal_mult, serving p50/p95) as phantom query
   timings when rebuilding a truncated round's basis.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from bench import _compact_line, _recover_tail_queries  # noqa: E402


def _payload(timings: dict[str, float]) -> dict:
    return {
        "metric": "headline_suite_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "common_subset_vs_prev": {
            "prev_round": 14,
            "ratio": 1.013,
            "calibration_mult": 0.997,
            "regressed_30pct": [],
        },
        "serving_concurrent": {
            "serving_p50_concurrent": 0.204,
            "serving_p95_concurrent": 0.411,
        },
    }


def test_compact_line_short_registry_keeps_annotations():
    timings = {f"q{i}": 1.0 + i / 100 for i in range(10)}
    line = _compact_line(_payload(timings), timings)
    doc = json.loads(line)
    assert doc["vs_prev"]["round"] == 14
    assert doc["serving"]["p50"] == 0.204
    assert len(doc["queries"]) == 10
    assert len(line) <= 1900


def test_compact_line_bounded_for_any_query_count():
    # 120 long-named queries: the full dict alone is ~5000 chars —
    # every fallback tier must still land under the cap.
    timings = {
        f"multimodal_extremely_long_query_name_number_{i:03d}": 1.234
        for i in range(120)
    }
    line = _compact_line(_payload(timings), timings)
    assert len(line) <= 1900
    doc = json.loads(line)
    # per-query data may be dropped, but the headline contract holds
    assert doc["metric"] == "headline_suite_sec"
    assert doc["unit"] == "sec"
    assert "queries" in doc
    if not doc["queries"]:
        assert doc["detail"] == "BENCH_DETAIL.json"


def test_compact_line_mid_tier_coarsens_before_dropping():
    # ~55 medium names: tier-1 (drop annotations) or tier-2 (1-decimal
    # rounding) should retain the per-query dict.
    timings = {f"query_medium_name_{i:02d}": 1.2345 for i in range(55)}
    line = _compact_line(_payload(timings), timings)
    assert len(line) <= 1900
    doc = json.loads(line)
    assert len(doc["queries"]) == 55


def test_tail_recovery_excludes_non_query_floats():
    tail = (
        '..."q1_pricing_summary": 1.12, "flagship_search": 0.55}, '
        '"vs_prev": {"round": 13, "ratio": 0.965, "cal_mult": 1.002, '
        '"regressed_30pct": []}, '
        '"serving": {"p50": 0.20, "p95": 0.41}}'
    )
    got = _recover_tail_queries(tail)
    assert got == {"q1_pricing_summary": 1.12, "flagship_search": 0.55}


def test_tail_recovery_excludes_legacy_annotated_keys():
    tail = (
        '"serving_p50_concurrent": 0.2, "calibration_sec": 0.9, '
        '"prev_sec": 50.1, "cur_sec": 52.2, "value": 59.97, '
        '"stream_dedup": 1.31}'
    )
    assert _recover_tail_queries(tail) == {"stream_dedup": 1.31}


def _write_round(d, name: str, cpus: int, secs: float) -> None:
    doc = {"cpus": cpus, "parsed": {"queries": {"q": secs}}}
    (d / name).write_text(json.dumps(doc))


def test_prev_round_basis_keeps_only_same_core_count(tmp_path, monkeypatch):
    """A 32-core history must not become the basis of a 4-core run:
    only rounds whose top-level cpus equals this run's count count."""
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    _write_round(tmp_path, "BENCH_r01.json", 32, 1.0)
    _write_round(tmp_path, "BENCH_r02.json", 4, 8.0)
    _write_round(tmp_path, "BENCH_r02_c8.json", 8, 2.0)
    assert bench._prev_round_timings(4) == (2, {"q": 8.0}, None)
    assert bench._prev_round_timings(8) == (2, {"q": 2.0}, None)
    assert bench._prev_round_timings(32) == (1, {"q": 1.0}, None)


def test_prev_round_basis_none_on_new_core_count(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    _write_round(tmp_path, "BENCH_r01.json", 32, 1.0)
    assert bench._prev_round_timings(4) is None
    line = _compact_line({**_payload({"q": 1.0}), "fresh_baseline_cpus": 4}
                         | {"common_subset_vs_prev": None}, {"q": 1.0})
    assert json.loads(line)["vs_prev"] == {"fresh_baseline_cpus": 4}
