"""bench.py's contract line: the last stdout line, which the driver
reads from a 2000-character tail capture, must fit in it whole."""

from __future__ import annotations

import json

import bench


def _line(timings):
    return bench.contract_line(12.345, timings, 0.1, 45.6, [1.0, 2.0, 3.0])


def test_contract_line_carries_the_per_query_map(capsys):
    timings = {name: 0.123456 for name in bench.HEADLINE}
    out = _line(timings)
    assert len(out) < bench.CONTRACT_LINE_LIMIT
    got = json.loads(out)
    assert got["value"] == 12.345 and got["staged_total"] == 45.6
    assert got["queries"] == {name: 0.12 for name in bench.HEADLINE}
    assert capsys.readouterr().err == ""


def test_oversized_map_falls_back_to_compact_line(capsys):
    timings = {f"query_with_a_rather_long_name_{i:03d}": 1.0 for i in range(200)}
    out = _line(timings)
    assert len(out) < bench.CONTRACT_LINE_LIMIT
    got = json.loads(out)
    assert "queries" not in got
    assert got["metric"] == "headline_queries_total_wall"
    assert got["value"] == 12.345 and got["sf"] == 0.1
    assert "per-query map left out" in capsys.readouterr().err
