"""bench.py's printed line stays short enough for a tail capture to
parse; the per-query and 10× tables go to the detail file instead."""

import json

import bench


def test_bench_line_is_short_and_detail_keeps_every_table(tmp_path, monkeypatch):
    detail = tmp_path / "detail.json"
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
    queries = {name: 123.456 for name in bench.HEADLINE}
    out = {
        "metric": "headline query wall time (sf0.1, local[4])",
        "value": 987.654,
        "unit": "sec",
        "queries": queries,
        "secondary_queries": {n: 12.345 for n, _ in bench.SECONDARY},
        "secondary_queries_10x": {n: 12.345 for n, x in bench.SECONDARY if x},
        "sf": 0.1,
        "cpus": 4,
        "docs": 5000,
        "docs_per_sec": 7496.3,
        "kernel_bench_docs": bench.KERNEL_BENCH_DOCS,
        "kernel_docs_per_sec": 12345.6,
        "docs_10x": 50000,
        "value_10x": 1234.567,
        "queries_10x": queries,
        "docs_per_sec_10x": 7496.3,
    }
    line = bench.emit(out)
    assert len(line.encode()) <= 1024
    assert "\n" not in line
    assert json.loads(line) == {k: out[k] for k in bench.SUMMARY_KEYS}
    assert set(bench.SUMMARY_KEYS) == {
        "metric", "value", "unit", "sf", "docs_per_sec", "value_10x",
        "kernel_docs_per_sec", "cpus",
    }
    assert json.loads(detail.read_text()) == out
