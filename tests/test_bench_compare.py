"""Offline bench comparison (tools/bench_compare) on committed records,
without a Spark session."""

from __future__ import annotations

from pathlib import Path

from tools import bench_compare

ROOT = Path(__file__).resolve().parents[1]


def test_load_reads_the_wrapped_capture():
    # BENCH_r{N}.json wraps a captured, tail-truncated bench output;
    # its parsed record is the headline set
    assert len(bench_compare.load(str(ROOT / "BENCH_r14.json"))) == 14


def test_load_keeps_the_richest_json_lines_record():
    # BENCH_full_r{N}.json is bench.py's JSON lines: the headline
    # record, the full-suite record and the headline reprint — load
    # takes the full-suite dict
    got = bench_compare.load(str(ROOT / "BENCH_full_r14.json"))
    assert len(got) == 294
    assert all(isinstance(v, float) for v in got.values())


def test_main_compares_two_full_records(monkeypatch, capsys):
    monkeypatch.setattr(
        "sys.argv",
        [
            "bench_compare.py",
            str(ROOT / "BENCH_full_r14.json"),
            str(ROOT / "BENCH_full_r15.json"),
        ],
    )
    assert bench_compare.main() in (0, 1)
    assert "294 shared queries" in capsys.readouterr().out
