"""Self-tests for the benchmark's pure parts (no Spark).

Run from the root of a checkout: ``python3 -m pytest perfbench/test_perfbench.py -q``.
"""

from __future__ import annotations

import csv
import json
import os

import pytest

from perfbench import analysis as A
from perfbench.gen import APP1_PATTERN, Generator, app1_reference, app2_reference


def test_generator_is_deterministic_per_seed():
    a = Generator(7)
    b = Generator(7)
    first = a.lines(300)
    assert first == b.lines(300)
    # successive calls continue one sequence, identically for both
    assert a.lines(50) == b.lines(50)
    assert Generator(8).lines(300) != first


def test_generator_lines_have_the_fixture_layout():
    lines = Generator(3).lines(2000)
    rows = list(csv.reader(lines))
    assert {len(r) for r in rows} == {20}
    # col 2 is a unique record number; col 4 carries quoted quotes
    assert [r[2] for r in rows] == [str(i) for i in range(2000)]
    assert any('"' in r[4] for r in rows)
    assert any("," in r[4] for r in rows)
    share = sum(APP1_PATTERN in ln for ln in lines) / len(lines)
    assert 0.3 < share < 0.7
    assert sum(r[6] == "F" for r in rows) > 0


def test_reference_counts():
    lines = [
        '0,0,1,Stop,"16"" X 42""", ,F,,cat-a, ,m,o,1,,A,L,s,1,,{x}',
        '0,0,2,Streetname - Post,"30"", 36""", ,F,,cat-b, ,m,o,2,,A,L,s,2,,{x}',
        '0,0,3,Streetname - Post,18 X 18, ,P,,cat-a, ,m,o,3,,A,L,s,3,,{x}',
        '0,0,4,Yield,18 X 18, ,F,,cat-a, ,m,o,4,,A,L,s,4,,{x}',
        '0,0,"5,6","Streetname, Wall",18 X 18, ,W,,cat-c, ,m,o,5,,A,L,s,5,,{x}',
    ]
    assert app2_reference(lines) == {"cat-a": 2, "cat-b": 1}
    assert app1_reference(lines) == {
        "2\tStreetname - Post": 1, "3\tStreetname - Post": 1, "5,6\tStreetname, Wall": 1
    }


def _write_log(path: str, entries: list[tuple[str, int]]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("v1\n")
        for name, bid in entries:
            fh.write(json.dumps({"path": f"file:///w/{name}", "timestamp": 0, "batchId": bid}) + "\n")


def test_batch_to_file_to_latency_mapping(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # a compacted log repeats earlier entries; checksum/temp files are noise
    _write_log(str(log / "0"), [("a.csv", 0), ("b.csv", 0)])
    _write_log(str(log / "1.compact"), [("a.csv", 0), ("b.csv", 0), ("c.csv", 1)])
    _write_log(str(log / "2"), [("d.csv", 2)])
    (log / ".2.crc").write_text("junk")
    fb = A.read_source_log(str(tmp_path))
    assert fb == {"a.csv": 0, "b.csv": 0, "c.csv": 1, "d.csv": 2}

    due = {"a.csv": 10.0, "b.csv": 10.5, "c.csv": 11.0, "d.csv": 11.5}
    publish = {0: 11.0, 1: 12.0, 2: 12.25}
    # two records per file, created 0.25 s apart over a 0.5 s period: the
    # second is created at the due time, the first 0.25 s before it
    rows2 = {n: 2 for n in due}
    lat = A.record_latencies_ms(due, rows2, 0.5, fb, publish)
    assert lat == pytest.approx([1250.0, 1000.0, 750.0, 500.0, 1250.0, 1000.0, 1000.0, 750.0])

    rows = {n: 100 for n in due}
    # at t=11.6 all four are due; only batch 0 (a, b) has published
    assert A.rows_pending_at(11.6, due, rows, fb, publish) == 200
    assert A.rows_pending_at(10.2, due, rows, fb, publish) == 100

    with pytest.raises(ValueError):
        A.record_latencies_ms({"e.csv": 1.0}, {"e.csv": 1}, 0.5, fb, publish)
    with pytest.raises(ValueError):
        A.record_latencies_ms({"d.csv": 1.0}, {"d.csv": 1}, 0.5, fb, {0: 1.0})


def test_missing_log_reads_empty(tmp_path):
    assert A.read_source_log(os.fspath(tmp_path)) == {}


def test_tail_percentile_needs_ten_samples_beyond():
    assert A.samples_beyond(200, 0.95) == 10
    assert A.samples_beyond(199, 0.95) == 9
    values = list(range(1, 201))
    assert A.tail_percentile(values, 0.95) == 190
    assert A.percentile(values, 0.5) == 100
    with pytest.raises(ValueError):
        A.tail_percentile(values[:199], 0.95)


def test_self_time_subtracts_covered_children():
    spans = A.Spans()
    top = spans.add("batch", 0.0, 10.0)
    spans.add("a", 1.0, 4.0, top)
    spans.add("b", 3.0, 6.0, top)  # overlaps a: the union covers 1..6
    spans.add("c", 9.0, 12.0, top)  # runs past its parent: clipped to 9..10
    table = A.self_time_table(spans.spans)
    assert table["batch"]["self_s"] == pytest.approx(4.0)
    assert table["a"]["self_s"] == pytest.approx(3.0)


def test_batch_span_lays_out_duration_phases():
    spans = A.Spans()
    progress = {
        "batchId": 4,
        "durationMs": {"latestOffset": 100, "walCommit": 50, "getBatch": 20,
                       "queryPlanning": 30, "addBatch": 700, "commitOffsets": 40,
                       "triggerExecution": 1000},
    }
    bid = spans.add_batch(progress, 100.0, None)
    kids = [s for s in spans.spans if s.parent == bid]
    assert [k.name for k in kids] == list(A.BATCH_PHASES)
    assert kids[0].start == 100.0
    assert kids[-1].end == pytest.approx(100.94)
    assert A.self_time_table(spans.spans)["micro_batch"]["self_s"] == pytest.approx(0.06)


def test_active_fraction():
    assert A.active_fraction([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(0.4)
