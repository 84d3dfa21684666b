"""The offset_lines Python Data Source (sources/linesource.py): the
byte-range split contract that makes the reference's line source
(rainstorm/server.go:411-448) scan-parallel, unit-tested without Spark,
then proven through Spark batch (partition-count invariance) and
Structured Streaming (bounded replay + checkpoint recovery)."""

from __future__ import annotations

import pytest
import os

from streamprocessing_spark.sources.linesource import (
    plan_ranges,
    read_lines_in_range,
    register_offset_lines,
)


def _write(tmp_path, lines):
    p = tmp_path / "f.txt"
    p.write_bytes(b"".join(line.encode() + b"\n" for line in lines))
    return str(p)


def _expected(lines):
    out, pos = [], 0
    for line in lines:
        out.append((pos, line))
        pos += len(line.encode()) + 1
    return out


def test_split_contract_every_boundary(tmp_path):
    """Brute force: for EVERY possible split point s of a small file,
    ranges [0,s) + [s,size) must partition the lines exactly — including
    s landing mid-line, on a newline, and on a line's first byte."""
    lines = ["alpha", "b", "", "gamma delta", "x" * 40, "tail"]
    path = _write(tmp_path, lines)
    size = sum(len(l) + 1 for l in lines)
    want = _expected(lines)
    for s in range(0, size + 1):
        got = list(read_lines_in_range(path, 0, s)) + list(
            read_lines_in_range(path, s, size)
        )
        assert got == want, f"split at byte {s} broke the contract"


def test_split_contract_many_ranges(tmp_path):
    lines = [f"line {i} " + "pad" * (i % 7) for i in range(100)]
    path = _write(tmp_path, lines)
    want = _expected(lines)
    for n in (1, 2, 3, 7, 13, 64, 1000):
        got = []
        for s, e in plan_ranges(path, n):
            got.extend(read_lines_in_range(path, s, e))
        assert got == want, f"numPartitions={n}"


def test_empty_file(tmp_path):
    p = tmp_path / "empty.txt"
    p.write_bytes(b"")
    assert plan_ranges(str(p), 4) == [(0, 0)]
    assert list(read_lines_in_range(str(p), 0, 0)) == []


def test_batch_read_partition_invariance(spark, tmp_path):
    """Through Spark: the same file read with 1 and 7 partitions must
    produce identical (offset, line) sets, and the number of tasks must
    actually follow numPartitions (it is a real parallel scan)."""
    lines = [f"doc {i} body {'y' * (i % 11)}" for i in range(250)]
    path = _write(tmp_path, lines)
    register_offset_lines(spark)

    def rd(n):
        return (
            spark.read.format("offset_lines")
            .option("path", path)
            .option("numPartitions", str(n))
            .load()
        )

    a = sorted((r.byte_offset, r.line) for r in rd(1).collect())
    b = sorted((r.byte_offset, r.line) for r in rd(7).collect())
    assert a == b == _expected(lines)
    assert rd(7).rdd.getNumPartitions() == 7


@pytest.mark.slow
def test_streaming_replay_and_recovery(spark, tmp_path):
    """The streaming twin: bounded replay (maxLinesPerBatch) must drain
    the whole file across micro-batches with no gaps or duplicates, and
    a second run over the SAME checkpoint must add nothing (offsets
    committed — the WAL/recovery contract the reference hand-built,
    rainstorm/server.go:186-278, delegated to checkpointing)."""
    lines = [f"row {i}" for i in range(200)]
    path = _write(tmp_path, lines)
    register_offset_lines(spark)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run():
        q = (
            spark.readStream.format("offset_lines")
            .option("path", path)
            .option("maxLinesPerBatch", "37")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return sorted(
            (r.byte_offset, r.line) for r in spark.read.parquet(sink).collect()
        )

    assert run() == _expected(lines)
    # bounded replay really split the file into multiple micro-batches
    import os

    n_batches = len(
        [f for f in os.listdir(f"{ckpt}/offsets") if not f.startswith(".")]
    )
    assert n_batches >= len(lines) // 37, f"only {n_batches} micro-batches"
    # restart on the same checkpoint: offsets committed, nothing replays,
    # no duplicates appear in the sink (exactly-once end to end)
    assert run() == _expected(lines)


def test_keyed_lines_sink_roundtrip(spark, tmp_path):
    """The Python Data Source WRITER (reference sink O10,
    server.go:468-515): rows publish as part files via the two-phase
    temp-write/rename-on-commit protocol; reading the directory back
    recovers exactly the written (key, value) multiset and no temp
    litter survives."""
    from streamprocessing_spark.sources.linesink import register_sink

    register_sink(spark)
    out = str(tmp_path / "sink")
    df = spark.range(100).selectExpr("CAST(id AS STRING) AS k", "CAST(id * 7 AS STRING) AS v")
    df.repartition(4).write.format("keyed_lines").option("path", out).mode("append").save()
    names = sorted(os.listdir(out))
    assert names and all(n.startswith("part-") for n in names)
    got = []
    for n in names:
        with open(os.path.join(out, n), encoding="utf-8") as fh:
            got += [tuple(line.rstrip("\n").split("\t")) for line in fh]
    assert sorted(got) == sorted((str(i), str(i * 7)) for i in range(100))


def test_keyed_lines_sink_exactly_once_under_task_retry(spark, tmp_path):
    """Fault injection (the RainStormWithFail analogue at the sink):
    partition 0's first attempt writes temp litter and dies; Spark
    retries; commit() publishes ONLY files named in delivered commit
    messages — published rows equal the no-failure run exactly, litter
    swept."""
    from streamprocessing_spark.sources.linesink import register_sink

    register_sink(spark)
    out = str(tmp_path / "sink_retry")
    df = spark.range(40).selectExpr("CAST(id AS STRING) AS k", "CAST(id AS STRING) AS v")
    (
        df.repartition(2)
        .write.format("keyed_lines")
        .option("path", out)
        .option("failfirstattempt", "true")
        .mode("append")
        .save()
    )
    rows = []
    for n in sorted(os.listdir(out)):
        assert not n.startswith(".tmp-"), "temp litter survived commit"
        with open(os.path.join(out, n), encoding="utf-8") as fh:
            rows += [line.rstrip("\n").split("\t")[0] for line in fh]
    assert sorted(rows, key=int) == [str(i) for i in range(40)]


def test_keyed_lines_sink_sequential_appends_never_clobber(spark, tmp_path):
    """Reference append contract (dht.go:268-281): a second
    .mode('append').save() into the same directory must PRESERVE the
    first job's published parts — per-job token part names make the two
    jobs' publishes disjoint (the round-6 ADVICE data-loss fix). Both
    runs' rows must survive, with no overwrites and no temp litter."""
    from streamprocessing_spark.sources.linesink import register_sink

    register_sink(spark)
    out = str(tmp_path / "sink_multi")

    def write(lo, hi):
        df = spark.range(lo, hi).selectExpr(
            "CAST(id AS STRING) AS k", "CAST(id AS STRING) AS v"
        )
        df.repartition(3).write.format("keyed_lines").option("path", out).mode(
            "append"
        ).save()

    write(0, 50)
    first_parts = set(os.listdir(out))
    write(50, 120)
    names = sorted(os.listdir(out))
    assert first_parts < set(names), "first job's parts were clobbered"
    assert all(not n.startswith(".tmp-") for n in names)
    rows = []
    for n in names:
        with open(os.path.join(out, n), encoding="utf-8") as fh:
            rows += [line.rstrip("\n").split("\t")[0] for line in fh]
    assert sorted(rows, key=int) == [str(i) for i in range(120)]


def _batch(lo, hi):
    import pyarrow as pa

    keys = pa.array([str(i) for i in range(lo, hi)])
    return pa.RecordBatch.from_arrays([keys, keys], names=["k", "v"])


def _published_keys(out):
    rows = []
    for n in sorted(os.listdir(out)):
        assert n.startswith("part-"), f"unexpected file {n}"
        with open(os.path.join(out, n), encoding="utf-8") as fh:
            rows += [line.rstrip("\n").split("\t")[0] for line in fh]
    return sorted(rows, key=int)


def test_keyed_lines_concurrent_jobs_keep_each_others_temps(tmp_path):
    """Two jobs append to one directory at once: job A commits (or aborts)
    while job B's task has written its temp file but B has not committed.
    A sweeps only its own temps, so B's publish still finds its file.
    Pure Python: the writer's methods are called as Spark would call them."""
    from streamprocessing_spark.sources.linesink import KeyedLinesWriter

    out = str(tmp_path / "shared")
    os.makedirs(out)
    a = KeyedLinesWriter(out, fail_first_attempt=False)
    b = KeyedLinesWriter(out, fail_first_attempt=False)
    msg_a = a.write(iter([_batch(0, 10)]))
    msg_b = b.write(iter([_batch(10, 25)]))
    a.commit([msg_a])
    b.commit([msg_b])
    assert _published_keys(out) == [str(i) for i in range(25)]

    c = KeyedLinesWriter(out, fail_first_attempt=False)
    d = KeyedLinesWriter(out, fail_first_attempt=False)
    msg_c = c.write(iter([_batch(100, 105)]))
    msg_d = d.write(iter([_batch(200, 203)]))
    c.abort([msg_c])
    d.commit([msg_d])
    assert _published_keys(out) == [str(i) for i in range(25)] + ["200", "201", "202"]


def test_register_sink_ships_writer_by_value(tmp_path):
    """register_sink() makes the sink module pickle by value even in a
    job that ran no Python operator: the pickled writer class loads and
    writes in a process that cannot import this package."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from streamprocessing_spark.sources import linesink

    try:
        cloudpickle.unregister_pickle_by_value(linesink)
    except ValueError:  # not registered yet in this process
        pass

    class _Registry:
        def register(self, cls):
            self.cls = cls

    class _Session:
        dataSource = _Registry()

    session = _Session()
    linesink.register_sink(session)
    assert session.dataSource.cls is linesink.KeyedLinesSink
    payload = cloudpickle.dumps(linesink.KeyedLinesWriter)
    out = tmp_path / "shipped"
    out.mkdir()
    script = (
        "import pickle, sys\n"
        "import pyarrow as pa\n"
        "cls = pickle.loads(sys.stdin.buffer.read())\n"
        "w = cls(sys.argv[1], False)\n"
        "col = pa.array(['a', 'b'])\n"
        "w.commit([w.write(iter([pa.RecordBatch.from_arrays([col, col], names=['k', 'v'])]))])\n"
        "assert not any(m.startswith('streamprocessing_spark') for m in sys.modules)\n"
    )
    # -I: no PYTHONPATH, no script dir; cwd outside the checkout
    proc = subprocess.run(
        [sys.executable, "-I", "-c", script, str(out)],
        input=payload,
        capture_output=True,
        cwd=str(tmp_path),
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    [part] = os.listdir(out)
    with open(out / part, encoding="utf-8") as fh:
        assert fh.read() == "a\ta\nb\tb\n"
