"""Pure result analysis: batch-to-file mapping, latency, percentiles, spans.

Nothing here touches Spark; ``test_perfbench.py`` checks each function on
synthetic inputs.
"""

from __future__ import annotations

import json
import math
import os
import statistics
from dataclasses import dataclass, field


def read_source_log(checkpoint: str, source: int = 0) -> dict[str, int]:
    """File name -> the micro-batch that first read it, from the file
    stream source's metadata log under ``checkpoint``.

    The log holds one file per batch (``<batchId>``) plus periodic
    ``<batchId>.compact`` files that repeat every earlier entry; each
    entry is a JSON line ``{"path": ..., "batchId": ...}`` after a version
    header. Temporary and checksum files are skipped."""
    log_dir = os.path.join(checkpoint, "sources", str(source))
    out: dict[str, int] = {}
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return out
    for name in names:
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        try:
            with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:  # compaction removed it under us
            continue
        for line in lines[1:]:
            if not line.startswith("{"):
                continue
            entry = json.loads(line)
            fname = entry["path"].rsplit("/", 1)[-1]
            bid = int(entry["batchId"])
            if fname not in out or bid < out[fname]:
                out[fname] = bid
    return out


def record_latencies_ms(
    due: dict[str, float],
    rows: dict[str, int],
    period: float,
    file_batch: dict[str, int],
    publish: dict[int, float],
) -> list[float]:
    """Latency of every record in the files of ``due``, in ms: the publish
    time of the batch that read its file minus the record's creation time.
    The generator buffers the records of one file over the ``period``
    before its due time (name -> due time, seconds), creating them evenly,
    so record j of n was created at ``due - period + (j + 1) * period / n``.
    Raises if a file was never read or its batch never published, since
    then the run lost input."""
    out = []
    for name, t_due in due.items():
        if name not in file_batch:
            raise ValueError(f"file {name} was never read by the stream")
        bid = file_batch[name]
        if bid not in publish:
            raise ValueError(f"batch {bid} (file {name}) was never published")
        base = publish[bid] - t_due + period
        n = rows[name]
        out.extend((base - (j + 1) * period / n) * 1000.0 for j in range(n))
    return out


def rows_pending_at(
    t: float,
    due: dict[str, float],
    rows: dict[str, int],
    file_batch: dict[str, int],
    publish: dict[int, float],
) -> int:
    """Rows already due by time ``t`` whose batch had not published by
    then: the backlog the source carried at ``t``."""
    n = 0
    for name, t_due in due.items():
        if t_due > t:
            continue
        bid = file_batch.get(name)
        if bid is None or publish.get(bid, math.inf) > t:
            n += rows[name]
    return n


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 1])."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``-th
    percentile."""
    return n - max(0, math.ceil(q * n) - 1) - 1


def tail_percentile(values: list[float], q: float, min_beyond: int = 10) -> float:
    """The ``q``-th percentile, refused unless at least ``min_beyond``
    samples lie beyond it (a tail read off fewer samples is noise)."""
    if samples_beyond(len(values), q) < min_beyond:
        raise ValueError(
            f"{len(values)} samples leave fewer than {min_beyond} beyond p{q * 100:g}"
        )
    return percentile(values, q)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# Micro-batch phases in the order MicroBatchExecution runs them; each
# progress event reports their durations under ``durationMs``.
BATCH_PHASES = (
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span recorder; ids are list positions."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def add_batch(self, progress: dict, t_start: float, parent: int | None) -> int:
        """One micro-batch span from a progress event, its ``durationMs``
        phases laid end to end from the trigger start as children."""
        d = progress["durationMs"]
        total = d.get("triggerExecution", 0) / 1000.0
        bid = self.add("micro_batch", t_start, t_start + total, parent, batchId=progress["batchId"])
        t = t_start
        for phase in BATCH_PHASES:
            if phase in d:
                self.add(phase, t, t + d[phase] / 1000.0, bid)
                t += d[phase] / 1000.0
        return bid

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_time_table(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: count, total seconds, and self seconds (the span's
    duration minus the part of it its children cover)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    table: dict[str, dict[str, float]] = {}
    for i, s in enumerate(spans):
        dur = max(0.0, s.end - s.start)
        own = dur - _covered(children.get(i, []), s.start, s.end)
        row = table.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += dur
        row["self_s"] += own
    return table


def active_fraction(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Share of [lo, hi] during which at least one interval is active."""
    return _covered(intervals, lo, hi) / (hi - lo) if hi > lo else 0.0
