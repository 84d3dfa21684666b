"""Seeded input generator and plain-Python reference results.

Records are TrafficSigns-shaped CSV lines (FIXTURES.md section 1): 20
columns, headerless, with a quoted size field that embeds quotes and
commas. The columns the reference apps read are

- col 2 (objectid): a unique record number, so App-1's output multiset
  exposes any lost or duplicated record;
- col 3 (sign_type): App-1's substring pattern matches most values;
- col 6 (sign_post): App-2's equality filter value ``F`` or another code;
- col 8 (category): App-2's count key, Zipf-skewed over a key space large
  enough that state-store size matters.

Everything here is pure: the same seed gives the same lines, and nothing
touches Spark.
"""

from __future__ import annotations

import csv
from collections import Counter
import numpy as np

APP1_PATTERN = "Streetname"
APP2_PATTERN = "F"

_SIGN_TYPES = (
    "Streetname - Mast Arm",
    "Streetname - Post",
    "Streetname - Overhead",
    "Streetname - Wall",
    "Stop",
    "Yield",
    "Speed Limit 25",
    "No Parking",
)
_SIZES = ('"16"" X 42"""', '"30"", 36"""', '"24"" X 24"""', "18 X 18")
_POSTS = ("F", "P", "O", "W")
_POST_P = (0.5, 0.2, 0.2, 0.1)
_STREETS = ("Mercury Dr", "Neil St", "", "Green St", "Kirby Ave")
# App-2 counts over KEYS categories drawn with Zipf exponent ZIPF_S
KEYS = 50_000
ZIPF_S = 1.1
_POOL = 4096


class Generator:
    """Deterministic record source. ``lines(n)`` returns the next ``n``
    records; successive calls continue the same seeded sequence, so a run
    that asks for the same sizes in the same order gets the same input."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.next_id = 0
        p = np.arange(1, KEYS + 1, dtype=np.float64) ** -ZIPF_S
        self.key_p = p / p.sum()
        self.keys = [f"cat-{i:05d}" for i in range(KEYS)]
        # Columns no app reads come from small seeded pools, pre-formatted:
        # formatting them per record would dominate the generator's time.
        rng = self.rng
        self.xy = [
            f"{x:.3f},{y:.3f}"
            for x, y in zip(rng.uniform(-9830000.0, -9815000.0, _POOL), rng.uniform(4880000.0, 4895000.0, _POOL))
        ]
        self.guid = [f"{{{g:012X}}}" for g in rng.integers(0, 1 << 48, _POOL).tolist()]
        # sign type, size and post in one field run, indexed sign-major
        self.mid = [f"{sg},{sz}, ,{po}" for sg in _SIGN_TYPES for sz in _SIZES for po in _POSTS]
        self.year = [""] + [str(y) for y in range(1995, 2024)]
        self.tail = [f"{lr},{st}" for lr in "LR" for st in _STREETS]

    def lines(self, n: int) -> list[str]:
        rng = self.rng
        oid = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        xy = rng.integers(0, _POOL, n).tolist()
        mid = (
            (rng.integers(0, len(_SIGN_TYPES), n) * len(_SIZES) + rng.integers(0, len(_SIZES), n)) * len(_POSTS)
            + rng.choice(len(_POSTS), n, p=_POST_P)
        ).tolist()
        # col 7 (year) is blank on every 7th record
        year = np.where(oid % 7 == 0, 0, rng.integers(1, len(self.year), n)).tolist()
        cat = rng.choice(KEYS, n, p=self.key_p).tolist()
        tail = ((oid & 1) * len(_STREETS) + rng.integers(0, len(_STREETS), n)).tolist()
        guid = rng.integers(0, _POOL, n).tolist()
        oids = oid.tolist()
        XY, MID, YEAR, KEY, TAIL, GUID = self.xy, self.mid, self.year, self.keys, self.tail, self.guid
        return [
            f"{XY[a]},{o},{MID[m]},{YEAR[y]},{KEY[c]}, ,W14-2,Champaign,{o % 9973},,AERIAL,{TAIL[t]},{o},,{GUID[g]}"
            for o, a, m, y, c, t, g in zip(oids, xy, mid, year, cat, tail, guid)
        ]


def app2_reference(lines) -> Counter:
    """App-2 on plain Python: count of col 8 over records whose col 6 is
    the pattern. Only lines holding the pattern as a whole field can
    match, so the CSV parse is limited to those."""
    field = f",{APP2_PATTERN},"
    rows = csv.reader(ln for ln in lines if field in ln)
    return Counter(row[8] for row in rows if row[6] == APP2_PATTERN)


def app1_reference(lines) -> Counter:
    """App-1 on plain Python: the multiset of (col 2, col 3) over records
    whose raw line contains the pattern, each as the sink writes it:
    ``col2 TAB col3``. Lines with no quote before col 4 split on commas;
    the rest go through the CSV parser."""
    out = []
    for ln in lines:
        if APP1_PATTERN not in ln:
            continue
        head = ln.split(",", 4)
        if any('"' in f for f in head[:4]):
            head = next(csv.reader([ln]))
        out.append(f"{head[2]}\t{head[3]}")
    return Counter(out)
