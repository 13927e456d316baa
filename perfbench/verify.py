"""Output verification, run after the timed pass.

A query with a DuckDB oracle is compared against it with the repository's
own correctness rule (``tests/oracle_check.compare_frames``: same row
count, same columns, same order-insensitive values at full precision).
A query without a usable oracle is compared against an order-insensitive
digest recorded from the benchmark's inputs (``digests.json``).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb

from gendata import TABLES
from tests.oracle_check import compare_frames

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "digests.json")


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0.0" if v == 0 else repr(v)
    return str(v)


def frame_digest(pdf) -> str:
    """sha256 over the sorted column names and the sorted, normalized rows:
    row order and column order do not change it; any value does."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def load_digests(path: str = DIGESTS) -> dict[str, str]:
    with open(path) as fh:
        return json.load(fh)


class Verifier:
    """Checks one query output at a time; returns a list of problems
    (empty means verified)."""

    def __init__(self, sf_dir: str, oracles: dict[str, str],
                 digests: dict[str, str]) -> None:
        self.oracles = oracles
        self.digests = digests
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def check(self, name: str, pdf) -> list[str]:
        if name in self.digests:
            got = frame_digest(pdf)
            want = self.digests[name]
            return [] if got == want else [f"digest {got} != recorded {want}"]
        if name in self.oracles:
            return compare_frames(pdf, self.con.execute(self.oracles[name]).fetchdf())
        return ["no oracle and no recorded digest"]

    def close(self) -> None:
        self.con.close()
