"""Reference model of a changelog's snapshot, in plain Python.

The latest element per (key, attribute) wins by (stamp, seq_id) with a
missing seq_id read as 0; a winning delete hides the cell; a wildcard
tombstone hides every instance of its prefix written strictly before it.
These are the rules of ``changelog.snapshot``; the model is built from the
generated inputs only and then follows the benchmark's own writes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from gen import WILDCARD

_PREFIX = WILDCARD[:-1]  # "device."


class Model:
    def __init__(self) -> None:
        # (key, attribute) -> (stamp_us, seq, delete, value)
        self.cells: dict[tuple[str, str], tuple[int, int, bool, bytes | None]] = {}
        # key -> newest wildcard tombstone stamp_us
        self.tombs: dict[str, int] = {}
        # key -> wildcard instances ever written
        self.instances: dict[str, set[str]] = {}

    @classmethod
    def of(cls, table: pa.Table) -> "Model":
        m = cls()
        m.extend(table)
        return m

    def copy(self) -> "Model":
        m = Model()
        m.cells = dict(self.cells)
        m.tombs = dict(self.tombs)
        m.instances = {k: set(v) for k, v in self.instances.items()}
        return m

    def extend(self, table: pa.Table) -> None:
        """Apply a batch of elements (vectorised: sort, keep each cell's last)."""
        df = table.select(
            ["key", "attribute", "seq_id", "delete", "delete_wildcard", "value"]
        ).to_pandas()
        stamp = table.column("stamp").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
        seq = df["seq_id"].fillna(0).astype("int64").to_numpy()
        tomb = df["delete_wildcard"].to_numpy()
        keys = df["key"].to_numpy()
        for k, s in zip(keys[tomb], stamp[tomb]):
            if s > self.tombs.get(k, -1):
                self.tombs[k] = int(s)
        cell, _ = pd.factorize(df["key"] + "\0" + df["attribute"])
        order = np.lexsort((seq, stamp, cell))
        last = order[np.r_[cell[order][1:] != cell[order][:-1], True]]
        attrs = df["attribute"].to_numpy()
        deletes = df["delete"].to_numpy()
        values = df["value"].to_numpy()
        for i in last.tolist():
            self.put(
                keys[i], attrs[i], int(stamp[i]), int(seq[i]),
                bool(deletes[i]) or bool(tomb[i]), values[i],
            )

    def put(self, key: str, attr: str, stamp_us: int, seq: int, delete: bool,
            value: bytes | None) -> None:
        old = self.cells.get((key, attr))
        if old is None or (stamp_us, seq) > (old[0], old[1]):
            self.cells[(key, attr)] = (stamp_us, seq, delete, value)
        if attr.startswith(_PREFIX) and attr != WILDCARD:
            self.instances.setdefault(key, set()).add(attr)

    def write(self, key: str, attr: str, stamp_ms: int, value: bytes | None = None,
              *, delete: bool = False, delete_wildcard: bool = False) -> None:
        """One console/RPC write (no seq_id, so it sorts as seq 0)."""
        stamp_us = stamp_ms * 1000
        if delete_wildcard:
            self.tombs[key] = max(self.tombs.get(key, -1), stamp_us)
        self.put(key, attr, stamp_us, 0, delete or delete_wildcard, value)

    def get(self, key: str, attr: str) -> tuple[bytes, int] | None:
        """Live (value, stamp_ms) of one cell, or None."""
        c = self.cells.get((key, attr))
        if c is None or c[2]:
            return None
        if attr.startswith(_PREFIX) and c[0] < self.tombs.get(key, -1):
            return None
        return (c[3] or b"", c[0] // 1000)

    def list(self, key: str) -> list[tuple[str, bytes, int]]:
        """Live wildcard instances of one key, sorted by attribute."""
        out = []
        for attr in sorted(self.instances.get(key, ())):
            got = self.get(key, attr)
            if got is not None:
                out.append((attr, got[0], got[1]))
        return out

    def live(self) -> set[tuple[str, str, bytes, int]]:
        """Every live cell as (key, attribute, value, stamp_us)."""
        out = set()
        for (k, a), c in self.cells.items():
            if self.get(k, a) is not None:
                out.add((k, a, c[3] or b"", c[0]))
        return out
