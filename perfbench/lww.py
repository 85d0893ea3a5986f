"""In-memory reference for a sparse no-duplicates array: writes are
last-write-wins per coordinate, a delete removes every cell written
before it that matches its condition, and later writes re-insert."""

from __future__ import annotations

import pandas as pd


class LwwModel:
    def __init__(self, key: str, columns):
        self.key = key
        self.columns = list(columns)
        self._rows = pd.DataFrame({c: [] for c in [key, *self.columns]})
        self._rows = self._rows.set_index(key)

    def write(self, batch: pd.DataFrame) -> None:
        """Apply one fragment; its coordinates must be unique."""
        if batch[self.key].duplicated().any():
            raise ValueError("a fragment must not repeat a coordinate")
        new = batch.set_index(self.key)[self.columns]
        kept = self._rows[~self._rows.index.isin(new.index)]
        self._rows = pd.concat([kept, new]) if len(kept) else new.copy()

    def delete(self, matches) -> int:
        """Remove the cells for which ``matches(frame) -> bool Series``
        holds; return how many were removed."""
        frame = self._rows.reset_index()
        hit = matches(frame).to_numpy(dtype=bool)
        self._rows = frame[~hit].set_index(self.key)
        return int(hit.sum())

    def frame(self) -> pd.DataFrame:
        """The live logical table, sorted by the key."""
        return self._rows.sort_index().reset_index()

    def __len__(self) -> int:
        return len(self._rows)
