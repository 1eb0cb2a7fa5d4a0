"""In-memory model of a managed table, the reference the engine's write
path is checked against.

It applies the engine's documented semantics row by row in plain Python:
an upsert matches on the primary key and by default lets an incoming
NULL keep the stored value; an update writes NULLs through and never
inserts; a delete removes rows where its ``in`` predicate is TRUE and
keeps rows where the column is NULL, as SQL's three-valued logic does.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Sequence


class TableModel:
    def __init__(self, columns: Sequence[str], key: str, rows: Iterable[dict] = ()):
        self.columns = list(columns)
        self.key = key
        self._rows: dict[Any, dict] = {}
        for r in rows:
            self._rows[r[key]] = {c: r.get(c) for c in self.columns}

    def __len__(self) -> int:
        return len(self._rows)

    def upsert(self, records: Iterable[dict], overwrite_with_null: bool = False) -> None:
        for rec in records:
            k = rec[self.key]
            row = self._rows.get(k)
            if row is None:
                self._rows[k] = {c: rec.get(c) for c in self.columns}
                continue
            for c, v in rec.items():
                if v is not None or overwrite_with_null:
                    row[c] = v

    def update(self, records: Iterable[dict]) -> int:
        matched = 0
        for rec in records:
            row = self._rows.get(rec[self.key])
            if row is None:
                continue
            matched += 1
            row.update(rec)
        return matched

    def delete_in(self, column: str, values: Iterable[Any]) -> int:
        doomed = set(values)
        gone = [k for k, r in self._rows.items() if r[column] is not None and r[column] in doomed]
        for k in gone:
            del self._rows[k]
        return len(gone)

    def rows(self, where: Callable[[dict], bool] | None = None) -> list[tuple]:
        """Rows as tuples in column order, optionally filtered."""
        return [
            tuple(r[c] for c in self.columns)
            for r in self._rows.values()
            if where is None or where(r)
        ]
