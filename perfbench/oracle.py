"""Result checking: DuckDB oracles in process, and comparison.

The benchmark checks every result after its timed loop has ended and its
RSS sampling has stopped, so DuckDB never runs beside a timed statement
and its memory never counts toward the benchmark's RSS. Answers are kept
per query text for the run.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc


class Oracle:
    """DuckDB answering SQL over registered parquet views."""

    def __init__(self, threads: int, views: dict[str, str]):
        import duckdb

        self.db = duckdb.connect()
        self.db.execute(f"SET threads = {threads}")
        for name, path in views.items():
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            self.db.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
        self._cache: dict[str, pa.Table] = {}

    def query(self, sql: str) -> pa.Table:
        """The result of ``sql``, kept for the rest of the run."""
        if sql not in self._cache:
            self._cache[sql] = self.db.execute(sql).fetch_arrow_table()
        return self._cache[sql]

    def close(self) -> None:
        self.db.close()


def _canon(col: pa.ChunkedArray) -> pa.Array:
    """One Arrow type per kind of value, whichever engine produced it."""
    t = col.type
    if pa.types.is_decimal(t):
        col = col.cast(pa.int64() if t.scale == 0 else pa.float64())
    elif pa.types.is_integer(t):
        col = col.cast(pa.int64())
    elif pa.types.is_floating(t):
        col = col.cast(pa.float64())
    elif pa.types.is_timestamp(t):
        col = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    elif pa.types.is_large_string(t):
        col = col.cast(pa.string())
    return col.combine_chunks()


def _canon_table(tb: pa.Table) -> pa.Table:
    return pa.table([_canon(c) for c in tb.columns], names=[f"c{i}" for i in range(tb.num_columns)])


def same_result(got: pa.Table, want: pa.Table, ordered: bool) -> str | None:
    """None if ``got`` matches ``want``, else a one-line reason. Floats
    match to a relative 1e-6 (sums of doubles depend on summation order);
    everything else matches exactly. Unordered results are sorted first."""
    gn = [n.lower() for n in got.column_names]
    wn = [n.lower() for n in want.column_names]
    if gn != wn:
        return f"columns {gn} != {wn}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows != {want.num_rows}"
    g, w = _canon_table(got), _canon_table(want)
    for i in range(g.num_columns):
        a, b = g.column(i).type, w.column(i).type
        if a != b and pa.types.is_floating(a) | pa.types.is_floating(b):
            g = g.set_column(i, g.column_names[i], g.column(i).cast(pa.float64()))
            w = w.set_column(i, w.column_names[i], w.column(i).cast(pa.float64()))
        elif a != b:
            return f"column {gn[i]}: {a} != {b}"
    if not ordered:
        keys = [(n, "ascending") for n in g.column_names]
        g, w = g.sort_by(keys), w.sort_by(keys)
    for i in range(g.num_columns):
        a, b = g.column(i), w.column(i)
        if pa.types.is_floating(a.type):
            close = pc.less_equal(pc.abs(pc.subtract(a, b)),
                                  pc.add(pc.multiply(pc.max_element_wise(pc.abs(a), pc.abs(b)), 1e-6),
                                         1e-9))
        else:
            close = pc.equal(a, b)
        both_null = pc.and_(pc.is_null(a), pc.is_null(b))
        ok = pc.or_kleene(pc.fill_null(close, False), both_null)
        bad = pc.invert(ok)
        if pc.any(bad).as_py():
            row = pc.index(bad, True).as_py()
            return f"row {row} column {gn[i]}: {a[row].as_py()!r} != {b[row].as_py()!r}"
    return None

