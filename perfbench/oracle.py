"""Correctness check: an op's Spark output against its DuckDB oracle SQL
over the same input directory, as an order-insensitive multiset of
canonical rows (sorted column names, row count, cell values)."""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb
import pyarrow as pa

from inputs import TABLES


def _canon(v):
    """One cell as a hashable, engine-independent token."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "∅nan" if math.isnan(v) else v.hex()
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return float(v).hex()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _rows(tbl: pa.Table) -> list[tuple]:
    """Canonical rows of an Arrow table, columns in name order, sorted."""
    cols = [list(map(_canon, tbl.column(c).to_pylist())) for c in sorted(tbl.column_names)]
    return sorted(zip(*cols))


def _sorted_plain(tbl: pa.Table) -> pa.Table:
    """Columns in name order with integer, timestamp and string widths
    unified and floats as their bit patterns, rows sorted: two equal
    results give equal tables."""
    names = sorted(tbl.column_names)
    cols = []
    for c in names:
        col = tbl.column(c)
        if pa.types.is_integer(col.type):
            col = col.cast(pa.int64())
        elif pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us"))
        elif pa.types.is_large_string(col.type):
            col = col.cast(pa.string())
        elif pa.types.is_floating(col.type):
            # Bit patterns, so that -0.0 and 0.0 differ as in `_canon`.
            bits = getattr(pa, f"int{col.type.bit_width}")()
            col = pa.chunked_array([ch.view(bits) for ch in col.chunks], type=bits)
        cols.append(col)
    return pa.table(cols, names=names).sort_by([(c, "ascending") for c in names])


def _equal_fast(s: pa.Table, d: pa.Table) -> bool:
    """Vectorised equality. False may be a false alarm (NaN payloads,
    unsortable or differently typed columns); the caller then compares
    cell by cell."""
    try:
        return _sorted_plain(s).equals(_sorted_plain(d))
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
        return False


class Oracle:
    """DuckDB views over one input directory; `mismatch` compares."""

    def __init__(self, input_dir: str):
        self.con = duckdb.connect()
        for name in TABLES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{input_dir}/{name}.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def mismatch(self, df, sql: str) -> str | None:
        """None when `df` matches `sql`, else a one-line reason."""
        s_tbl = df.toArrow()
        d_tbl = self.con.execute(sql).arrow()
        s_cols, d_cols = sorted(s_tbl.column_names), sorted(d_tbl.column_names)
        if s_cols != d_cols:
            return f"columns spark={s_cols} duckdb={d_cols}"
        if s_tbl.num_rows != d_tbl.num_rows:
            return f"row count spark={s_tbl.num_rows} duckdb={d_tbl.num_rows}"
        if _equal_fast(s_tbl, d_tbl):
            return None
        s, d = _rows(s_tbl), _rows(d_tbl)
        if s != d:
            first = next((a, b) for a, b in zip(s, d) if a != b)
            return f"values differ; first (spark, duckdb) = {first}"
        return None
