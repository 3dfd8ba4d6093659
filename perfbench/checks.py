"""Output checks: value digests against DuckDB oracles.

A result and its oracle are normalized the same way (columns sorted by
name, floats rounded to 6 decimals, integers widened, timestamps made
naive microseconds, rows sorted) and hashed; a check passes when the
two digests are equal. Oracles run once at set-up, outside every timed
region.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib

import duckdb
import numpy as np
import pandas as pd


def _cell(v) -> str:
    """Canonical text of one value of an object column."""
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "None"
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        r = round(float(v), 6)
        return repr(0.0 if r == 0 else r)
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (dt.date, pd.Timestamp)):
        return str(pd.Timestamp(v).tz_localize(None).value // 1000 if pd.Timestamp(v).tzinfo else pd.Timestamp(v).value // 1000)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


_NULL = np.iinfo(np.int64).min


def _canon(s: pd.Series) -> np.ndarray:
    """Canonical values of a column, equal on both engines: floats as
    integer micro-units (rounded to 6 decimals), integers and booleans
    as int64, timestamps and dates as epoch microseconds, strings as
    themselves, anything else as canonical text; nulls as one marker."""
    if s.dtype == object:
        vals = s.dropna()
        if len(vals) and all(isinstance(v, (dt.date, pd.Timestamp)) for v in vals):
            s = pd.to_datetime(s)
        elif len(vals) and all(isinstance(v, decimal.Decimal) for v in vals):
            s = s.astype("float64")
        elif all(isinstance(v, str) for v in vals):
            return s.where(s.notna(), "\x00None").to_numpy(dtype=object)
        else:
            return s.map(_cell).to_numpy(dtype=object)
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
        return s.astype("int64").to_numpy()
    if pd.api.types.is_float_dtype(s):
        x = s.to_numpy(dtype="float64")
        if np.nanmax(np.abs(x), initial=0.0) < 9e12:
            q = np.round(np.round(x, 6) * 1e6)
            return np.where(np.isnan(x), _NULL, np.nan_to_num(q)).astype("int64")
        return s.map(_cell).to_numpy(dtype=object)
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_localize(None)
        us = s.astype("datetime64[us]").to_numpy().astype("int64")
        return np.where(s.isna().to_numpy(), _NULL, us)
    return s.map(_cell).to_numpy(dtype=object)


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive value digest of a result frame: columns sorted
    by name, each canonicalized, rows hashed and the hashes sorted."""
    cols = sorted(pdf.columns)
    canon = pd.DataFrame({c: _canon(pdf[c]) for c in cols}, columns=cols)
    rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy()) if cols else np.zeros(0, np.uint64)
    h = hashlib.sha256("\x1f".join(cols).encode())
    h.update(rows.tobytes())
    return f"{len(pdf)}:{h.hexdigest()[:24]}"


def ids_digest(ids) -> str:
    """Digest of a one-column ``doc_id`` result holding exactly ``ids``."""
    return digest(pd.DataFrame({"doc_id": sorted(ids)}))


def duck(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name -> parquet glob``."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name, path in tables.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}', hive_partitioning=true)"
        )
    return con


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    return digest(con.execute(sql).df())


def fetch_trades_sql(params: dict, source: str) -> str:
    """DuckDB form of ``api.fetch_trades``: newest first, ties on
    trade id, with the same date-only end expansion."""
    where = []
    for col in ("underlying", "option_type"):
        if col in params:
            where.append(f"{col} = '{params[col]}'")
    if "strike" in params:
        where.append(f"strike = {float(params['strike'])}")
    if "start" in params:
        where.append(f"\"timestamp\" >= TIMESTAMP '{params['start']}'")
    if "end" in params:
        where.append(f"\"timestamp\" < TIMESTAMP '{params['end']}' + INTERVAL 1 DAY")
    sql = f"SELECT * FROM ({source}) WHERE {' AND '.join(where) or 'true'} ORDER BY \"timestamp\" DESC, trade_id DESC"
    if "limit" in params:
        sql += f" LIMIT {int(params['limit'])}"
    return sql


class Checker:
    """Counts attempted and failed operations; a failure is a raised
    exception or a digest that differs from the expected one."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")

    def expect(self, name: str, got: str, want: str) -> None:
        self.record(name, got == want, f"digest {got} != {want}")
