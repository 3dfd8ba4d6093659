"""Test-data table registration.

The driver provides TPC-H-ish parquet tables plus ``events`` (an event
stream), ``documents`` (text corpus) and ``embeddings`` (vectors) at
``/root/testdata/sf*/``. Every engine query addresses them as temp
views so the same code runs over any scale factor directory — and, on
a real deployment, over a catalog table instead (swap ``load_tables``
for ``spark.table``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-session plan catalog (optimization r13). ``spark.read.parquet``
# re-reads the footer and re-infers the schema on EVERY call (~70-100
# ms of driver work + one small job); a resident engine resolves a
# table through its catalog once per session instead — the exact
# metadata behavior the reference gets from ClickHouse's table
# catalog. This memoizes the ANALYZED LOGICAL PLAN only: no data, no
# results, nothing persisted — every action still scans the parquet
# input, and a fresh process/session (every bench or oracle
# invocation) starts cold. Keyed on the session object itself — a
# DataFrame is bound to the session that analyzed it, so a
# ``newSession()`` sibling must never receive its parent's plan (the
# cached DataFrame pins its session, so the id cannot be recycled) —
# plus the file's (mtime, size) so a rewritten file can never serve a
# stale plan.
_CATALOG: dict[tuple, DataFrame] = {}


def _catalog_key(spark: SparkSession, path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (
        id(spark),
        os.path.abspath(path),
        st.st_mtime_ns,
        st.st_size,
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, adapting the events timestamp.

    Side effects, applied for the rest of the session: a UTC session
    timezone on every load, catalog hit or miss (date/hour extraction
    in any binding drifts vs the UTC-based oracle if a bare session on a non-UTC machine
    keeps its machine zone — and it must not flip mid-run depending on
    which table loads first), plus ``nanosAsLong`` for events (a
    TIMESTAMP(NANOS) footer is otherwise rejected outright; later
    nanos reads get LongType and must normalize as done here).
    Runtime-settable confs, applied HERE because callers (including
    the correctness harness) may hand us a bare SparkSession."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = _catalog_key(spark, f"{sf_dir}/{name}.parquet")
    if key is not None and key in _CATALOG:
        return _CATALOG[key]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Normalize ts to microsecond TimestampType regardless of how the
        # footer stored it: NANOS arrives as long under nanosAsLong
        # (integer-truncate, bit-identical to DuckDB's ns read); NTZ
        # footers cast losslessly given the UTC session/machine timezone.
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, T.TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if key is not None:
        _CATALOG[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load each parquet table lazily; no action is triggered."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view (idempotent)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
