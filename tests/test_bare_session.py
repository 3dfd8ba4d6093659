"""Harness-portability regression: every registered binding must run on a
SparkSession that did NOT come from our own session factory.

Round-1 postmortem: ``load_table`` assumed
``spark.sql.legacy.parquet.nanosAsLong`` was pre-set by
``core/session.get_spark``; the correctness harness passes a bare
session, so every events-backed query died at the parquet scan
(PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS)). The conf is now set at
runtime inside ``load_table`` itself.

A second ``SparkSession.builder.getOrCreate()`` in one JVM returns the
existing session, so we emulate "bare" the only faithful way available:
unset the session-factory confs our code depends on, run the query, and
restore them. If ``load_table`` ever regresses to relying on factory
pre-configuration, the scan here raises exactly as the harness saw.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

_FACTORY_CONFS = ["spark.sql.legacy.parquet.nanosAsLong"]


@pytest.fixture()
def bare_spark(spark):
    from gapless_deribit_clickhouse_spark.core.tables import _CATALOG

    # a catalog hit would hand back a plan analyzed under the factory
    # confs and skip the bare scan this file guards
    _CATALOG.clear()
    saved: dict[str, str | None] = {}
    for key in _FACTORY_CONFS:
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
        spark.conf.unset(key)
    yield spark
    for key, val in saved.items():
        if val is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, val)


def test_events_query_runs_on_bare_session(bare_spark):
    import __spark_entry__ as entry

    queries = entry.queries()
    fn = queries["scan_topn"]
    rows = fn(bare_spark, SF_DIR).collect()
    assert len(rows) > 0


def test_entry_runs_on_bare_session(bare_spark):
    import __spark_entry__ as entry

    df = entry.entry(bare_spark)
    assert df.count() >= 0


def test_catalog_hit_still_forces_utc(spark):
    """A plan-catalog hit must re-apply the UTC session timezone: a
    session switched to another zone after its first load would
    otherwise extract hours/dates off the UTC oracle."""
    from gapless_deribit_clickhouse_spark.core.tables import load_table

    load_table(spark, SF_DIR, "events")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    load_table(spark, SF_DIR, "events")
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_catalog_is_per_session(spark):
    """A ``newSession()`` sibling shares the application but not the
    session: a catalog hit must never return a DataFrame bound to
    another session."""
    from gapless_deribit_clickhouse_spark.core.tables import load_table

    sibling = spark.newSession()
    assert load_table(spark, SF_DIR, "events").sparkSession is spark
    df = load_table(sibling, SF_DIR, "events")
    assert df.sparkSession is sibling
    assert load_table(sibling, SF_DIR, "events") is df
    assert sibling.conf.get("spark.sql.session.timeZone") == "UTC"
    assert df.count() > 0
