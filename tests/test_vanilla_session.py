"""Queries must be correct under a session the repo did NOT build.

CORRECTNESS_r03's one red row (`python_datasource_scan`,
DATA_SOURCE_PUSHDOWN_DISABLED) happened because
`spark.sql.python.filterPushdown.enabled` lived only in the repo's
own session builder while the driver gate owns its own SparkSession.
These tests simulate the driver: a `newSession()` whose runtime SQL
confs are adversarially reset to Spark's stock defaults, queries
invoked only through the `__spark_entry__._conf_pinned` wrapper.
A query that silently depends on any builder-only SQL conf fails
here before the driver ever sees it.
"""

from __future__ import annotations

import pytest

from convert_parquet_to_csv_spark.session import (
    _DEFAULT_CONF,
    RUNTIME_PINNED_CONF,
)

# Spark's out-of-the-box values for every conf the engine pins —
# i.e. what the driver's stock session would report.
_STOCK = {
    "spark.sql.session.timeZone": "America/New_York",  # any non-UTC
    "spark.sql.python.filterPushdown.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


@pytest.fixture()
def stock_session(spark):
    """A session with every repo-pinned SQL conf forced to stock."""
    s = spark.newSession()
    for k, v in _STOCK.items():
        s.conf.set(k, v)
    yield s
    # isolated session state dies with the object; nothing to undo


def _entry_queries():
    import __spark_entry__ as e

    return e.queries()


def test_wrapper_pins_every_runtime_conf(stock_session, sf_small):
    qs = _entry_queries()
    # cheap query, any will do — the wrapper is uniform
    qs["quantity_array_agg"](stock_session, sf_small).collect()
    for k, v in RUNTIME_PINNED_CONF.items():
        assert stock_session.conf.get(k) == v, k


def test_python_datasource_scan_stock_confs(spark, sf_small):
    """The exact r3 red row: must plan + return 100 rows under a
    session where filterPushdown starts disabled.

    Runs against the BASE session (confs adversarially reset), not a
    ``newSession``: Spark 4.1's Python-data-source registry is
    shared for the exists-check but per-session for lookup, so a
    sibling session can never load a source its twin registered
    (documented in ``pysource.register_once``). The driver gate is
    single-session, which this base-session reset simulates
    faithfully."""
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        qs = _entry_queries()
        rows = qs["python_datasource_scan"](spark, sf_small).collect()
        assert len(rows) == 100
        ids = sorted(r.id for r in rows)
        assert ids[0] == 50 and ids[-1] == 149
        # the wrapper must have re-pinned it
        assert (
            spark.conf.get("spark.sql.python.filterPushdown.enabled")
            == "true"
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_timestamp_query_stock_session(stock_session, sf_small):
    """UTC pinning must come from the wrapper, not the builder: a
    timestamp-rendering query under a non-UTC stock session."""
    qs = _entry_queries()
    df = qs["events_daily_gapfill"](stock_session, sf_small)
    assert df.count() > 0
    assert (
        stock_session.conf.get("spark.sql.session.timeZone") == "UTC"
    )


def test_entry_smoke_stock_session(stock_session):
    """entry() itself (driver smoke check) under a stock session."""
    import __spark_entry__ as e

    df = e.entry(stock_session)
    assert df.count() > 0


def test_session_defaults_include_every_pinned_conf():
    """get_spark() builds with every pinned conf at its pinned value,
    so a repo-built session and a pinned stock session agree."""
    for k, v in RUNTIME_PINNED_CONF.items():
        assert _DEFAULT_CONF.get(k) == v, k
