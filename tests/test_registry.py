"""Loader robustness: load_tables must work on ANY session — including one
that (like the driver's verify session) was built without the nanosAsLong
conf — and must fail loudly on a bad table name."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES
from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

from .conftest import SF_ORACLE


def test_events_loads_without_preset_nanos_conf(spark):
    # Simulate the driver's session: conf absent/false before the load.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        dfs = load_tables(spark, SF_ORACLE, ["events"])
        events = dfs["events"]
        assert dict(events.dtypes)["ts"] == "timestamp"
        assert events.count() > 0
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_nanos_conversion_is_exact_vs_duckdb(spark):
    """Integral ns→us division must agree with DuckDB's TIMESTAMP_NS read
    to the microsecond (float division would drift by ±1 us at 1.7e18 ns)."""
    import duckdb
    import os

    (events,) = [load_tables(spark, SF_ORACLE, ["events"])["events"]]
    s_min, s_max = events.agg(F.min("ts"), F.max("ts")).first()
    path = os.path.join(SF_ORACLE, "events.parquet")
    d_min, d_max = duckdb.sql(
        f"SELECT min(ts), max(ts) FROM read_parquet('{path}')"
    ).fetchone()
    assert s_min == d_min and s_max == d_max


def test_missing_table_raises(spark):
    with pytest.raises(FileNotFoundError, match="no_such_table"):
        load_tables(spark, SF_ORACLE, ["no_such_table"])


@pytest.mark.parametrize(
    "name", ["custkeys_except", "anti_join_inactive_customers", "scan_filter_project"]
)
def test_oracle_checked_queries_are_non_vacuous(spark, name):
    """The hash compare proves nothing on an empty result — these three
    returned 0 rows at sf0.01 in round 1; predicates now keep them non-empty."""
    assert QUERIES[name].build(spark, SF_ORACLE).count() > 0


def test_entry_exposes_catalog_in_registration_order():
    """__spark_entry__ is the public entry point: it must expose every
    registered query once, in registration order, and the oracle of each
    query that has one."""
    import __spark_entry__

    names = list(__spark_entry__.queries())
    assert names == list(QUERIES)
    assert len(names) == len(set(names))
    assert set(__spark_entry__.oracle_sql()) == {
        n for n, s in QUERIES.items() if s.oracle
    }
