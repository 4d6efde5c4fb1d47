"""The reference's README SQL workload, run via spark.sql over the shaped
OSM tables and hash-compared against DuckDB executing the SAME statements
over the SAME data — the parity closure for the analysis layer.

Data: the fixture (nodes coverage) plus the round-trip reconstruction of
the reference's shipped ways/ways_tags (22,391 / 108,541 rows — real
scale, real key/type/postcode distributions)."""

from __future__ import annotations

import duckdb
import pytest

from amsterdam_map_data_wrangling_spark.pipeline import (
    COMPAT,
    run_pipeline,
    shape_nodes,
    shape_ways,
)
from amsterdam_map_data_wrangling_spark.plans.osm_workload import (
    OSM_WORKLOAD,
    register_osm_views,
    run_workload,
)
from amsterdam_map_data_wrangling_spark.sources.osm import read_osm

from .oracle import rows_canonical
from .test_pipeline import FIXTURE
from .test_reference_parity import REF_WAYS, TMP_XML

WORKLOAD_NAMES = list(OSM_WORKLOAD)


@pytest.fixture(scope="module")
def shaped(spark):
    """Shaped OSM tables: nodes side from the fixture, ways side from the
    reference round-trip XML."""
    import os

    if not os.path.exists(REF_WAYS):
        pytest.skip("reference CSVs unavailable")
    from .test_reference_parity import build_roundtrip_xml, load_ref_csvs

    ways, tags = load_ref_csvs()
    build_roundtrip_xml(ways, tags, TMP_XML)

    node_tables = shape_nodes(read_osm(spark, FIXTURE, "node"))
    way_tables = shape_ways(read_osm(spark, TMP_XML, "way"), COMPAT)
    # fixture ways supply ways_nodes rows (the round-trip XML has none)
    fixture_ways = shape_ways(read_osm(spark, FIXTURE, "way"), COMPAT)
    way_tables["ways_nodes"] = fixture_ways["ways_nodes"]
    tables = {**node_tables, **way_tables}
    register_osm_views(tables)
    return tables


@pytest.fixture(scope="module")
def con(shaped):
    con = duckdb.connect()
    for name, df in shaped.items():
        pdf = df.toPandas()
        con.register(f"{name}_pdf", pdf)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {name}_pdf")
    return con


@pytest.mark.parametrize("name", WORKLOAD_NAMES)
def test_workload_statement_matches_duckdb(spark, shaped, con, name):
    sdf = run_workload(spark, [name])[name]
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    rel = con.sql(OSM_WORKLOAD[name])
    d_cols, d_rows = list(rel.columns), rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert rows_canonical(s_cols, s_rows) == rows_canonical(d_cols, d_rows)
    if name in ("count_ways", "busiest_postcodes", "top_keys"):
        assert s_rows, f"{name} must be non-empty on reference data"


def test_reference_published_counts(spark, shaped):
    """The numbers the reference publishes for its ways tables
    (Readme.md:164-165; shipped CSVs) must fall out of the same SQL."""
    got = run_workload(spark, ["count_ways"])["count_ways"].first().cnt
    assert got == 22391


def test_workload_on_pipeline_output_matches_duckdb(spark, tmp_path):
    """Every README statement over ``run_pipeline``'s parquet output, via
    ``spark.sql`` and via DuckDB over the same files. Needs only the
    fixture, so it runs on every host. Defined last in this module: it
    re-registers the views the ``shaped`` fixture registered."""
    tables = run_pipeline(spark, FIXTURE, str(tmp_path))
    register_osm_views(tables)
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tmp_path / name}/*.parquet')"
        )
    for name, sdf in run_workload(spark).items():
        s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
        rel = con.sql(OSM_WORKLOAD[name])
        d_cols, d_rows = list(rel.columns), rel.fetchall()
        assert sorted(s_cols) == sorted(d_cols), name
        assert s_rows, f"{name} is empty on the fixture"
        assert rows_canonical(s_cols, s_rows) == rows_canonical(d_cols, d_rows), name
    assert con.sql(OSM_WORKLOAD["count_nodes"]).fetchone() == (9,)
    assert con.sql(OSM_WORKLOAD["count_ways"]).fetchone() == (3,)
