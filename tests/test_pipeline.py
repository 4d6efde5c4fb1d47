"""OSM XML → 5-table shaping pipeline tests against the hand-built fixture
(tests/fixtures/fixture.osm, coverage matrix in FIXTURES.md F1).

Expected values follow the reference semantics
(amsterdam_map_data_wrangling.py:99-174; before/after vectors at
Readme.md:75-82 and :123-127)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark import pipeline
from amsterdam_map_data_wrangling_spark.pipeline import (
    _FIELD_ORDER,
    _TS_FORMAT,
    COMPAT,
    ShapeConfig,
    run_pipeline,
    shape_nodes,
    shape_ways,
)
from amsterdam_map_data_wrangling_spark.sources.osm import read_osm

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "fixture.osm")


@pytest.fixture(scope="module")
def nodes_raw(spark):
    return read_osm(spark, FIXTURE, "node").cache()


@pytest.fixture(scope="module")
def ways_raw(spark):
    return read_osm(spark, FIXTURE, "way").cache()


def test_scan_counts_and_relation_ignored(nodes_raw, ways_raw):
    # 9 nodes, 3 ways; the <relation> element is never parsed (S2).
    assert nodes_raw.count() == 9
    assert ways_raw.count() == 3


def test_node_attribute_projection_typed(nodes_raw):
    nodes = shape_nodes(nodes_raw)["nodes"]
    assert nodes.columns == [
        "id", "lat", "lon", "user", "uid", "version", "changeset", "timestamp",
    ]
    row = nodes.filter(F.col("id") == 1001).first()
    assert row.lat == 52.3756 and row.lon == 4.8836
    assert row.user == "Dutch Mapper" and row.uid == 3781654
    assert str(row.timestamp) == "2016-10-06 10:16:56"
    # XML entities decoded
    assert nodes.filter(F.col("id") == 1002).first().user == "A&B <mapper>"


def _tags_map(df, node_id):
    return {
        (r.type, r.key): r.value for r in df.filter(F.col("id") == node_id).collect()
    }


def test_phone_normalization_all_branches(nodes_raw):
    """Every digit-length branch of the reference's case table (:131-146)."""
    tags = shape_nodes(nodes_raw)["nodes_tags"]
    expected = {
        1001: "+31206255537",   # 11 digits
        1002: "+310206278",     # 7
        1003: "+319008020",     # 8
        1004: "+206255975",     # 9
        1005: "+31206255975",   # 10
        1006: "+31206255975",   # 12 (drop trunk 0)
        1007: "+31900802060",   # 13 (drop 00)
        1008: "",               # no digits → passthrough of stripped value
    }
    got = {
        r.id: r.value
        for r in tags.filter((F.col("key") == "phone") & (F.col("type") == "regular"))
        .collect()
    }
    assert got == expected


def test_postcode_and_key_split(nodes_raw):
    tags = shape_nodes(nodes_raw)["nodes_tags"]
    m1 = _tags_map(tags, 1001)
    assert m1[("addr", "postcode")] == "1016 CJ"
    assert m1[("regular", "name")] == "Coffeeshop Basjoe"
    assert _tags_map(tags, 1002)[("addr", "postcode")] == "1073 BP"
    # bare 'postcode' key (type regular) is cleaned too (post-split match)
    assert _tags_map(tags, 1005)[("regular", "postcode")] == "1071 ZD"
    m3 = _tags_map(tags, 1003)
    # two colons: type = before first, key keeps the rest
    assert ("addr", "street:name") in m3
    # uppercase second segment fails LOWER_COLON → un-split, type regular
    assert m3[("regular", "naam:NL")] == "Koffiehuis"
    # contact:phone is NOT phone-cleaned (raw-key trigger only)
    assert _tags_map(tags, 1006)[("contact", "phone")] == "0206255975"


def test_problem_key_filter_documented_vs_compat(nodes_raw):
    on = shape_nodes(nodes_raw, ShapeConfig())["nodes_tags"]
    off = shape_nodes(nodes_raw, COMPAT)["nodes_tags"]
    assert on.filter(F.col("key") == "a b").count() == 0
    assert off.filter(F.col("key") == "a b").count() == 1


def test_way_shaping_posexplode_contract(ways_raw):
    shaped = shape_ways(ways_raw)
    ways, ways_tags, ways_nodes = (
        shaped["ways"], shaped["ways_tags"], shaped["ways_nodes"],
    )
    assert ways.columns == ["id", "user", "uid", "version", "changeset", "timestamp"]
    assert ways.count() == 3
    # ordered, 0-based, dense positions — repeated refs kept (closed polygon)
    seq = [
        (r.node_id, r.position)
        for r in ways_nodes.filter(F.col("id") == 2001).orderBy("position").collect()
    ]
    assert seq == [(1001, 0), (1002, 1), (1003, 2), (1001, 3)]
    assert ways_nodes.count() == 4 + 2 + 1


def test_way_cleaning_uniform_vs_compat(ways_raw):
    # documented intent: ways cleaned like nodes; compat: raw passthrough
    uniform = shape_ways(ways_raw, ShapeConfig())["ways_tags"]
    compat = shape_ways(ways_raw, COMPAT)["ways_tags"]
    u = _tags_map(uniform, 2001)
    c = _tags_map(compat, 2001)
    assert u[("addr", "postcode")] == "1071 ZD"
    assert c[("addr", "postcode")] == "1071ZD"
    assert u[("regular", "phone")] == "+31206255975"
    assert c[("regular", "phone")] == "0206255975"
    # key split identical in both modes
    assert _tags_map(compat, 2002)[("source", "date")] == "2014-02-11"


def test_run_pipeline_parquet_roundtrip(spark, tmp_path_factory):
    out_dir = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".tmp", "etl")
    tables = run_pipeline(spark, FIXTURE, out_dir)
    assert set(tables) == {"nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes"}
    assert tables["nodes"].count() == 9
    assert tables["ways_nodes"].count() == 7
    # the written parquet is typed: ids are longs, timestamps timestamps
    dt = dict(tables["nodes"].dtypes)
    assert dt["id"] == "bigint" and dt["timestamp"] == "timestamp"


def test_partitioned_tags_write_prunes_partitions(spark):
    """type-partitioned EAV writes let a type filter prune at the source:
    the scan must list only the matching partition directory."""
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), ".tmp", "etl_part"
    )
    tables = run_pipeline(spark, FIXTURE, out_dir, partition_tags_by_type=True)
    tags = tables["nodes_tags"]
    filtered = tags.filter(F.col("type") == "addr").select("id", "key", "value")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # the type predicate must land in PartitionFilters (pruning), not as a
    # post-scan data filter
    assert "PartitionFilters" in plan and "PartitionFilters: []" not in plan
    # pruning is observable: only the addr partition's rows are read
    assert filtered.count() == 3
    # and the partitioned table still roundtrips all rows
    assert tags.count() > filtered.count()


def test_csv_export_matches_reference_field_order(spark):
    """S3/S4: the CSV sink writes headered files in the reference's exact
    column order with ISO-8601 Z timestamps, and round-trips losslessly."""
    out_dir = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".tmp", "etl_csv")
    tables = run_pipeline(spark, FIXTURE, out_dir, fmt="csv")
    ways = tables["ways"]
    assert ways.columns == ["id", "user", "uid", "version", "changeset", "timestamp"]
    row = ways.filter(F.col("id") == 2001).first()
    # CSV read-back is untyped strings; timestamp re-formatted to Z form
    assert row.timestamp == "2016-10-06T10:16:56Z"
    assert ways.count() == 3
    tags = tables["nodes_tags"]
    assert tags.columns == ["id", "key", "value", "type"]
    assert tags.count() > 0


def test_multi_file_osm_read(spark):
    """S1 at scale: the source reads a DIRECTORY of OSM files (one task
    per file — the 100 TB parallelism unit), not just a single document."""
    import shutil

    multi_dir = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), ".tmp", "multi_osm"
    )
    os.makedirs(multi_dir, exist_ok=True)
    shutil.copy(FIXTURE, os.path.join(multi_dir, "a.osm"))
    shutil.copy(FIXTURE, os.path.join(multi_dir, "b.osm"))
    nodes = read_osm(spark, multi_dir, "node")
    assert nodes.count() == 18  # 9 per file
    assert nodes.rdd.getNumPartitions() >= 2  # one split per file minimum


def _expected_tables(spark, fmt="parquet"):
    """The five tables as ``shape_nodes`` / ``shape_ways`` build them over
    ``read_osm(FIXTURE)``; for CSV, as the strings the export writes."""
    want = {
        **shape_nodes(read_osm(spark, FIXTURE, "node")),
        **shape_ways(read_osm(spark, FIXTURE, "way")),
    }
    if fmt == "csv":
        for name, df in want.items():
            if "timestamp" in df.columns:
                df = df.withColumn("timestamp", F.date_format("timestamp", _TS_FORMAT))
            want[name] = df.select(
                *(F.col(c).cast("string") for c in _FIELD_ORDER[name])
            )
    return want


@pytest.mark.parametrize(
    "fmt,partition_tags_by_type",
    [("parquet", False), ("parquet", True), ("csv", False)],
    ids=["parquet", "parquet-partitioned-tags", "csv"],
)
def test_run_pipeline_rows_equal_shaped_tables(spark, tmp_path, fmt, partition_tags_by_type):
    """Every written table holds exactly the rows the shapers produce:
    equal counts and no row left over by ``exceptAll`` either way."""
    got = run_pipeline(
        spark, FIXTURE, str(tmp_path), fmt=fmt,
        partition_tags_by_type=partition_tags_by_type,
    )
    want = _expected_tables(spark, fmt)
    assert list(got) == list(want)
    for name, g in got.items():
        w = want[name].select(*g.columns)
        assert g.count() == w.count() > 0, name
        assert g.exceptAll(w).isEmpty(), name
        assert w.exceptAll(g).isEmpty(), name


def test_run_pipeline_jobs_inherit_caller_job_group(spark, tmp_path):
    """Both chain threads run their jobs in the caller's job group: the
    group holds at least one write job per table, and no job of the run
    lands outside it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("etl-probe", "run_pipeline job-group probe")
    try:
        run_pipeline(spark, FIXTURE, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    writes = [
        j for j in tracker.getJobIdsForGroup("etl-probe")
        if any(
            tracker.getStageInfo(s).name.startswith("parquet at")
            for s in tracker.getJobInfo(j).stageIds
        )
    ]
    assert len(writes) >= len(_FIELD_ORDER)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_run_pipeline_chain_failure_reraises_and_uncaches(spark, tmp_path, monkeypatch):
    """A failing chain's error reaches the caller after both chains have
    finished, and neither chain leaves its cached parse behind."""

    def broken(raw, cfg):
        raise RuntimeError("way shaping failed")

    monkeypatch.setattr(pipeline, "shape_ways", broken)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="way shaping failed"):
        run_pipeline(spark, FIXTURE, str(tmp_path))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # the node chain still ran to completion
    assert spark.read.parquet(str(tmp_path / "nodes_tags")).count() > 0
