"""Data-adaptive layout decisions (operators/layout.py): the scan floor
fires only inside its paying window and never costs Catalyst its
pushdowns; every decision switches exactly at its threshold and takes
its safe plan when the probe cannot answer; and no plan module reads
footers or file sizes itself."""

from __future__ import annotations

import ast
import hashlib
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from amsterdam_map_data_wrangling_spark.operators import layout
from amsterdam_map_data_wrangling_spark.operators.layout import (
    DEFAULT_MIN_BYTES,
    FANOUT_REPARTITION_ROWS,
    KERNEL_REPARTITION_ROWS,
    KERNEL_ROWS_PER_TASK,
    WIDE_ROW_CHARS,
    cpu_parallel_floor,
    fanout_partitions,
    input_bytes_of_path,
    kernel_partitions,
    key_is_dense,
    rows_fit_one_task,
)
from amsterdam_map_data_wrangling_spark.sources.fs import (
    PROBE_MAX_FILES,
    parquet_nonempty_row_groups,
)
from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

SF_ORACLE = "/root/testdata/sf0.01"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _write(path, start: int, n: int, **kw) -> str:
    """``n`` rows whose ``blob`` column is md5 hex, uncompressed: the
    file size tracks the row count (~45 bytes a row)."""
    ids = range(start, start + n)
    blob = [hashlib.md5(str(i).encode()).hexdigest() for i in ids]
    table = pa.table(
        {"k": ids, "grp": [f"g{i % 4}" for i in ids], "blob": blob}
    )
    pq.write_table(table, path, compression="none", use_dictionary=False, **kw)
    return str(path)


@pytest.fixture(scope="module")
def one_row_group(tmp_path_factory) -> str:
    """A single file past DEFAULT_MIN_BYTES holding ONE row group: Spark
    cuts it into several splits, all but one empty."""
    d = tmp_path_factory.mktemp("floor")
    path = _write(d / "one.parquet", 0, 150_000, row_group_size=150_000)
    assert DEFAULT_MIN_BYTES < input_bytes_of_path(path)
    return path


@pytest.fixture
def no_footer_reads(monkeypatch):
    def boom(path):
        raise AssertionError(f"footer read outside the byte window: {path}")

    monkeypatch.setattr(layout, "parquet_nonempty_row_groups", boom)


def test_floor_noop_below_min_bytes(spark, tmp_path, no_footer_reads):
    path = _write(tmp_path / "small.parquet", 0, 100)
    df = spark.read.parquet(path)
    assert cpu_parallel_floor(df, path) is df


def test_floor_noop_at_cluster_scale(spark, one_row_group, no_footer_reads):
    # bytes >= width x maxPartitionBytes: a splittable layout already
    # yields width scan tasks. The conf goes through Spark's own unit
    # parse ('k' suffix) instead of writing width x 128 MiB.
    width = spark.sparkContext.defaultParallelism
    kib = input_bytes_of_path(one_row_group) // width // 1024
    df = spark.read.parquet(one_row_group)
    spark.conf.set("spark.sql.files.maxPartitionBytes", f"{kib}k")
    try:
        assert cpu_parallel_floor(df, one_row_group) is df
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_floor_fires_inside_window(spark, one_row_group):
    width = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(one_row_group)
    out = cpu_parallel_floor(df, one_row_group)
    assert out is not df
    assert "Repartition" in _optimized(out)
    assert out.rdd.getNumPartitions() == width


def test_floor_skips_already_parallel_input(spark, tmp_path):
    # inside the byte window, but one file per core, each with its own
    # row group: the scan is already width tasks wide, so no shuffle
    width = spark.sparkContext.defaultParallelism
    d = tmp_path / "many.parquet"
    d.mkdir()
    per_file = (DEFAULT_MIN_BYTES * 5 // 4) // 45 // width
    for i in range(width):
        _write(d / f"part-{i:03d}.parquet", i * per_file, per_file)
    assert DEFAULT_MIN_BYTES < input_bytes_of_path(str(d))
    df = spark.read.parquet(str(d))
    assert df.rdd.getNumPartitions() >= width
    assert cpu_parallel_floor(df, str(d)) is df


def test_floor_fires_when_splits_bound_row_groups(spark, tmp_path):
    # inside the window, 64 row groups (>= width), but Spark cuts a file
    # of under (width - 1) x openCostInBytes (4 MiB) into fewer than
    # width splits: the rows still land on too few tasks
    width = spark.sparkContext.defaultParallelism
    path = _write(
        tmp_path / "grouped.parquet", 0, 150_000, row_group_size=2_344
    )
    assert parquet_nonempty_row_groups(path) == 64 >= width
    assert input_bytes_of_path(path) < (width - 1) * DEFAULT_MIN_BYTES
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() < width
    assert "Repartition" in _optimized(cpu_parallel_floor(df, path))


def test_floor_skips_wide_scan_past_footer_budget(spark, tmp_path):
    # more files than the footer probe reads: the row-group count is
    # unknown, but Spark already packs the files into >= width tasks
    # (minPartitionNum keeps the packing clear of its rounding at any
    # width), so the floor skips
    width = spark.sparkContext.defaultParallelism
    d = tmp_path / "wide.parquet"
    d.mkdir()
    n_files = PROBE_MAX_FILES + 64
    per_file = (DEFAULT_MIN_BYTES * 5 // 4) // 45 // n_files
    for i in range(n_files):
        _write(d / f"part-{i:03d}.parquet", i * per_file, per_file)
    assert DEFAULT_MIN_BYTES < input_bytes_of_path(str(d))
    assert parquet_nonempty_row_groups(str(d)) is None
    spark.conf.set("spark.sql.files.minPartitionNum", str(2 * width))
    try:
        df = spark.read.parquet(str(d))
        assert df.rdd.getNumPartitions() >= width
        assert cpu_parallel_floor(df, str(d)) is df
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")


@pytest.mark.parametrize(
    "rows_per_group, n_files", [(150_000, 1), (2_344, 1), (500, 40)]
)
def test_scan_partitions_match_spark(spark, tmp_path, rows_per_group, n_files):
    # the floor's model of Spark's file-scan packing gives the task count
    # Spark plans for the same files
    d = tmp_path / "t.parquet"
    d.mkdir()
    for i in range(n_files):
        _write(
            d / f"part-{i:03d}.parquet",
            0,
            150_000 // n_files,
            row_group_size=rows_per_group,
        )
    sizes = layout._parquet_file_sizes(str(d))
    assert len(sizes) == n_files
    assert (
        layout._scan_partitions(spark, sizes)
        == spark.read.parquet(str(d)).rdd.getNumPartitions()
    )


def test_floor_preserves_pushdown_and_pruning(spark, one_row_group):
    # the repartition must sit ABOVE the scan in a way Catalyst can push
    # projects and predicates through — the shuffle carries only the
    # pruned, filtered columns.
    df = spark.read.parquet(one_row_group)
    floored = cpu_parallel_floor(df, one_row_group)
    assert floored is not df
    q = floored.filter(F.col("grp") == "g1").select("k")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(grp)" in plan
    assert "blob" not in plan  # pruned before the exchange


def test_gate_sf_tables_not_floored(spark):
    # the driver's sf0.01/sf0.001 inputs are far below min_bytes: the
    # loader must hand back the bare scan (plan pins + gate plans
    # unchanged at oracle SFs).
    dfs = load_tables(spark, SF_ORACLE, ["documents", "embeddings"])
    for name, df in dfs.items():
        assert "Repartition" not in _optimized(df), name


def test_input_bytes_of_path_counts_parquet_bytes():
    n = input_bytes_of_path(f"{SF_ORACLE}/documents.parquet")
    assert n > 0
    # sf0.01 documents is a small table — well under the floor threshold
    assert n < DEFAULT_MIN_BYTES
    uri = pathlib.Path(f"{SF_ORACLE}/documents.parquet").as_uri()
    assert input_bytes_of_path(uri) == n


def test_nested_json_shred_parses_once(spark):
    # the explode_outer form must keep exactly ONE from_json in the
    # optimized plan; the non-outer form regresses to 3 (the inferred
    # size/isnotnull filter re-parses per row — see the plan docstring).
    import __spark_entry__  # noqa: F401
    from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES

    plan = _optimized(QUERIES["nested_json_shred"].build(spark, SF_ORACLE))
    assert plan.count("from_json") == 1


def test_loader_floors_cpu_dense_table_inside_window(spark, tmp_path):
    # the positive loader path: a documents table big enough to enter
    # the window (> 4 MiB, single file) must come back repartitioned to
    # cluster parallelism; a numeric star table of the same size must
    # come back bare (table-class contract in sources/registry.py).
    sf = str(tmp_path / "sfbig")
    n = 60_000
    # md5-derived tokens: incompressible, so the on-disk parquet actually
    # clears the 4 MiB window (repeated literals compress to ~nothing)
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        "concat('src', id % 4) AS source",
        "concat_ws(' ', transform(sequence(1, 8),"
        " i -> md5(concat(cast(id AS string), '|', cast(i AS string)))))"
        " AS text",
    )
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    docs.selectExpr("doc_id AS o_orderkey", "text AS o_comment").coalesce(
        1
    ).write.parquet(f"{sf}/orders.parquet")
    assert input_bytes_of_path(f"{sf}/documents.parquet") > DEFAULT_MIN_BYTES

    loaded = load_tables(spark, sf, ["documents", "orders"])
    assert "Repartition" in _optimized(loaded["documents"])
    assert (
        loaded["documents"].rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert "Repartition" not in _optimized(loaded["orders"])


def _col(name, values):
    return {name: pa.array(values, pa.int64())}


def _fits(spark, path):
    # the fallback agg reads this frame only when the footer cannot answer
    narrow = spark.createDataFrame([(10,)], "n_chars int")
    return rows_fit_one_task(narrow, path, "n_chars")


W = "cluster width"
KERNEL_ROWS, FANOUT_ROWS = KERNEL_REPARTITION_ROWS, FANOUT_REPARTITION_ROWS
KERNEL_AT_EDGE = KERNEL_ROWS // KERNEL_ROWS_PER_TASK
IDS = "c_custkey"
BOUNDARY_CASES = {
    "null_frac_below": (_col("user_id", [None] * 9 + [1] * 91), "dense", True),
    "null_frac_at": (_col("user_id", [None] * 10 + [1] * 90), "dense", False),
    "null_frac_unreadable": (None, "dense", False),
    "n_chars_at": (_col("n_chars", [1, WIDE_ROW_CHARS]), "fits", True),
    "n_chars_above": (_col("n_chars", [1, WIDE_ROW_CHARS + 1]), "fits", False),
    "n_chars_unreadable": (None, "fits", True),
    "kernel_below": (_col(IDS, range(KERNEL_ROWS - 1)), "kernel", None),
    "kernel_at": (_col(IDS, range(KERNEL_ROWS)), "kernel", KERNEL_AT_EDGE),
    "kernel_unreadable": (None, "kernel", W),
    "fanout_below": (_col(IDS, range(FANOUT_ROWS - 1)), "fanout", None),
    "fanout_at": (_col(IDS, range(FANOUT_ROWS)), "fanout", W),
    "fanout_unreadable": (None, "fanout", W),
}
DECISIONS = {
    "dense": lambda spark, path: key_is_dense(path, "user_id"),
    "fits": _fits,
    "kernel": kernel_partitions,
    "fanout": fanout_partitions,
}


@pytest.mark.parametrize("case", list(BOUNDARY_CASES))
def test_decision_threshold_edges(spark, tmp_path, case):
    """Each decision flips exactly at its constant; an unreadable file
    (garbage bytes) takes the fail-safe branch: the chunked window plan,
    the one-``agg`` width fallback, or a repartition at cluster width."""
    columns, decision, expected = BOUNDARY_CASES[case]
    path = tmp_path / "t.parquet"
    if columns is None:
        path.write_bytes(b"not a parquet file")
    else:
        pq.write_table(pa.table(columns), path)
    width = spark.sparkContext.defaultParallelism
    if expected == W:
        expected = width
    elif type(expected) is int:
        expected = min(width, expected)
    assert DECISIONS[decision](spark, str(path)) == expected


#: the footer and file-size probes of sources/fs.py and operators/layout.py
FOOTER_PROBES = {
    "parquet_num_rows", "parquet_col_max", "parquet_col_null_frac",
    "parquet_nonempty_row_groups", "input_bytes_of_path",
    "parquet_file_sizes",
    "read_parquet_footers", "parquet_footers",
}


def test_no_plan_module_reads_footers():
    """Layout decisions are made in operators/layout.py: no module under
    plans/, and not the loader, imports a footer or file-size probe
    (under any alias, or re-exported with a leading underscore), reaches
    one as an attribute, or imports ``pyarrow.parquet``."""
    pkg = pathlib.Path(layout.__file__).resolve().parents[1]
    modules = [*(pkg / "plans").glob("*.py"), pkg / "sources/registry.py"]
    assert len(modules) > 10
    offenders = []
    for m in modules:
        for node in ast.walk(ast.parse(m.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [f"{node.module}.{a.name}" for a in node.names]
            else:
                names = [node.attr] if isinstance(node, ast.Attribute) else []
            offenders += [
                f"{m.name}: {n}"
                for n in names
                if n.split(".")[-1].lstrip("_") in FOOTER_PROBES
                or n.startswith("pyarrow.parquet")
            ]
    assert offenders == []
