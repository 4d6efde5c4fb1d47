"""Data-adaptive layout decisions: every plan choice made from a table's
files rather than its rows. Each decision takes the table's path, reads
metadata only (a file listing, or the parquet footers through
``sources/fs.py``'s budgeted reader) and answers with the plan to take;
an unknown answer selects the plan that is safe at any scale. The twins
a decision picks between are value-identical (each site names the test
that pins it), so a wrong answer costs speed, never correctness.
"""

from __future__ import annotations

from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.sources.fs import (
    parquet_col_max,
    parquet_col_null_frac,
    parquet_nonempty_row_groups,
    parquet_num_rows,
    pyarrow_fs_for,
)

#: key NULL fraction below which the one-partition-per-key window plans
#: win (at 50% NULL they ran 2.5-6.3x slower than the chunked twins)
DENSE_KEY_MAX_NULL_FRAC = 0.10
#: widest row (chars) for the single-row text plans: a 48 MB row is one
#: task (1.1-8.4x); the segmented twins re-scan the table (~2x if narrow)
WIDE_ROW_CHARS = 65_536
#: rows from which a quadratic-fan-out self-join repartitions its cells
#: (below: < ~6M pairs, < 1 s on one core; the exchange cost 0.6 s)
FANOUT_REPARTITION_ROWS = 50_000
#: rows from which a per-row Python kernel (~130 us/row) repays an exchange
KERNEL_REPARTITION_ROWS = 2_000
#: rows per Python task: 500 rows (~65 ms) keep ~20 ms setup under a third
KERNEL_ROWS_PER_TASK = 500
#: bytes below which the scan floor's shuffle costs more than it buys
#: (sf0.1 documents 0.6 MB, orders 2.6 MB stay below; 10x twins fire)
DEFAULT_MIN_BYTES = 4 * 1024 * 1024


def _parquet_file_sizes(path: str) -> "list[int]":
    """Sizes of the parquet files under ``path`` (one file, or a
    directory tree) on any scheme ``sources/fs.pyarrow_fs_for``
    resolves, from one metadata listing; [] when it cannot be listed."""
    try:
        filesystem, p = pyarrow_fs_for(path)
        info = filesystem.get_file_info(p)
        if info.type == pafs.FileType.File:
            return [info.size]
        tree = filesystem.get_file_info(pafs.FileSelector(p, recursive=True))
        return [i.size for i in tree if i.is_file and i.path.endswith(".parquet")]
    except (OSError, ValueError):  # pyarrow's IO and URI errors
        return []


def input_bytes_of_path(path: str) -> int:
    """Bytes of the parquet files under ``path``; 0 when it cannot be
    listed."""
    return sum(_parquet_file_sizes(path))


def key_is_dense(path: str, key: str) -> bool:
    """True (the one-partition-per-key window plan) when ``key``'s NULL
    fraction is known and below ``DENSE_KEY_MAX_NULL_FRAC``; False (the
    chunked plan) otherwise."""
    nf = parquet_col_null_frac(path, key)
    return nf is not None and nf < DENSE_KEY_MAX_NULL_FRAC


def rows_fit_one_task(df: DataFrame, path: str, width_col: str) -> bool:
    """True (the single-row plan) when the largest ``width_col`` is at
    most ``WIDE_ROW_CHARS``, read from the footers, or without the
    statistic from one pruned ``max`` over ``df``; False (the segmented
    plan) otherwise."""
    mx = parquet_col_max(path, width_col)
    if mx is None:
        mx = df.agg(F.max(width_col)).first()[0]
    return mx is not None and mx <= WIDE_ROW_CHARS


def fanout_partitions(spark: SparkSession, path: str) -> "int | None":
    """Partitions for a self-join whose fan-out grows with the square of
    the rows: the cluster width from ``FANOUT_REPARTITION_ROWS`` rows on
    or at an unknown count; None (no repartition) below it."""
    n = parquet_num_rows(path)
    if n is None or n >= FANOUT_REPARTITION_ROWS:
        return spark.sparkContext.defaultParallelism
    return None


def kernel_partitions(spark: SparkSession, path: str) -> "int | None":
    """Partitions for a per-row Python kernel over a table below the scan
    floor's ``DEFAULT_MIN_BYTES``: one per ``KERNEL_ROWS_PER_TASK`` rows,
    capped at the cluster width, from ``KERNEL_REPARTITION_ROWS`` rows
    on; the full width at an unknown count. None (no repartition) for
    fewer rows, or at or above the floor, where the scan is spread."""
    if input_bytes_of_path(path) >= DEFAULT_MIN_BYTES:
        return None
    width = spark.sparkContext.defaultParallelism
    n = parquet_num_rows(path)
    if n is None:
        return width
    if n < KERNEL_REPARTITION_ROWS:
        return None
    return min(width, n // KERNEL_ROWS_PER_TASK)


def _scan_partitions(spark: SparkSession, sizes: "list[int]") -> int:
    """Tasks Spark's file scan cuts files of ``sizes`` into: splits of
    ``min(maxPartitionBytes, max(openCostInBytes, (bytes + files x
    openCost) / minPartitionNum))``, packed next-fit-decreasing with each
    split charged its open cost (``FilePartition`` in Spark SQL)."""
    jspark = spark._jsparkSession
    conf = jspark.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    min_parts = (
        min_parts.get()
        if min_parts.isDefined()
        else jspark.leafNodeDefaultParallelism()
    )
    split = min(
        conf.filesMaxPartitionBytes(),
        max(open_cost, sum(s + open_cost for s in sizes) // min_parts),
    )
    splits = sorted(
        (min(split, s - off) for s in sizes for off in range(0, s, split)),
        reverse=True,
    )
    parts, packed = int(bool(splits)), 0
    for s in splits:
        if packed + s > split:
            parts, packed = parts + 1, 0
        packed += s + open_cost
    return parts


def cpu_parallel_floor(df: DataFrame, path: str) -> DataFrame:
    """Repartition ``df`` round-robin to the cluster width when the
    table at ``path`` would scan a CPU-dense derivation on too few
    cores; ``df`` unchanged otherwise.

    A scan spreads its rows over at most as many tasks as Spark cuts
    splits, and a parquet file splits only at row-group boundaries, so
    every narrow expression chained onto it runs on at most
    min(scan tasks, non-empty row groups) cores until the first shuffle.
    The floor skips below ``DEFAULT_MIN_BYTES`` (the work fits one task)
    and at ``width x spark.sql.files.maxPartitionBytes`` or more (a
    splittable layout already yields ``width`` tasks), both from a
    listing. Inside that window it fires when the listing gives fewer
    than ``width`` scan tasks; otherwise it reads the footers and fires
    when they hold fewer than ``width`` non-empty row groups (an unknown
    count skips: the scan is already ``width`` tasks wide). Catalyst
    pushes pruning and filters through the repartition
    (tests/test_layout_floor.py).
    """
    spark = df.sparkSession
    width = spark.sparkContext.defaultParallelism
    sizes = _parquet_file_sizes(path)
    nbytes = sum(sizes)
    max_split = (
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    if nbytes < DEFAULT_MIN_BYTES or nbytes >= width * max_split:
        return df
    if _scan_partitions(spark, sizes) >= width:
        groups = parquet_nonempty_row_groups(path)
        if groups is None or groups >= width:
            return df
    return df.repartition(width)
