"""Hadoop FileSystem helpers: the tiny driver-side file operations a
pipeline needs (write a manifest, read it back, list a directory) done
through the JVM's ``org.apache.hadoop.fs.FileSystem`` so they work on
ANY Hadoop-supported scheme — ``hdfs://``, ``s3a://``, ``file:`` —
not just the driver's local disk (r7 ADVICE: ``open(os.path.join(...))``
next to Spark-written shards silently breaks off-box).

These are deliberately DRIVER-side and deliberately tiny: a manifest is
shard-count-sized and a compaction listing is file-count-sized — both
metadata, never data. Anything data-sized goes through a real Spark job
(see ``sources/export.corpus_manifest``'s binaryFile scan).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def write_text_file(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite a single text file at ``path`` (any Hadoop
    scheme) with UTF-8 ``text``. Atomicity note: HDFS/local rename-free
    create is not atomic across readers; callers that use the file as a
    completion marker (the manifest contract) write it LAST."""
    fs, hpath = _fs_and_path(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text_file(spark: SparkSession, path: str) -> str:
    """Read a single UTF-8 text file from any Hadoop scheme. (py4j
    passes arrays by value, so a Python-side read(byte[]) loop cannot
    work; commons-io — a Spark classpath constant — drains the stream
    JVM-side and hands the bytes back once.)"""
    fs, hpath = _fs_and_path(spark, path)
    jvm = spark.sparkContext._jvm
    stream = fs.open(hpath)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def list_files(
    spark: SparkSession,
    dir_path: str,
    suffix: str | None = None,
    recursive: bool = False,
) -> list[tuple[str, int]]:
    """(path, size_bytes) listing of plain files under ``dir_path`` on
    any Hadoop scheme, sorted by path for deterministic downstream
    planning. ``recursive=True`` (r16) walks subdirectories via the
    FileSystem's own listFiles iterator — the shape a partitioned or
    per-epoch streaming-sink tree has (``epoch=<id>/part-*.parquet``),
    so compaction can consume it directly."""
    fs, hpath = _fs_and_path(spark, dir_path)
    out: list[tuple[str, int]] = []
    if recursive:
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            status = it.next()
            if status.isFile():
                out.append(
                    (status.getPath().toString(), int(status.getLen()))
                )
    else:
        for status in fs.listStatus(hpath):
            if status.isFile():
                out.append(
                    (status.getPath().toString(), int(status.getLen()))
                )
    if suffix is not None:
        out = [(p, sz) for p, sz in out if p.endswith(suffix)]
    return sorted(out)


# ---------------------------------------------------------------------------
# Parquet footer probes (pyarrow.fs — object-store capable)
#
# Driver-side, metadata-only reads behind the data-adaptive plan choices
# of operators/layout.py, on any pyarrow-supported scheme (file://,
# s3://, gs://, hdfs://) as well as bare local paths. Fail-safe: ANY
# unexpected shape → None → the caller takes its safe plan.
# ---------------------------------------------------------------------------


#: footer-probe file-count budget: one ranged GET per file, so past it
#: the probe answers None (never a sample) and the caller takes its safe
#: plan. 256 files cost a measured 0.92 s at 50 ms/GET (~40 ms local),
#: under the smallest plan delta; a 100-file events table (a normal
#: partitioned write) must stay within it, and past 256 healthy files
#: the safe plans' overhead amortizes.
PROBE_MAX_FILES = 256


def pyarrow_fs_for(path: str):
    """(filesystem, fs_path) for a bare local path or any URI, mapping
    the Hadoop-only schemes pyarrow does not recognize to their pyarrow
    twin (``s3a://``/``s3n://`` → ``s3://``) and normalizing Hadoop's
    single-slash local form (``file:/x``). The one place scheme
    dispatch lives: the footer probes, the layout listing and the
    compaction audit all resolve through here.

    A ``file://`` URI with a non-empty authority (``file://host/x``, a
    remote-host file) raises instead of probing the local ``/host/x``;
    callers catch it and take their safe plan."""
    from pyarrow import fs as pafs

    if path.startswith("file:"):
        p = path[len("file:"):]
        if p.startswith("//"):
            authority, _, tail = p[2:].partition("/")
            if authority:
                raise ValueError(
                    f"file URI with non-empty authority (remote host) is "
                    f"not a local path: {path!r}"
                )
            p = "/" + tail
        return pafs.LocalFileSystem(), p
    if "://" not in path:
        return pafs.LocalFileSystem(), path
    return pafs.FileSystem.from_uri(hadoop_to_pyarrow_uri(path))


def hadoop_to_pyarrow_uri(uri: str) -> str:
    """Rewrite Hadoop-only schemes to the pyarrow scheme that serves the
    same store (``s3a://``/``s3n://`` → ``s3://``); other URIs pass
    through untouched. ``abfs://``/``abfss://`` need no rewrite
    (``FileSystem.from_uri`` serves both; pinned in
    tests/test_footer_probes.py). The legacy ``wasb://``/``wasbs://``
    have no pyarrow twin (the abfs endpoint is not equivalent on non-HNS
    accounts), so probes there answer None: the safe plan."""
    for hadoop_scheme in ("s3a://", "s3n://"):
        if uri.startswith(hadoop_scheme):
            return "s3://" + uri[len(hadoop_scheme):]
    return uri


def read_parquet_footers(files: list, filesystem) -> list:
    """Footer metadata for each path in ``files`` (order-preserving),
    fanned ``PROBE_FANOUT`` wide. Shared by the probes and the
    compaction audit so retry/scheme policy cannot drift between them."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    if len(files) == 1:
        return [pq.read_metadata(files[0], filesystem=filesystem)]
    with ThreadPoolExecutor(min(PROBE_FANOUT, len(files))) as ex:
        return list(
            ex.map(lambda f: pq.read_metadata(f, filesystem=filesystem), files)
        )


#: footer-read fan-out: object-store footer reads are latency-bound (each
#: footer is an open plus a tail read, two GETs of a few KB). 256 files
#: at 50 ms/GET take a measured 1.01 s 32-wide against 1.74 s 16-wide,
#: ~2x under the ~2 s smallest plan delta (scripts/catalog_latency.py);
#: the local pool costs tens of ms.
PROBE_FANOUT = 32


def _parquet_footers(
    path: str, max_files: int = PROBE_MAX_FILES, filesystem=None
):
    """Resolve ``path`` — a bare local path or any pyarrow-supported URI
    — to a list of parquet footer metadata objects (one per file;
    non-recursive directory layout, matching Spark's parquet output
    shape). None when the path shape is unexpected, empty, or holds
    more than ``max_files`` parquet files (see PROBE_MAX_FILES; never a
    sample, which could miss the one wide document). Footer reads cost
    O(KB) per file whatever the data size. ``filesystem`` (any
    ``pyarrow.fs.FileSystem``) overrides :func:`pyarrow_fs_for`'s URI
    dispatch — the hook for credentialed stores and for the
    latency-shaped wrappers of scripts/objectstore_latency.py and
    scripts/catalog_latency.py."""
    from pyarrow import fs as pafs

    if filesystem is not None:
        p = path
    else:
        filesystem, p = pyarrow_fs_for(path)
    info = filesystem.get_file_info(p)
    if info.type == pafs.FileType.File:
        files = [p]
    elif info.type == pafs.FileType.Directory:
        files = sorted(
            i.path
            for i in filesystem.get_file_info(pafs.FileSelector(p))
            if i.is_file and i.path.endswith(".parquet")
        )
    else:
        return None
    if not files or len(files) > max_files:
        return None
    return read_parquet_footers(files, filesystem)


def parquet_num_rows(path: str, filesystem=None) -> "int | None":
    """Total row count from parquet footer metadata, driver-side (no
    Spark job) — None when the path shape is unexpected, so callers
    fall back to their fail-safe plan."""
    try:
        footers = _parquet_footers(path, filesystem=filesystem)
        if footers is None:
            return None
        return sum(md.num_rows for md in footers)
    except Exception:
        return None


def parquet_nonempty_row_groups(path: str) -> "int | None":
    """Number of row groups holding at least one row, over every file
    under ``path``, from the footers — the most scan tasks a parquet
    table can spread its rows over, however many splits Spark cuts.
    None when the path shape is unexpected."""
    try:
        footers = _parquet_footers(path)
        return None if footers is None else sum(
            md.row_group(rg).num_rows > 0
            for md in footers
            for rg in range(md.num_row_groups)
        )
    except Exception:
        return None


def parquet_col_max(path: str, col: str, filesystem=None) -> "int | None":
    """MAX of a column from parquet footer statistics, driver-side (no
    Spark job) — None when the path shape is unexpected or any row
    group lacks the statistic, so callers fall back to a real scan or
    their bounded plan. Handles a single parquet file and a
    directory-of-files layout on any pyarrow filesystem."""
    try:
        footers = _parquet_footers(path, filesystem=filesystem)
        if footers is None:
            return None
        mx = None
        for md in footers:
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                mx = st.max if mx is None else max(mx, st.max)
        return mx
    except Exception:
        return None


def parquet_col_null_frac(
    path: str, col: str, filesystem=None
) -> "float | None":
    """NULL fraction of a column from parquet footer statistics,
    driver-side (no Spark job) — None when the path shape is unexpected
    or any row group lacks a null count."""
    try:
        footers = _parquet_footers(path, filesystem=filesystem)
        if footers is None:
            return None
        nulls = rows = 0
        for md in footers:
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                st = g.column(idx).statistics
                if st is None or st.null_count is None:
                    return None
                nulls += st.null_count
                rows += g.num_rows
        return (nulls / rows) if rows else 0.0
    except Exception:
        return None
