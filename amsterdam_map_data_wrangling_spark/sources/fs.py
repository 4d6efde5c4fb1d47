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
# Driver-side, metadata-only reads used for DATA-ADAPTIVE plan choice
# (r15: the chunked window levers pick their plan from the key's NULL
# fraction; the wide-row levers from the max document width). r15
# verdict "What's missing" #2: the original probes used os.listdir, so
# on an object store they returned None and the plans silently paid the
# bounded/chunked path even on dense keys. Ported here to pyarrow.fs so
# the same probe works on any pyarrow-supported scheme (file://, s3://,
# gs://, hdfs://) as well as bare local paths. Probes stay fail-safe:
# ANY unexpected shape → None → callers take their bounded plan.
# ---------------------------------------------------------------------------


#: footer-probe file-count budget: the probe must stay O(bounded), not
#: O(n_files) — on a many-small-files table (the r16 axis measured 17k
#: files for 17 MB) an exact probe would issue one ranged GET per file,
#: costing more than the plan choice saves. Past the budget the probe
#: answers None and every adaptive caller takes its ROBUST plan
#: (chunked windows / segmented kernels), which is value-identical by
#: the oracle gates and the right default on a layout that degenerate.
#:
#: 256, raised from the r16 value of 64 (r17): the r17 sf10 soak caught
#: the 64-file budget misclassifying a HEALTHY big-table layout as
#: degenerate — the 100x events table is 100 x ~target-size files (a
#: normal partitioned write), the probe answered None, and
#: session_window_per_user paid the chunked fail-safe on a dense-key
#: corpus (measured 2.6x the naive plan it should have taken; same for
#: the other three window levers). With the r17 fan-out the exact probe
#: at 256 files costs a MEASURED 0.92 s at 50 ms/GET (13.0 s serial;
#: ~40 ms local) — under the smallest measured plan delta — while a table
#: past 256 files at healthy sizes is large enough that the chunked
#: plans' overhead amortizes anyway. Never a sample: within budget the
#: answer is exact over every footer; past it, None.
PROBE_MAX_FILES = 256


def pyarrow_fs_for(path: str):
    """(filesystem, fs_path) for a bare local path or any URI, mapping
    the Hadoop-only schemes pyarrow does not recognize to their pyarrow
    twin (``s3a://``/``s3n://`` → ``s3://``) and normalizing Hadoop's
    single-slash local form (``file:/x``). The ONE place scheme
    dispatch lives — the footer probes and the compaction audit both
    resolve through here (r17 review: the audit had the mapping, the
    probes did not, so every probe on an s3a:// table silently answered
    None and the adaptive plans paid the chunked fail-safe — the exact
    misclassification the budget fix closed for local layouts).

    A ``file://`` URI with a non-empty authority (``file://host/x`` —
    a remote-host file reference) RAISES instead of silently probing
    the wrong local path ``/host/x`` (r17 ADVICE): every caller wraps
    probes in the fail-safe try/except, so the raise lands as None →
    the bounded plan, never a wrong answer."""
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
    through untouched. Azure coverage (r17 ADVICE, verified against
    pyarrow 16.1): ``abfs://`` / ``abfss://`` need NO rewrite —
    ``FileSystem.from_uri`` dispatches both to AzureFileSystem natively
    (pinned in tests/test_footer_probes.py). KNOWN UNMAPPED: the legacy
    blob-endpoint schemes ``wasb://`` / ``wasbs://`` have no pyarrow
    twin (the abfs rewrite would swap the blob endpoint for the dfs
    endpoint — not guaranteed-equivalent on non-HNS accounts), so
    probes on wasb tables answer None and adaptive callers take their
    bounded plan: a documented limitation, not a silent one."""
    for hadoop_scheme in ("s3a://", "s3n://"):
        if uri.startswith(hadoop_scheme):
            return "s3://" + uri[len(hadoop_scheme):]
    return uri


def read_parquet_footers(files: list, filesystem) -> list:
    """Footer metadata for each path in ``files`` (order-preserving),
    fanned ``PROBE_FANOUT`` wide — object-store footer reads are
    latency-bound, not bandwidth-bound (r17 axis: 64 files @ 50 ms RTT
    = 3.35 s serial vs 0.31 s fanned). Shared by the probes and the
    compaction audit so retry/scheme policy cannot drift between them."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    if len(files) == 1:
        return [pq.read_metadata(files[0], filesystem=filesystem)]
    with ThreadPoolExecutor(min(PROBE_FANOUT, len(files))) as ex:
        return list(
            ex.map(lambda f: pq.read_metadata(f, filesystem=filesystem), files)
        )


#: footer-read fan-out: object-store footer probes are LATENCY-bound,
#: not bandwidth-bound (one ranged GET of a few KB per file). The r17
#: latency axis measured the probe at budget (64 files, 50 ms RTT):
#: 3.35 s serial vs 0.31 s fanned 16-wide (10.7x), and on local FS the
#: pool costs ~25 ms at 64 files — negligible against the plan delta
#: the probe buys (scripts/archive/objectstore_latency_r17.json).
#:
#: 32, raised from 16 (r18): the r17 walls used OPEN-only accounting
#: (post-open NativeFile reads uninstrumented — a documented lower
#: bound). The r18 axis intercepts the reads too (each parquet footer =
#: 1 open + 1 tail read = 2 billable GETs, measured), and true
#: accounting nearly doubled the budget-probe wall: 256 files at
#: 50 ms/GET cost 1.74 s fanned 16-wide — only ~13% headroom under the
#: ~2 s smallest plan delta that justifies probing at all. 32-wide
#: restores it to a measured 1.01 s (~2x headroom,
#: scripts/catalog_latency.py). 32 concurrent metadata GETs remains
#: far below any object store's per-prefix request ceiling (thousands
#: of GET/s), and the local-FS pool cost stays in the tens of ms.
PROBE_FANOUT = 32


def _parquet_footers(
    path: str, max_files: int = PROBE_MAX_FILES, filesystem=None
):
    """Resolve ``path`` — a bare local path or any pyarrow-supported URI
    — to a list of parquet footer metadata objects (one per file;
    non-recursive directory layout, matching Spark's parquet output
    shape). None when the path shape is unexpected, empty, or holds
    more than ``max_files`` parquet files (see PROBE_MAX_FILES — the
    fail-safe direction, never a guess from a sample: col_max from a
    sample could MISS the one wide document, and null_frac from a
    sample would be an estimate presented as a fact). Footer reads are
    O(KB) per file regardless of data size: on an object store this is
    one ranged GET per file, never a data scan — issued
    ``PROBE_FANOUT`` at a time because the cost there is round trips,
    not bytes. ``filesystem`` (any ``pyarrow.fs.FileSystem``) overrides
    URI dispatch — the hook for credentialed stores and for the
    latency-shaped wrapper the r17 axis measures with. Default dispatch
    goes through :func:`pyarrow_fs_for`, so Hadoop-only schemes
    (``s3a://``) resolve instead of silently answering None."""
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
    fall back to their fail-safe plan. Same probe family as
    :func:`parquet_col_max`; used by plans whose cost grows with ROWS
    rather than bytes (e.g. geo_nn_on_sphere's quadratic-in-density
    candidate fan-out, where a KB-sized table can still explode)."""
    try:
        footers = _parquet_footers(path, filesystem=filesystem)
        if footers is None:
            return None
        return sum(md.num_rows for md in footers)
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
    or any row group lacks a null count. Same probe family as
    :func:`parquet_col_max`; used where a NULL-heavy key makes the
    one-window-partition-per-key plan the wrong one (r15 high-null
    soak)."""
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
