"""Footer-probe unit tests (``sources/fs.py``).

``operators/layout.py`` picks each data-adaptive plan from these
probes. They must answer identically through a bare local path and a
URI resolved by ``pyarrow.fs`` (the branch an ``s3://`` or ``gs://``
URI takes), and every unexpected shape must answer None, so that the
caller takes its safe plan.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from amsterdam_map_data_wrangling_spark.sources.fs import (
    parquet_col_max,
    parquet_col_null_frac,
    parquet_nonempty_row_groups,
)


@pytest.fixture(scope="module")
def parquet_dir(tmp_path_factory):
    """Directory-of-files layout (Spark's output shape): two files, an
    int column with known max (907) and a known NULL fraction (4/10)."""
    d = tmp_path_factory.mktemp("probe_dir")
    t1 = pa.table({"k": pa.array([1, None, 5, 907], type=pa.int64())})
    t2 = pa.table(
        {"k": pa.array([None, 2, None, 3, None, 44], type=pa.int64())}
    )
    pq.write_table(t1, d / "part-0.parquet")
    pq.write_table(t2, d / "part-1.parquet")
    (d / "_SUCCESS").write_text("")  # non-parquet sidecar must be skipped
    return d


def test_probes_on_bare_local_path(parquet_dir):
    assert parquet_col_max(str(parquet_dir), "k") == 907
    assert parquet_col_null_frac(str(parquet_dir), "k") == pytest.approx(0.4)


def test_probes_on_file_uri_through_pyarrow_fs(parquet_dir):
    """The object-store code path: a URI dispatched by
    pyarrow.fs.FileSystem.from_uri must answer identically to the bare
    path (file:// locally; s3://, gs://, hdfs:// in production resolve
    through the exact same branch)."""
    uri = parquet_dir.as_uri()  # file:///...
    assert "://" in uri
    assert parquet_col_max(uri, "k") == parquet_col_max(str(parquet_dir), "k")
    assert parquet_col_null_frac(uri, "k") == pytest.approx(
        parquet_col_null_frac(str(parquet_dir), "k")
    )


def test_probes_on_single_file(parquet_dir):
    f = str(parquet_dir / "part-1.parquet")
    assert parquet_col_max(f, "k") == 44
    assert parquet_col_null_frac(f, "k") == pytest.approx(0.5)
    uri = (parquet_dir / "part-1.parquet").as_uri()
    assert parquet_col_max(uri, "k") == 44


def test_nonempty_row_groups_skips_empty_groups(tmp_path):
    """Row groups are counted over every file, and an empty file's
    row group counts for nothing."""
    d = tmp_path / "rg"
    d.mkdir()
    k = pa.array(range(10), type=pa.int64())
    pq.write_table(pa.table({"k": k}), d / "part-0.parquet", row_group_size=3)
    pq.write_table(pa.table({"k": k.slice(0, 0)}), d / "part-1.parquet")
    assert pq.read_metadata(d / "part-1.parquet").num_row_groups == 1
    assert parquet_nonempty_row_groups(str(d)) == 4
    assert parquet_nonempty_row_groups(str(d / "part-0.parquet")) == 4
    assert parquet_nonempty_row_groups(str(tmp_path / "ghost")) is None


def test_probes_fail_safe_none(parquet_dir, tmp_path):
    # missing column → None (never a guess)
    assert parquet_col_max(str(parquet_dir), "nope") is None
    assert parquet_col_null_frac(str(parquet_dir), "nope") is None
    # nonexistent path, both addressing modes → None
    assert parquet_col_max(str(tmp_path / "ghost"), "k") is None
    assert parquet_col_max((tmp_path / "ghost").as_uri(), "k") is None
    # directory with no parquet files → None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert parquet_col_null_frac(str(empty), "k") is None
    # unknown scheme → None (fail-safe, not an exception)
    assert parquet_col_max("notascheme://bucket/x.parquet", "k") is None


def test_probe_file_count_budget_fails_safe(tmp_path):
    """O(bounded), not O(n_files): past PROBE_MAX_FILES the probe
    answers None (callers take their safe plan) instead of issuing one
    footer read per file."""
    from amsterdam_map_data_wrangling_spark.sources import fs as fsmod

    d = tmp_path / "many"
    d.mkdir()
    t = pa.table({"k": pa.array([1, 2], type=pa.int64())})
    for i in range(fsmod.PROBE_MAX_FILES + 1):
        pq.write_table(t, d / f"part-{i:05d}.parquet")
    assert parquet_col_max(str(d), "k") is None
    assert parquet_col_null_frac(str(d), "k") is None
    # exactly at the budget the probe still answers exactly
    (d / f"part-{fsmod.PROBE_MAX_FILES:05d}.parquet").unlink()
    assert parquet_col_max(str(d), "k") == 2
    assert parquet_col_null_frac(str(d), "k") == 0.0


def _latency_script():
    """scripts/catalog_latency.py, whose ``ReadLatencyHandler`` counts
    every metadata call and post-open read by kind."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "catalog_latency",
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "scripts",
            "catalog_latency.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_probes_accept_explicit_filesystem_and_fan_out(parquet_dir):
    """The probes take an explicit ``pyarrow.fs.FileSystem`` (the hook
    for credentialed stores and the latency-shaped wrapper), answers are
    identical to local dispatch, and footer reads fan out through a
    thread pool (PROBE_FANOUT) — order-preserving, so col_max/null_frac
    see every footer exactly once."""
    from pyarrow import fs as pafs

    from amsterdam_map_data_wrangling_spark.sources import fs as fs_mod

    handler = _latency_script().ReadLatencyHandler(0.0)
    wrapped = pafs.PyFileSystem(handler)
    assert (
        parquet_col_max(str(parquet_dir), "k", filesystem=wrapped) == 907
    )
    assert parquet_col_null_frac(
        str(parquet_dir), "k", filesystem=wrapped
    ) == pytest.approx(0.4)
    # a bound, not pyarrow's internal I/O pattern, which an upgrade may
    # change: a small constant of round trips per file, never a scan
    calls_default = handler.total_calls
    assert 0 < calls_default <= 32

    # fan-out must not change answers OR the I/O issued, even at pool
    # size 1 (serial) or wider than the file count
    old = fs_mod.PROBE_FANOUT
    try:
        for fanout in (1, 64):
            fs_mod.PROBE_FANOUT = fanout
            handler.calls = {}
            assert (
                parquet_col_max(str(parquet_dir), "k", filesystem=wrapped)
                == 907
            )
            assert parquet_col_null_frac(
                str(parquet_dir), "k", filesystem=wrapped
            ) == pytest.approx(0.4)
            assert handler.total_calls == calls_default
    finally:
        fs_mod.PROBE_FANOUT = old


def test_healthy_many_file_layout_probes_exactly(tmp_path):
    """A ~100-file table (the 100x events table) is a healthy
    partitioned layout: the probe must answer exactly there, or every
    key-density plan takes its chunked twin on dense keys (2.6x slower
    on session_window_per_user)."""
    from amsterdam_map_data_wrangling_spark.sources import fs as fsmod

    assert fsmod.PROBE_MAX_FILES >= 128, (
        "budget below healthy big-table file counts — the sf10 regression"
    )
    d = tmp_path / "healthy_events"
    d.mkdir()
    t = pa.table({"user_id": pa.array([1, 2, 3], type=pa.int64())})
    for i in range(100):
        pq.write_table(t, d / f"part-{i:05d}.parquet")
    # dense keys → exact 0.0, never None: the naive-plan signal
    assert parquet_col_null_frac(str(d), "user_id") == 0.0
    assert parquet_col_max(str(d), "user_id") == 3


def test_scheme_dispatch_is_shared_and_maps_hadoop_schemes(tmp_path):
    """Scheme dispatch lives in one place: pin the Hadoop-scheme
    mapping, the Hadoop single-slash file:/ form, and that probes
    resolve through it."""
    from amsterdam_map_data_wrangling_spark.sources.fs import (
        hadoop_to_pyarrow_uri,
        pyarrow_fs_for,
    )

    assert hadoop_to_pyarrow_uri("s3a://b/k/t.parquet") == "s3://b/k/t.parquet"
    assert hadoop_to_pyarrow_uri("s3n://b/k") == "s3://b/k"
    assert hadoop_to_pyarrow_uri("gs://b/k") == "gs://b/k"
    assert hadoop_to_pyarrow_uri("/bare/path") == "/bare/path"

    d = tmp_path / "one"
    d.mkdir()
    t = pa.table({"k": pa.array([7, None], type=pa.int64())})
    pq.write_table(t, d / "part-0.parquet")
    # Hadoop's Path.toString local form: file:/x (single slash)
    fs1, p1 = pyarrow_fs_for(f"file:{d}")
    fs2, p2 = pyarrow_fs_for(str(d))
    assert p1 == p2 == str(d)
    # and the probe itself answers through the file:/ form
    assert parquet_col_max(f"file:{d}", "k") == 7
    assert parquet_col_null_frac(f"file:{d}", "k") == pytest.approx(0.5)
    # triple-slash empty-authority form normalizes too
    _fs3, p3 = pyarrow_fs_for(f"file://{d}")
    assert p3 == str(d)


def test_file_uri_with_remote_authority_fails_safe(tmp_path):
    """``file://host/share/x`` (a remote-host file) must not probe the
    local ``/host/share/x``: pyarrow_fs_for raises, so the probes answer
    None (the safe plan, never a wrong answer)."""
    import pytest as _pytest

    from amsterdam_map_data_wrangling_spark.sources.fs import pyarrow_fs_for

    with _pytest.raises(ValueError, match="authority"):
        pyarrow_fs_for("file://somehost/share/data")
    assert parquet_col_max("file://somehost/share/data", "k") is None
    assert parquet_col_null_frac("file://somehost/share/data", "k") is None


def test_azure_schemes_resolve_or_are_documented():
    """``FileSystem.from_uri`` dispatches ``abfs://``/``abfss://`` to
    AzureFileSystem with no rewrite (construction only, no credentials
    touched); the legacy wasb/wasbs schemes stay unmapped and their
    probes fail safe."""
    from amsterdam_map_data_wrangling_spark.sources.fs import (
        hadoop_to_pyarrow_uri,
        pyarrow_fs_for,
    )

    for scheme in ("abfs", "abfss"):
        uri = f"{scheme}://cont@acct.dfs.core.windows.net/t"
        assert hadoop_to_pyarrow_uri(uri) == uri  # pass-through
        try:
            filesystem, p = pyarrow_fs_for(uri)
        except Exception as exc:  # pragma: no cover - pyarrow built w/o azure
            pytest.skip(f"pyarrow lacks Azure support here: {exc}")
        assert type(filesystem).__name__ == "AzureFileSystem"
        assert p == "cont/t"
    # wasb has no pyarrow twin: probes answer None via the fail-safe
    assert parquet_col_max("wasb://c@a.blob.core.windows.net/t", "k") is None


def test_probe_true_get_accounting_is_bounded(tmp_path):
    """With post-open reads intercepted (the GETs a store bills), each
    footer probe costs a bounded number of calls — measured 2/footer
    (open + tail read) + 2 fixed (stat + selector) — whatever the
    fan-out. Asserted as a bound (<= 4/footer + 4 fixed), not pyarrow's
    exact internal pattern."""
    mod = _latency_script()

    from pyarrow import fs as pafs

    from amsterdam_map_data_wrangling_spark.sources import fs as fsmod

    d = tmp_path / "acct"
    d.mkdir()
    n = 8
    t = pa.table({"k": pa.array([1, 2, None], type=pa.int64())})
    for i in range(n):
        pq.write_table(t, d / f"part-{i:05d}.parquet")

    for fanout in (1, fsmod.PROBE_FANOUT):
        handler = mod.ReadLatencyHandler(0.0)
        wrapped = pafs.PyFileSystem(handler)
        old = fsmod.PROBE_FANOUT
        fsmod.PROBE_FANOUT = fanout
        try:
            assert (
                parquet_col_null_frac(str(d), "k", filesystem=wrapped)
                == pytest.approx(1 / 3)
            )
        finally:
            fsmod.PROBE_FANOUT = old
        assert handler.total_calls <= 4 * n + 4, handler.calls
        # reads ARE intercepted (true per-GET accounting)
        assert handler.calls.get("read", 0) >= n
