"""Star-schema loader: parquet dir → DataFrames + catalog views.

Replaces the reference's CSV→SQLite import step (``Readme.md:11``,
SURVEY.md §3.2): in Spark the parquet scan *is* the load, and a temp
view registration is the catalog entry. Scans stay lazy; Catalyst prunes
columns and pushes filters into the parquet reader, so "loading" all ten
tables costs nothing until a query runs.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from amsterdam_map_data_wrangling_spark.schemas import STAR_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: session → {(sf_dir, table) → DataFrame}. A DataFrame is just a logical
#: plan — caching it skips the parquet footer/schema read that
#: ``spark.read.parquet`` performs eagerly, which dominates when a catalog
#: of 80 queries each re-loads its inputs. Keyed WEAKLY on the session
#: object itself, not on applicationId: ``spark.newSession()`` shares the
#: applicationId but has its OWN SQLConf, and a DataFrame optimizes under
#: the session that created it — an app-keyed cache handed child sessions
#: plans bound to the parent, silently discarding the child's conf
#: (runtime_bloom_filter_join's scoped configs found this). Weak keys
#: avoid the stale-id hazard of ``id(spark)`` (CPython reuses ids after
#: GC): an entry dies with its session. The testdata is read-only, so
#: plans never go stale; ``clear_cache`` exists for other inputs.
_DF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def clear_cache() -> None:
    _DF_CACHE.clear()


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Lazy DataFrames for each star-schema table under ``sf_dir``."""
    # imported here: operators.layout reads through this package's fs.py
    from amsterdam_map_data_wrangling_spark.operators.layout import (
        cpu_parallel_floor,
    )

    names = tables if tables is not None else STAR_TABLES
    # events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    # rejects outright. The conf below (runtime-settable SQL conf) makes it
    # arrive as long ns instead; _fix_nanos converts to a real timestamp.
    # Set here — not only in our session factory — so load_tables works on
    # ANY session, including the driver's verify session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # ts columns pass through timestamp_micros (TZ-sensitive); pin UTC so
    # results are identical on any session regardless of host timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out: dict[str, DataFrame] = {}
    per_session = _DF_CACHE.setdefault(spark, {})
    for name in names:
        key = (sf_dir, name)
        if key not in per_session:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                raise FileNotFoundError(f"table {name!r} not found at {path}")
            if name == "events":
                # events.ts must be TIMESTAMP_LTZ (every gated ts query
                # assumes LTZ-under-UTC). Reading NTZ then casting costs a
                # per-row cast expression in EVERY events scan (~20% of a
                # window-agg query at sf0.1, measured round 5); flipping
                # inferTimestampNTZ for just this read makes the parquet
                # reader deliver LTZ directly — same micros, zero cast.
                # Schema inference happens eagerly inside read.parquet(),
                # so the toggle is safely scoped; other tables keep their
                # NTZ dtypes (and their driver-green schemas) untouched.
                prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
                spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
                try:
                    df = spark.read.parquet(path)
                finally:
                    spark.conf.set(
                        "spark.sql.parquet.inferTimestampNTZ.enabled", prev
                    )
            else:
                df = spark.read.parquet(path)
            df = _fix_nanos(df)
            if name in _CPU_DENSE_TABLES:
                df = cpu_parallel_floor(df, path)
            per_session[key] = df
        out[name] = per_session[key]
    return out


#: tables whose every catalog consumer is CPU-dense per input byte —
#: documents feeds only the text/gram/dedup/sparse families (tokenize →
#: n-gram → md5 fan-out is 10-100x the byte read), embeddings only the
#: ANN family (per-row vector math). For these the loader applies the
#: scan-parallelism floor (operators/layout.py). The numeric star
#: tables are NOT floored here — their consumers are mostly IO-thin
#: aggregates where the extra shuffle measured net negative; CPU-dense
#: exceptions (the JSON-synthesis queries over orders) opt in at the
#: plan site instead.
_CPU_DENSE_TABLES = frozenset({"documents", "embeddings"})


def _fix_nanos(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to TIMESTAMP_LTZ regardless of how the
    parquet writer typed it; every query (and every driver-green verdict)
    assumes LTZ-with-UTC-session semantics, where ``cast(ts AS DOUBLE)``
    yields epoch seconds exactly like DuckDB's ``epoch(ts)``.

    - TIMESTAMP(NANOS) arrives as long ns (via
      ``spark.sql.legacy.parquet.nanosAsLong``): integral ``div`` keeps
      the arithmetic in long — ns epoch values (~1.7e18) exceed double's
      53-bit mantissa, so float division would be off by up to 1 us.
    - timestamp[us] without timezone normally arrives as LTZ already (the
      events read flips ``inferTimestampNTZ`` for exactly that reason —
      see ``load_tables``); the NTZ branch remains as a safety net for
      sessions where the conf could not be applied: cast to LTZ under the
      pinned UTC session zone is an exact identity on the underlying
      micros (NTZ wall-clock == UTC instant)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name != "ts":
            continue
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (SQL entry point)."""
    dfs = load_tables(spark, sf_dir, tables)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
