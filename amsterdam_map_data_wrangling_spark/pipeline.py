"""The OSM XML → 5-table shaping pipeline (reference parity core).

Re-expresses ``shape_element`` + ``process_map``
(``amsterdam_map_data_wrangling.py:99-174,206-236``, SURVEY.md §2.2/§3.1) as
declarative DataFrame transformations:

- P1/P2 attribute projection → ``select`` with renames + real types
- P3/P4 tag unnest            → ``explode`` of the ``tag`` struct array
- P5 ordered nd unnest        → ``posexplode`` (0-based position for free)
- P6 key namespace split      → :func:`split_tag_key` expression
- P7 problematic-char filter  → documented intent ON by default (the
  reference declares it and never enforces it — quirk (d) in SURVEY §2.2);
  ``compat`` mode turns it off
- P8/P9 postcode/phone clean  → :func:`clean_tag_value`; applied to node
  tags always, to way tags only when ``clean_ways=True`` (the reference
  cleans nodes only — quirk P10; documented intent cleans uniformly)
- P11 row-shape dispatch      → one parsed DataFrame per kind, persisted,
  feeding 2 (node) / 3 (way) child outputs; the node and way chains run
  concurrently, one thread each, so the two single-task XML parses
  overlap instead of queueing (the reference's single scan feeds 5 sinks)
- S3 multi-sink write         → Parquet (canonical, columnar) or headered
  CSV in the reference's exact field order (byte-compat export)

Everything is built-in Column expressions — zero Python UDFs — so the whole
shape stage is one WholeStageCodegen pipeline per output.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.functions.cleaning import (
    clean_tag_value,
    is_problematic_key,
    split_tag_key,
)
from amsterdam_map_data_wrangling_spark.schemas import (
    NODE_FIELDS,
    NODE_TAGS_FIELDS,
    WAY_FIELDS,
    WAY_NODES_FIELDS,
    WAY_TAGS_FIELDS,
)
from amsterdam_map_data_wrangling_spark.sources.osm import read_osm

#: ISO-8601 Z format of the reference CSVs (``ways.csv:2``).
_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


@dataclass(frozen=True)
class ShapeConfig:
    """Semantics switches for the documented-intent vs bug-compat modes
    (SURVEY.md §2.2 quirk ledger)."""

    #: P7: drop tags whose key contains a problematic character. The
    #: reference *documents* this (``:33``) but never enforces it; compat
    #: mode (False) reproduces the shipped CSVs.
    filter_problem_keys: bool = True
    #: P10: apply P8/P9 cleaning to way tags too. The reference cleans only
    #: node tags (``:160-173`` has no cleaning); compat mode is False.
    clean_ways: bool = True


#: Bug-compatible mode: reproduces the shipped reference CSVs exactly.
COMPAT = ShapeConfig(filter_problem_keys=False, clean_ways=False)


def _entity(raw: DataFrame, fields: list[str]) -> DataFrame:
    """P1/P2: project the declared attribute fields, typed (timestamp
    parsed from the ISO-8601 Z strings)."""
    cols = []
    for f_name in fields:
        if f_name == "timestamp":
            cols.append(F.to_timestamp(F.col("_timestamp"), _TS_FORMAT).alias(f_name))
        else:
            cols.append(F.col(f"_{f_name}").alias(f_name))
    return raw.select(*cols)


def _tags(raw: DataFrame, clean: bool, cfg: ShapeConfig) -> DataFrame:
    """P3/P4 + P6 + (optionally) P7/P8/P9: explode the tag array into EAV
    rows ``(id, key, value, type)``."""
    t = raw.select(F.col("_id").alias("id"), F.explode("tag").alias("t")).select(
        "id", F.col("t._k").alias("_k"), F.col("t._v").alias("_v")
    )
    if cfg.filter_problem_keys:
        t = t.filter(~is_problematic_key(F.col("_k")))
    tag_type, tag_key = split_tag_key(F.col("_k"))
    value = (
        clean_tag_value(F.col("_k"), tag_key, F.col("_v")) if clean else F.col("_v")
    )
    return t.select(
        "id",
        tag_key.alias("key"),
        value.alias("value"),
        tag_type.alias("type"),
    )


def shape_nodes(raw: DataFrame, cfg: ShapeConfig = ShapeConfig()) -> dict[str, DataFrame]:
    """One raw node scan → ``nodes`` + ``nodes_tags`` (cleaning always on,
    matching the reference's node branch ``:108-148``)."""
    return {
        "nodes": _entity(raw, NODE_FIELDS),
        "nodes_tags": _tags(raw, clean=True, cfg=cfg),
    }


def shape_ways(raw: DataFrame, cfg: ShapeConfig = ShapeConfig()) -> dict[str, DataFrame]:
    """One raw way scan → ``ways`` + ``ways_tags`` + ``ways_nodes``.

    ``ways_nodes`` uses ``posexplode`` — the exact contract of the
    reference's incrementing position counter (``:152-159``): 0-based,
    dense, in document order.
    """
    ways_nodes = raw.select(
        F.col("_id").alias("id"), F.posexplode("nd").alias("position", "nd")
    ).select("id", F.col("nd._ref").alias("node_id"), F.col("position").cast("int"))
    return {
        "ways": _entity(raw, WAY_FIELDS),
        "ways_tags": _tags(raw, clean=cfg.clean_ways, cfg=cfg),
        "ways_nodes": ways_nodes,
    }


_FIELD_ORDER = {
    "nodes": NODE_FIELDS,
    "nodes_tags": NODE_TAGS_FIELDS,
    "ways": WAY_FIELDS,
    "ways_tags": WAY_TAGS_FIELDS,
    "ways_nodes": WAY_NODES_FIELDS,
}


def run_pipeline(
    spark: SparkSession,
    osm_path: str,
    out_dir: str,
    cfg: ShapeConfig = ShapeConfig(),
    fmt: str = "parquet",
    partition_tags_by_type: bool = False,
) -> dict[str, DataFrame]:
    """The full ETL (reference ``process_map``, ``:206-236``): parse once
    per element kind, shape, and write all five tables.

    The node chain and the way chain run concurrently, one Python thread
    per kind. Each chain parses its kind once, persists the parse so its
    2 (node) or 3 (way) writes read it from cache instead of re-parsing
    per action (§4 of SURVEY.md), reads each written table back, and
    unpersists in ``finally``. A single OSM document parses as one task,
    so running the chains one after the other would leave all but one
    core idle. Both threads inherit the caller's local properties (job
    group, scheduler pool) and job tags, so the ETL's jobs stay
    attributed to the caller's group. If a chain raises, the first error
    is re-raised once both chains have finished, and neither chain's
    cache is left behind.

    ``fmt="csv"`` writes headered CSVs in the reference's exact field
    order (timestamps re-formatted to ISO-8601 Z).

    ``partition_tags_by_type=True`` writes the EAV tags tables partitioned
    by the ``type`` namespace column (SURVEY §4): queries shaped like the
    busiest-postcode top-k (``WHERE type = 'addr'``) then touch only that
    partition's files — partition pruning at the source, which at 100 TB
    is the difference between scanning 3% and 100% of the tag data.
    """

    def chain(kind: str, shaper) -> dict[str, DataFrame]:
        out: dict[str, DataFrame] = {}
        raw = read_osm(spark, osm_path, kind).persist()
        try:
            for name, df in shaper(raw, cfg).items():
                path = os.path.join(out_dir, name)
                if fmt == "csv":
                    export = df
                    if "timestamp" in df.columns:
                        export = df.withColumn(
                            "timestamp", F.date_format("timestamp", _TS_FORMAT)
                        )
                    export = export.select(*_FIELD_ORDER[name])
                    export.write.mode("overwrite").option("header", True).csv(path)
                else:
                    writer = df.write.mode("overwrite")
                    if partition_tags_by_type and name.endswith("_tags"):
                        writer = writer.partitionBy("type")
                    writer.parquet(path)
                reader = spark.read.format(fmt)
                if fmt == "csv":
                    # The writer quotes an empty string and leaves a null
                    # unquoted; the default nullValue "" would read both
                    # back as null. XML cannot hold U+0000, so no OSM value
                    # is taken for this null marker.
                    reader = reader.option("header", True).option("nullValue", "\u0000")
                out[name] = reader.load(path)
        finally:
            raw.unpersist()
        return out

    kinds = (("node", shape_nodes), ("way", shape_ways))
    # One wrapper per thread: each captures its own copy of the caller's
    # local properties, so the threads never share one mutable set.
    with ThreadPoolExecutor(len(kinds)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(chain), kind, shaper)
            for kind, shaper in kinds
        ]
    # leaving the ``with`` waited for both chains; re-raise the first error
    return {name: df for f in futures for name, df in f.result().items()}
