"""Streaming deduplication: exact-dedup as a continuous operator.

``dropDuplicates`` on the content fingerprint inside a stream keeps only
the first occurrence across ALL micro-batches — the streaming twin of
``operators/dedup.exact_dedup_groups``. Its state grows with the number
of distinct fingerprints seen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.functions.text import fingerprint


def dedup_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unbounded-state exact dedup: first writer of each fingerprint wins."""
    return docs.withColumn("fp", fingerprint(F.col(text_col))).dropDuplicates(["fp"])
