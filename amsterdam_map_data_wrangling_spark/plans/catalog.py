"""Query-catalog registry.

Each named query is a pair: a DataFrame ``build(spark, sf_dir)`` and an
equivalent ANSI-SQL oracle string for DuckDB (``None`` → the driver runs a
weaker rows-only check; used only for genuinely non-SQL-expressible ops).

Conventions that keep the driver's hash compare honest (see
``plans/queries.py`` module docstring): identical aliases on both sides,
identical ``round()`` on float aggregates, total tie-break ordering under
every LIMIT, non-empty results at sf0.01, and — because the driver's
value-hash is type-sensitive — no DuckDB-only types in oracle output:
DuckDB widens ``SUM(BIGINT)`` to HUGEINT (Spark stays BIGINT), so every
integer SUM in an oracle's SELECT list must be ``CAST(SUM(...) AS
BIGINT)``.  (Window/CTE-internal sums that never reach the output are
exempt.)

Float-SUM convention (round-5 ADVICE follow-through): a gated
``round(SUM(double), k)`` depends on accumulation order, so 2-decimal
equality is data-dependent luck that a testdata scale-up can flip. Where
the summand is an exact 2-decimal quantity (prices, balances), gate the
exact integer form instead: ``round(SUM(CAST(round(x*100) AS
BIGINT))/100.0, 2)`` on BOTH engines (see salted_join_hot_customer).
Where it is not (products like ``price*(1-disc)``, continuous values,
averages), exact re-representation would change semantics; those rely on
both engines' chunked partial summation keeping FP error orders of
magnitude under the rounding granularity — green since round 1, and a
flip localizes immediately to the rounding boundary. ORDERED window
running sums are exempt: both engines accumulate in the same frame
order, so they are bit-identical by construction.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

Build = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Build
    oracle: str | None  # None → non-SQL-expressible, driver does rows-only
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: Build) -> Build:
        QUERIES[name] = QuerySpec(name=name, build=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    dfs = load_tables(spark, sf_dir, list(names))
    return [dfs[n] for n in names]


def queries() -> dict[str, Build]:
    return {name: spec.build for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in QUERIES.items()
        if spec.oracle is not None
    }


def catalog_markdown() -> str:
    """Deterministic one-line-per-query index of the registry, in
    registration order — regenerate QUERIES.md with
    ``python -c "from amsterdam_map_data_wrangling_spark.plans.catalog
    import catalog_markdown; print(catalog_markdown(), end='')" >
    QUERIES.md``; tests/test_catalog_doc.py fails if the file drifts."""
    lines = [
        "# Query catalog (generated — do not edit by hand)",
        "",
        f"{len(QUERIES)} registered queries, listed in registration "
        f"order. Every query carries a DuckDB value oracle.",
        "",
        "| # | query | doc |",
        "|---|---|---|",
    ]
    for i, (name, spec) in enumerate(QUERIES.items(), 1):
        doc = (spec.doc or "").strip().replace("\n", " ")
        first = doc.split(". ")[0].rstrip(".") + "." if doc else ""
        first = first.replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {first} |")
    return "\n".join(lines) + "\n"
