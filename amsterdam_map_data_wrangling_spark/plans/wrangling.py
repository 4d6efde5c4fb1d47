"""Cleaning-rule and EAV-shape queries, oracle-gated.

Puts the reference's conformance rules (P6 key split, P8 postcode, P9
phone — ``amsterdam_map_data_wrangling.py:117-146``) and its EAV/table-stat
query shapes (A3 busiest-postcode ``Readme.md:205-221``, A7 ``.dbinfo``
``Readme.md:147-155``) behind the driver's DuckDB hash-compare gate, by
applying the exact same Column expressions the OSM pipeline uses to
deterministic strings derived from the star-schema testdata.

Both sides (Spark build and DuckDB oracle) synthesize identical inputs, so
the compare verifies the *cleaning semantics*, not the synthesis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.functions.cleaning import (
    normalize_phone,
    normalize_postcode,
    split_tag_key,
)
from amsterdam_map_data_wrangling_spark.operators.layout import (
    cpu_parallel_floor,
)
from amsterdam_map_data_wrangling_spark.plans.catalog import _t, query

#: modular-checksum modulus for surrogate-key parse/extract witnesses
#: (r14 re-contracts of variant_json_stats / xml_roundtrip_stats):
#: prime, < 2^31, so summands stay < 1e9 and the reduced output is
#: always BIGINT-representable at any row count and key domain
_MOD = 1_000_000_007

# ---------------------------------------------------------------------------
# P9 phone normalization — every digit-length branch 7..13 (:131-146)
# ---------------------------------------------------------------------------


@query(
    "normalize_phone_lengths",
    """
    WITH raw AS (
      SELECT c_custkey,
             substr(CAST(CAST(c_custkey AS HUGEINT) * 987654321
                         + 1234567890123 AS VARCHAR),
                    1, CAST(7 + c_custkey % 7 AS INT)) AS d
      FROM customer
    )
    SELECT c_custkey,
           CASE WHEN length(d) IN (11, 9) THEN '+' || d
                WHEN length(d) = 12      THEN '+' || substr(d, 1, 2) || substr(d, 4)
                WHEN length(d) IN (10, 8) THEN '+31' || substr(d, 2)
                WHEN length(d) = 13      THEN '+' || substr(d, 3)
                WHEN length(d) = 7       THEN '+31' || d
                ELSE d END AS phone
    FROM raw
    """,
    "P9 as a gated query: deterministic digit strings of length 7-13 per "
    "customer (covering every branch of the reference's case table, "
    ":131-146) pushed through normalize_phone. Scale: pure narrow "
    "projection, whole-stage codegen, no shuffle.",
)
def normalize_phone_lengths(spark, sf_dir):
    (customer,) = _t(spark, sf_dir, "customer")
    # decimal(38,0) widening, not bigint: key*987654321 overflows int64
    # for keys above ~9.3e9 (snowflake-scale surrogate IDs; found by the
    # r10 sf1 soak's shifted key domain). Scale-0 decimals render as
    # plain digit strings, identical to the bigint cast in-domain.
    # ORACLE widened at r15 (this cohort's front round, the one legal
    # window for an oracle change): DuckDB does NOT auto-widen the INT64
    # multiply (r13 key-domain harness, cliff #6), so the oracle now
    # carries the product in HUGEINT — scale-0 HUGEINTs render as plain
    # digit strings, identical to the BIGINT cast in-domain, so gate
    # values are unchanged; the derivation is total at any key domain
    # on BOTH engines (tests/test_key_domain_stress.py now requires it).
    d = F.substring(
        (
            F.col("c_custkey").cast("decimal(38,0)") * 987654321
            + 1234567890123
        ).cast("string"),
        F.lit(1),
        (7 + F.col("c_custkey") % 7).cast("int"),
    )
    return customer.select(
        "c_custkey", normalize_phone(d).alias("phone")
    )


# ---------------------------------------------------------------------------
# P8 postcode normalization — clean / unspaced / padded variants (:128-129)
# ---------------------------------------------------------------------------


@query(
    "normalize_postcode_formats",
    """
    WITH raw AS (
      SELECT c_custkey,
             CASE c_custkey % 3
               WHEN 0 THEN CAST(1000 + c_custkey % 9000 AS VARCHAR)
                           || upper(substr(c_mktsegment, 1, 2))
               WHEN 1 THEN ' ' || CAST(1000 + c_custkey % 9000 AS VARCHAR)
                           || upper(substr(c_mktsegment, 1, 2)) || ' '
               ELSE CAST(1000 + c_custkey % 9000 AS VARCHAR) || ' '
                    || upper(substr(c_mktsegment, 1, 2))
             END AS v
      FROM customer
    )
    SELECT c_custkey,
           substr(ltrim(v), 1, 4) || ' ' || substr(rtrim(v), -2, 2) AS postcode
    FROM raw
    """,
    "P8 as a gated query: postcode strings in the three observed formats "
    "(no-space '1016CJ', padded ' 1073BP ', already-clean '1071 ZD' — "
    "Readme.md:123-127) normalized to 'NNNN AA'. Scale: narrow projection.",
)
def normalize_postcode_formats(spark, sf_dir):
    (customer,) = _t(spark, sf_dir, "customer")
    digits = (1000 + F.col("c_custkey") % 9000).cast("string")
    letters = F.upper(F.substring("c_mktsegment", 1, 2))
    v = (
        F.when(F.col("c_custkey") % 3 == 0, F.concat(digits, letters))
        .when(F.col("c_custkey") % 3 == 1, F.concat(F.lit(" "), digits, letters, F.lit(" ")))
        .otherwise(F.concat(digits, F.lit(" "), letters))
    )
    return customer.select(
        "c_custkey", normalize_postcode(v).alias("postcode")
    )


# ---------------------------------------------------------------------------
# P6 key namespace split — match / two-colon / uppercase-miss / plain (:117-126)
# ---------------------------------------------------------------------------


@query(
    "split_tag_keys_agg",
    """
    WITH raw AS (
      SELECT CASE doc_id % 5
               WHEN 0 THEN 'addr:postcode'
               WHEN 1 THEN 'addr:street:name'
               WHEN 2 THEN 'naam:NL'
               WHEN 3 THEN lang || ':' || source
               ELSE 'building' END AS k
      FROM documents
    ), split AS (
      SELECT CASE WHEN regexp_matches(k, '^([a-z]|_)+:([a-z]|_)+')
                  THEN split_part(k, ':', 1) ELSE 'regular' END AS type,
             CASE WHEN regexp_matches(k, '^([a-z]|_)+:([a-z]|_)+')
                  THEN substr(k, instr(k, ':') + 1) ELSE k END AS key
      FROM raw
    )
    SELECT type, key, COUNT(*) AS num
    FROM split GROUP BY type, key ORDER BY num DESC, type, key
    """,
    "P6 as a gated query over EAV-style keys: colon split ('addr:postcode'), "
    "two colons keep the tail ('addr:street:name' → key 'street:name'), "
    "uppercase second segment misses LOWER_COLON ('naam:NL' stays regular — "
    "quirk (b)), digit-bearing keys miss too ('en:src12'), plain keys pass. "
    "Scale: narrow projection + tiny group-by shuffle.",
)
def split_tag_keys_agg(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    k = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("addr:postcode"))
        .when(F.col("doc_id") % 5 == 1, F.lit("addr:street:name"))
        .when(F.col("doc_id") % 5 == 2, F.lit("naam:NL"))
        .when(F.col("doc_id") % 5 == 3, F.concat("lang", F.lit(":"), "source"))
        .otherwise(F.lit("building"))
    )
    tag_type, tag_key = split_tag_key(k)
    return (
        documents.select(tag_type.alias("type"), tag_key.alias("key"))
        .groupBy("type", "key")
        .agg(F.count("*").alias("num"))
        .orderBy(F.desc("num"), "type", "key")
    )


# ---------------------------------------------------------------------------
# P11/A3 — EAV unpivot + busiest-value top-k (Readme.md:205-221)
# ---------------------------------------------------------------------------


@query(
    "eav_unpivot_topk",
    """
    WITH eav AS (
      SELECT p_partkey AS id, 'name' AS key, p_name AS value FROM part
      UNION ALL
      SELECT p_partkey, 'brand', p_brand FROM part
      UNION ALL
      SELECT p_partkey, 'ptype', p_type FROM part
    )
    SELECT value, COUNT(DISTINCT id) AS num
    FROM eav WHERE key = 'brand'
    GROUP BY value ORDER BY num DESC, value LIMIT 10
    """,
    "The reference's EAV workload end-to-end: wide table unpivoted to "
    "(id, key, value) rows (P11 row-shape dispatch) then the busiest-value "
    "top-k with COUNT(DISTINCT id) (A3, Readme.md:205-221). Scale: stack is "
    "a narrow 3x row multiplier; the key filter prunes before the distinct "
    "agg; top-k is TakeOrderedAndProject.",
)
def eav_unpivot_topk(spark, sf_dir):
    (part,) = _t(spark, sf_dir, "part")
    eav = part.selectExpr(
        "p_partkey AS id",
        "stack(3, 'name', p_name, 'brand', p_brand, 'ptype', p_type) AS (key, value)",
    )
    return (
        eav.filter(F.col("key") == "brand")
        .groupBy("value")
        .agg(F.count_distinct("id").alias("num"))
        .orderBy(F.desc("num"), "value")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# A7 — table stats (.dbinfo analog, Readme.md:147-155)
# ---------------------------------------------------------------------------


@query(
    "table_stats",
    """
    SELECT COUNT(*) AS cnt,
           COUNT(DISTINCT l_orderkey) AS distinct_orders,
           COUNT(*) - COUNT(l_returnflag) AS null_returnflag,
           min(l_shipdate) AS min_shipdate,
           max(l_shipdate) AS max_shipdate,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem
    """,
    "A7 table-stats (.dbinfo analog): row count, key cardinality, null "
    "count, min/max per column in ONE aggregate pass. Scale: single scan, "
    "partial aggs per partition, one-row result; at 100 TB this is the "
    "ANALYZE TABLE shape (min/max may even come from parquet footers).",
)
def table_stats(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.agg(
        F.count("*").alias("cnt"),
        F.count_distinct("l_orderkey").alias("distinct_orders"),
        (F.count("*") - F.count("l_returnflag")).alias("null_returnflag"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@query(
    "json_props_stats",
    """
    SELECT event_type,
           COUNT(*) AS cnt,
           min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
           round(avg(CAST(json_extract(props, '$.k') AS INT)), 4) AS avg_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "Semi-structured payload handling: the events.props JSON column parsed "
    "with a typed from_json schema (stays in codegen — no string "
    "re-parsing per field access), then aggregated per type. Scale: "
    "narrow parse + tiny agg shuffle; with a stable schema the 100 TB "
    "move is parse-once-at-ingest into a struct column.",
)
def json_props_stats(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    # per-row JSON parse — CPU-dense opt-in (events is not loader-floored)
    events = cpu_parallel_floor(events, f"{sf_dir}/events.parquet")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@query(
    "value_percentiles_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "Exact interpolated percentiles of event value per type (Spark "
    "percentile() ≡ DuckDB quantile_cont — verified bit-equal after "
    "round(4)). Scale: exact percentiles need the group's values on one "
    "node; at 100 TB swap to approx_percentile (t-digest sketch, "
    "mergeable map-side) — same query shape, bounded memory.",
)
def value_percentiles_by_type(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "salted_user_event_stats",
    """
    WITH s1 AS (
      SELECT user_id, event_id % 8 AS _salt,
             COUNT(*) AS c, SUM(value) AS sv
      FROM events GROUP BY user_id, event_id % 8
    )
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS n_events,
           round(SUM(sv), 2) AS sum_value
    FROM s1 GROUP BY user_id
    ORDER BY n_events DESC, user_id LIMIT 10
    """,
    "Explicit two-stage salted aggregation (operators/skew.py:salted_agg): "
    "stage 1 groups on (user_id, event_id % 8) spreading any hot user over "
    "8 reducers, stage 2 merges partials — provably identical to the plain "
    "groupBy by count/sum associativity, which the oracle (same two-stage "
    "SQL) hash-verifies. Scale: the pattern that survives a key holding "
    "double-digit percent of a 100 TB fact table, where even map-side "
    "combine leaves one reducer with the hot key's entire partial set.",
)
def salted_user_event_stats(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.skew import salted_agg

    (events,) = _t(spark, sf_dir, "events")
    merged = salted_agg(
        events,
        key="user_id",
        salt_col="event_id",
        aggs={"n_events": "count", "sum_value": "sum:value"},
        buckets=8,
    )
    return (
        merged.withColumn("sum_value", F.round("sum_value", 2))
        .orderBy(F.desc("n_events"), "user_id")
        .limit(10)
    )


@query(
    "salted_join_hot_customer",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "Explicit salted equi-join (operators/skew.py:salted_join): the big "
    "side (orders) gets a uniform salt in [0,8), the small side "
    "(customer) is replicated once per salt, and the join key becomes "
    "(custkey, salt) — spreading any hot customer over 8 reducers. The "
    "oracle is the PLAIN equi-join: every big row meets exactly one "
    "replica of each matching small row, so the salted result is provably "
    "identical, which the hash gate verifies value-for-value. Scale: the "
    "pattern for a pathological key AQE skew-split can't save (one key = "
    "double-digit % of a 100 TB fact table); cost is ×8 on the small side "
    "only, and the big side is never broadcast (pinned in "
    "tests/test_plan_shapes.py).",
)
def salted_join_hot_customer(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.skew import salted_join

    (orders, customer) = _t(spark, sf_dir, "orders", "customer")
    j = salted_join(
        orders, customer, "o_custkey", "c_custkey", buckets=8,
        force_sort_merge=True,
    )
    # gated column sums EXACT integer cents, not doubles: a double SUM's
    # value depends on accumulation order (SMJ partials here vs DuckDB's
    # scan order), so 2-decimal equality would be data-dependent luck at
    # scale (ADVICE r4). round(x*100) is never a halfway case (prices are
    # 2-decimal, so x*100 sits within ~1e-9 of an integer) — both engines
    # round to the same cent and BIGINT summation is order-free.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(cents) / 100.0, 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "equi_depth_histogram",
    """
    WITH binned AS (
      SELECT value,
             ntile(8) OVER (ORDER BY value, event_id) AS bin
      FROM events
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           round(MIN(value), 2) AS lo,
           round(MAX(value), 2) AS hi
    FROM binned GROUP BY bin ORDER BY bin
    """,
    "Equi-depth histogram over a value column (8 bins of equal row "
    "count via ntile with a total tie-break order): per-bin bounds + "
    "counts — the statistic behind range-partition boundary planning "
    "(repartitionByRange samples toward exactly these cut points), "
    "skew-aware bucketing, and optimizer selectivity estimates. Gated "
    "exactly: ntile over a TOTAL order is deterministic, and bin "
    "min/max are exact values both engines agree on. Scale note: ntile "
    "needs a global sort here (the gate needs exact determinism); the "
    "production path at 100 TB swaps in approx_percentile cut points "
    "(sketch_value_quantiles) and keeps this exact form for bounded "
    "slices.",
)
def equi_depth_histogram(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    w = Window.orderBy("value", "event_id")
    binned = events.select("value", F.ntile(8).over(w).alias("bin"))
    return (
        binned.groupBy(F.col("bin").cast("long").alias("bin"))
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("bin")
    )


@query(
    "expectations_report",
    """
    SELECT 'customer_custkey_unique' AS rule,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_checked,
           CAST((SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_quantity_range',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
    UNION ALL
    SELECT 'events_ts_not_null',
           CAST((SELECT COUNT(*) FROM events) AS BIGINT),
           CAST((SELECT COUNT(*) FROM events WHERE ts IS NULL) AS BIGINT)
    ORDER BY rule
    """,
    "Data-quality expectations — the validation pass every production "
    "table runs before downstream jobs trust it: uniqueness (PK), "
    "referential integrity (FK via LEFT ANTI join — never a NOT IN "
    "subquery per row at scale), range rule, and null rule, each "
    "reported as (rule, n_checked, n_violations). Scale: uniqueness is "
    "one count-distinct; the FK check is a broadcast-or-shuffle anti "
    "join; range/null rules are scan-side conditional counts that "
    "collapse into one aggregate per table. All four run as independent "
    "1-row aggregates unioned at the end — no cross-table shuffle.",
)
def expectations_report(spark, sf_dir):
    customer, orders, lineitem, events = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "events"
    )
    uniq = customer.agg(
        F.lit("customer_custkey_unique").alias("rule"),
        F.count("*").alias("n_checked"),
        (F.count("*") - F.countDistinct("c_custkey")).alias("n_violations"),
    )
    fk_total = orders.agg(F.count("*").alias("n_checked"))
    fk_bad = orders.join(
        customer.select("c_custkey"),
        orders.o_custkey == F.col("c_custkey"),
        "left_anti",
    ).agg(F.count("*").alias("n_violations"))
    fk = fk_total.crossJoin(fk_bad).select(
        F.lit("orders_custkey_fk").alias("rule"), "n_checked", "n_violations"
    )
    qty = lineitem.agg(
        F.lit("lineitem_quantity_range").alias("rule"),
        F.count("*").alias("n_checked"),
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")
        ).alias("n_violations"),
    )
    ts_null = events.agg(
        F.lit("events_ts_not_null").alias("rule"),
        F.count("*").alias("n_checked"),
        F.sum(F.col("ts").isNull().cast("long")).alias("n_violations"),
    )
    return (
        uniq.unionByName(fk).unionByName(qty).unionByName(ts_null).orderBy("rule")
    )


@query(
    "python_datasource_stats",
    """
    WITH ids AS (
      SELECT range AS doc_id FROM range(2000)
    ), docs AS (
      SELECT doc_id,
             CASE CAST(doc_id % 5 AS INTEGER)
               WHEN 0 THEN 'en' WHEN 1 THEN 'nl' WHEN 2 THEN 'de'
               WHEN 3 THEN 'fr' ELSE 'xx' END AS lang,
             (SELECT substr(h,1,4) || ' ' || substr(h,5,4) || ' '
                  || substr(h,9,4) || ' ' || substr(h,13,4) || ' '
                  || substr(h,17,4) || ' ' || substr(h,21,4) || ' '
                  || substr(h,25,4) || ' ' || substr(h,29,4)
              FROM (SELECT md5('42:' || CAST(doc_id AS VARCHAR)) AS h)) AS text
      FROM ids
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           min(md5(text)) AS fp_min,
           max(md5(text)) AS fp_max
    FROM docs GROUP BY lang ORDER BY lang
    """,
    "Custom PYTHON DATA SOURCE, gated end-to-end — the Spark 4 "
    "pyspark.sql.datasource extension surface (schema, options, "
    "partition planning, per-partition generation) consumed through the "
    "ordinary read path: a deterministic synthetic-document generator "
    "(sources/synthdocs.py) reads 2000 docs across 8 self-describing id "
    "ranges, then per-lang counts, id sums, and min/max md5 of the "
    "generated text gate the CONTENT byte-for-byte — the DuckDB oracle "
    "replays generation with its own md5 over range(2000), so a "
    "partition-planning bug (dropped/duplicated range) or a generation "
    "drift flips the hash. The scale story IS the source: soak tests "
    "and backfills materialize any volume with zero input files and no "
    "coordination — each partition generates its own range.",
)
def python_datasource_stats(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.sources import synthdocs

    synthdocs.register(spark)
    docs = (
        spark.read.format("synthdocs")
        .option("n", 2000)
        .option("partitions", 8)
        .option("seed", 42)
        .load()
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
            F.min(F.md5("text")).alias("fp_min"),
            F.max(F.md5("text")).alias("fp_max"),
        )
        .orderBy("lang")
    )


@query(
    "nested_json_shred",
    """
    WITH j AS (
      SELECT '{"id": ' || CAST(o_orderkey AS VARCHAR)
          || ', "items": [{"q": ' || CAST(o_orderkey % 5 AS VARCHAR)
          || '}, {"q": ' || CAST(o_orderkey % 7 AS VARCHAR)
          || '}], "tag": "' || o_orderpriority || '"}' AS js
      FROM orders
    )
    SELECT json_extract_string(js, '$.tag') AS tag,
           CAST(COUNT(*) * 2 AS BIGINT) AS n_items,
           CAST(SUM(CAST(json_extract(js, '$.items[0].q') AS BIGINT)
                  + CAST(json_extract(js, '$.items[1].q') AS BIGINT))
                AS BIGINT) AS sum_q
    FROM j GROUP BY tag ORDER BY tag
    """,
    "Nested-JSON shredding — the semi-structured ELT stage beyond the "
    "flat json_props_stats: documents with a nested object + array "
    "structure are synthesized JVM-side (deterministic in the row, so "
    "both engines parse IDENTICAL strings), then Spark does the real "
    "shred — from_json with an explicit nested schema (struct + "
    "array<struct>), explode of the parsed array, aggregate — while "
    "DuckDB re-parses the same strings by JSON path. A from_json schema "
    "mismatch, array-order bug, or explode miscount flips the hash. "
    "Scale: narrow parse + explode (fan-out x2), one agg shuffle on "
    "tag; with an explicit schema from_json stays codegen-adjacent and "
    "never falls back to schema inference.",
)
def nested_json_shred(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    # JSON synthesis + parse is CPU-dense per input byte — opt in to the
    # scan-parallelism floor (orders is not floored by the loader; its
    # other consumers are IO-thin star aggregates).
    orders = cpu_parallel_floor(orders, f"{sf_dir}/orders.parquet")
    js = F.concat(
        F.lit('{"id": '),
        F.col("o_orderkey").cast("string"),
        F.lit(', "items": [{"q": '),
        (F.col("o_orderkey") % 5).cast("string"),
        F.lit('}, {"q": '),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit('}], "tag": "'),
        F.col("o_orderpriority"),
        F.lit('"}'),
    )
    schema = "id BIGINT, items ARRAY<STRUCT<q: BIGINT>>, tag STRING"
    parsed = orders.select(F.from_json(js, schema).alias("doc"))
    # explode_OUTER, deliberately: InferFiltersFromGenerate adds a
    # `size(input) > 0 AND isnotnull(input)` filter under a non-outer
    # Generate, and because the generator input is a field of the
    # from_json result, that inferred filter RE-PARSES the JSON twice
    # more per row (3 from_json calls in the optimized plan; measured
    # ~2x the whole query at the 10x scale point). The rule skips outer
    # generates. Semantics are identical here — items is never empty or
    # null by construction (always exactly 2 elements), so the outer
    # branch's null-emitting row can't occur; gate hashes unchanged.
    items = parsed.select(
        F.col("doc.tag").alias("tag"),
        F.explode_outer("doc.items").alias("item"),
    )
    return (
        items.groupBy("tag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("item.q").alias("sum_q"),
        )
        .orderBy("tag")
    )


@query(
    "snapshot_table_diff",
    r"""
    WITH fpd AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                 CAST(o_custkey AS VARCHAR) || '|' ||
                 o_orderstatus || '|' ||
                 CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                 || '|' ||
                 CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||
                 o_orderpriority) AS fp,
             o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
    ), base AS (
      SELECT k, fp FROM fpd
    ), curr AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                 CAST(o_custkey AS VARCHAR) || '|' ||
                 o_orderstatus || '|' ||
                 CAST(CAST(round((o_totalprice +
                        CASE WHEN o_orderkey % 103 = 0 THEN 1.5 ELSE 0 END)
                      * 100) AS BIGINT) AS VARCHAR) || '|' ||
                 CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||
                 o_orderpriority) AS fp
      FROM fpd WHERE o_orderkey % 101 != 0
      UNION ALL
      SELECT -o_orderkey AS k,
             md5(CAST(-o_orderkey AS VARCHAR) || '|' ||
                 CAST(o_custkey AS VARCHAR) || '|' ||
                 o_orderstatus || '|' ||
                 CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                 || '|' ||
                 CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||
                 o_orderpriority) AS fp
      FROM fpd WHERE o_orderkey % 107 = 0
    )
    SELECT CAST(SUM(CASE WHEN b.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS added,
           CAST(SUM(CASE WHEN c.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS removed,
           CAST(SUM(CASE WHEN b.fp IS NOT NULL AND c.fp IS NOT NULL
                          AND b.fp != c.fp THEN 1 ELSE 0 END) AS BIGINT)
             AS changed,
           CAST(SUM(CASE WHEN b.fp = c.fp THEN 1 ELSE 0 END) AS BIGINT)
             AS unchanged
    FROM base b FULL OUTER JOIN curr c ON b.k = c.k
    """,
    "Snapshot reconciliation diff — the audit every incremental/CDC "
    "pipeline runs after an apply: old vs new table snapshot, "
    "full-outer-joined on the key, rows compared by an md5 row "
    "fingerprint over PORTABLE scalars (exact integer cents, ISO date "
    "string — never a raw double repr, which differs between engines), "
    "classified added / removed / changed / unchanged. The 'new' "
    "snapshot is derived deterministically from orders (every 101st "
    "key deleted, every 103rd repriced, every 107th re-inserted under a "
    "fresh negative key) so both engines replay the identical history. "
    "Scale: two narrow fingerprint projections + ONE sort-merge join on "
    "the key — only (key, fp) pairs shuffle, never full rows; AQE "
    "handles the residual skew. This is the 100 TB table-diff shape "
    "(content-addressed compare, no row-by-row driver loop).",
)
def snapshot_table_diff(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")

    def fp(key, price):
        return F.md5(
            F.concat_ws(
                "|",
                key.cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.round(price * 100).cast("bigint").cast("string"),
                F.col("o_orderdate").cast("date").cast("string"),
                F.col("o_orderpriority"),
            )
        )

    k = F.col("o_orderkey")
    base = orders.select(
        k.alias("k"), fp(k, F.col("o_totalprice")).alias("fp")
    )
    repriced = F.col("o_totalprice") + F.when(k % 103 == 0, 1.5).otherwise(
        0.0
    )
    curr = (
        orders.filter(k % 101 != 0)
        .select(k.alias("k"), fp(k, repriced).alias("fp"))
        .unionByName(
            orders.filter(k % 107 == 0).select(
                (-k).alias("k"), fp(-k, F.col("o_totalprice")).alias("fp")
            )
        )
    )
    j = base.withColumnRenamed("fp", "fp_a").join(
        curr.withColumnRenamed("fp", "fp_b"), "k", "full_outer"
    )
    return j.agg(
        F.sum(F.when(F.col("fp_a").isNull(), 1).otherwise(0)).alias("added"),
        F.sum(F.when(F.col("fp_b").isNull(), 1).otherwise(0)).alias(
            "removed"
        ),
        F.sum(
            F.when(
                F.col("fp_a").isNotNull()
                & F.col("fp_b").isNotNull()
                & (F.col("fp_a") != F.col("fp_b")),
                1,
            ).otherwise(0)
        ).alias("changed"),
        F.sum(F.when(F.col("fp_a") == F.col("fp_b"), 1).otherwise(0)).alias(
            "unchanged"
        ),
    )


@query(
    "map_ops_surface",
    """
    WITH kv AS (
      SELECT 'status' AS key, o_orderstatus AS value FROM orders
      UNION ALL
      SELECT 'prio' AS key, o_orderpriority AS value FROM orders
      UNION ALL
      SELECT 'band' AS key,
             CASE WHEN o_totalprice > 100000 THEN 'high' ELSE 'low' END
               AS value
      FROM orders
    )
    SELECT key, upper(value) AS value_u,
           CAST(COUNT(*) AS BIGINT) AS num
    FROM kv
    WHERE NOT (key = 'band' AND value = 'low')
    GROUP BY key, value_u ORDER BY key, value_u
    """,
    "Map-typed column surface — the one complex type the catalog didn't "
    "yet exercise: per-row maps built with create_map, merged with "
    "map_concat, pruned with map_filter (drops the low band), rewritten "
    "with transform_values (upper), and unnested with explode into "
    "(key, value) rows for a grouped count. The oracle replays the "
    "same relational content (the map ops are row-local, so their "
    "composition is observable exactly as the exploded rows). Scale: "
    "all map ops are narrow per-row expressions; the only exchange is "
    "the final small (key, value) count agg.",
)
def map_ops_surface(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    # per-row map build + explode fan-out — CPU-dense opt-in
    orders = cpu_parallel_floor(orders, f"{sf_dir}/orders.parquet")
    m = F.map_concat(
        F.create_map(
            F.lit("status"),
            F.col("o_orderstatus"),
            F.lit("prio"),
            F.col("o_orderpriority"),
        ),
        F.create_map(
            F.lit("band"),
            F.when(F.col("o_totalprice") > 100000, "high").otherwise("low"),
        ),
    )
    m2 = F.transform_values(
        F.map_filter(m, lambda k, v: ~((k == "band") & (v == "low"))),
        lambda k, v: F.upper(v),
    )
    return (
        orders.select(F.explode(m2).alias("key", "value_u"))
        .groupBy("key", "value_u")
        .agg(F.count("*").alias("num"))
        .orderBy("key", "value_u")
    )


@query(
    "variant_json_stats",
    """
    WITH j AS (
      SELECT '{"id": ' || CAST(o_orderkey AS VARCHAR)
          || ', "items": [{"q": ' || CAST(o_orderkey % 5 AS VARCHAR)
          || '}, {"q": ' || CAST(o_orderkey % 7 AS VARCHAR)
          || '}], "tag": "' || o_orderpriority || '"}' AS js
      FROM orders
    )
    SELECT json_extract_string(js, '$.tag') AS tag,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(json_extract(js, '$.id') AS BIGINT)
                    % 1000000007) % 1000000007 AS BIGINT) AS sum_id_mod,
           CAST(SUM(CAST(json_extract(js, '$.items[1].q') AS BIGINT))
                AS BIGINT) AS sum_q1,
           CAST(SUM(CASE WHEN json_extract(js, '$.items[0].q')
                              IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS q0_present
    FROM j GROUP BY tag ORDER BY tag
    """,
    "Spark 4 VARIANT surface — the OTHER semi-structured path next to "
    "nested_json_shred's explicit-schema from_json: the same "
    "deterministically synthesized JSON strings are parsed with "
    "parse_json into VARIANT and fields come out via typed "
    "try_variant_get JSON-path extraction ($.id, $.items[1].q), with a "
    "presence probe on $.items[0].q. The oracle replays the identical "
    "strings with DuckDB json_extract. VARIANT is the schema-on-read "
    "answer when the shape is NOT known up front (from_json needs the "
    "schema; variant defers it to extraction time) — the trade is a "
    "binary-encoded value per row instead of shredded columns. The id "
    "witness is a MODULAR checksum (sum of id mod 1e9+7, reduced again "
    "mod 1e9+7 — r14 re-contract): exactly as sensitive to a lost/"
    "duplicated/corrupted row as the raw key sum it replaced, but "
    "representable at ANY row count and key domain (the r12 50x soak "
    "showed the raw BIGINT sum contract is unrepresentable at shifted "
    "100 TB key domains on both engines). Scale: narrow parse + "
    "extract, one small agg shuffle on tag.",
)
def variant_json_stats(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    # same CPU-dense opt-in as nested_json_shred: parse_json per row
    orders = cpu_parallel_floor(orders, f"{sf_dir}/orders.parquet")
    js = F.concat(
        F.lit('{"id": '),
        F.col("o_orderkey").cast("string"),
        F.lit(', "items": [{"q": '),
        (F.col("o_orderkey") % 5).cast("string"),
        F.lit('}, {"q": '),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit('}], "tag": "'),
        F.col("o_orderpriority"),
        F.lit('"}'),
    )
    v = orders.select(F.parse_json(js).alias("v"))
    fields = v.select(
        F.try_variant_get("v", "$.tag", "string").alias("tag"),
        F.try_variant_get("v", "$.id", "bigint").alias("id"),
        F.try_variant_get("v", "$.items[1].q", "bigint").alias("q1"),
        F.try_variant_get("v", "$.items[0].q", "bigint").alias("q0"),
    )
    return (
        fields.groupBy("tag")
        .agg(
            F.count("*").alias("n_docs"),
            # r14 re-contract (this cohort's front round — the one
            # legal window for an oracle change): modular checksum of
            # the surrogate keys. Each summand is < 1e9, the running
            # sum is carried in DECIMAL(38,0) (no mid-agg overflow
            # below ~1e29 rows), and the outer pmod brings the output
            # back under 1e9 — so the BIGINT output contract is total
            # at ANY row count and key domain, unlike the raw key sum
            # it replaces (which both engines fail to represent at
            # >=50x shifted domains, per the r12 soak).
            F.pmod(
                F.sum(
                    F.pmod(F.col("id"), F.lit(_MOD)).cast("decimal(38,0)")
                ),
                F.lit(_MOD),
            )
            .cast("bigint")
            .alias("sum_id_mod"),
            F.sum("q1").alias("sum_q1"),
            F.sum(F.when(F.col("q0").isNotNull(), 1).otherwise(0)).alias(
                "q0_present"
            ),
        )
        .orderBy("tag")
    )


@query(
    "null_semantics_audit",
    """
    WITH src AS (
      SELECT nullif(o_orderstatus, 'P') AS st,
             nullif(o_orderkey % 3, 0) AS k3
      FROM orders
    ), dim(st, w) AS (
      SELECT * FROM (VALUES ('F', 10), ('O', 20), (NULL, 30)) v(st, w)
    )
    SELECT
      CAST((SELECT COUNT(*) FROM src) AS BIGINT) AS n_rows,
      CAST((SELECT COUNT(st) FROM src) AS BIGINT) AS n_st_nonnull,
      CAST((SELECT COUNT(DISTINCT st) FROM src) AS BIGINT) AS n_st_distinct,
      CAST((SELECT COUNT(*) FROM (SELECT k3 FROM src GROUP BY k3) g)
           AS BIGINT) AS n_k3_groups,
      CAST((SELECT COUNT(*) FROM src s JOIN dim d ON s.st = d.st)
           AS BIGINT) AS eq_join_matches,
      CAST((SELECT COUNT(*) FROM src s JOIN dim d
            ON s.st IS NOT DISTINCT FROM d.st) AS BIGINT)
        AS nullsafe_join_matches
    """,
    "Null-semantics audit — the SQL edge cases that silently differ "
    "between engines if either strays from the standard, gated as exact "
    "counts over deterministically injected NULLs (nullif on status "
    "'P' and on o_orderkey % 3 = 0): COUNT(*) vs COUNT(col), "
    "COUNT(DISTINCT) ignoring NULLs, GROUP BY keeping the NULL group, "
    "equi-join DROPPING null keys, and the null-safe join (Spark "
    "eqNullSafe <=> / SQL IS NOT DISTINCT FROM) matching them — the "
    "join flavor a dedup-on-nullable-key pipeline must use. Scale: all "
    "1-row aggregates over narrow maps; the joins broadcast a 3-row "
    "dim.",
)
def null_semantics_audit(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    st = F.when(F.col("o_orderstatus") == "P", None).otherwise(
        F.col("o_orderstatus")
    )
    k3 = F.when(F.col("o_orderkey") % 3 == 0, None).otherwise(
        F.col("o_orderkey") % 3
    )
    src = orders.select(st.alias("st"), k3.alias("k3"))
    dim = spark.createDataFrame(
        [("F", 10), ("O", 20), (None, 30)], "st string, w int"
    )
    a = src.agg(
        F.count("*").alias("n_rows"),
        F.count("st").alias("n_st_nonnull"),
        F.countDistinct("st").alias("n_st_distinct"),
    )
    g = (
        src.select("k3")
        .distinct()
        .agg(F.count("*").alias("n_k3_groups"))
    )
    j1 = (
        src.join(F.broadcast(dim), src["st"] == dim["st"])
        .agg(F.count("*").alias("eq_join_matches"))
    )
    j2 = (
        src.join(F.broadcast(dim), src["st"].eqNullSafe(dim["st"]))
        .agg(F.count("*").alias("nullsafe_join_matches"))
    )
    return (
        a.crossJoin(g)
        .crossJoin(j1)
        .crossJoin(j2)
        .select(
            "n_rows",
            "n_st_nonnull",
            "n_st_distinct",
            "n_k3_groups",
            "eq_join_matches",
            "nullsafe_join_matches",
        )
    )


@query(
    "xml_roundtrip_stats",
    """
    WITH kv AS (
      SELECT c_custkey, 'segment' AS key, c_mktsegment AS value
      FROM customer
      UNION ALL
      SELECT c_custkey, 'nation' AS key, CAST(c_nationkey AS VARCHAR)
      FROM customer
    )
    SELECT key, value,
           CAST(COUNT(*) AS BIGINT) AS num,
           CAST(SUM(c_custkey % 1000000007) % 1000000007 AS BIGINT)
             AS sum_id_mod
    FROM kv GROUP BY key, value ORDER BY key, value
    """,
    "XML ingest surface (Spark 4 from_xml) — a direct nod to the "
    "reference's OSM-XML domain: OSM-node-shaped XML strings "
    "(attributes + repeated <tag k v/> children) are synthesized "
    "deterministically from customer rows, parsed back with from_xml "
    "(attribute `_`-prefix schema, nested array<struct>), the tag "
    "array exploded, and (k, v) groups counted with a MODULAR checksum "
    "of the parsed node ids as the parse witness (sum of id mod 1e9+7, "
    "reduced again mod 1e9+7 — r14 re-contract, total at any key "
    "domain where the raw BIGINT sum it replaced overflowed both "
    "engines at ~60x+ shifted domains, per the r13 100x soak). A "
    "from_xml bug still flips the hash: the checksum is exactly as "
    "sensitive to a lost/duplicated/corrupted row as the raw sum. "
    "The oracle computes the expected "
    "result from the SOURCE columns directly — so a from_xml "
    "attribute-mapping, array-collection, or type-coercion bug flips "
    "the hash. XML carries only integers and catalog strings (never "
    "a formatted double, whose repr differs across engines). Scale: "
    "narrow synth + parse + explode (x2), one small agg shuffle.",
)
def xml_roundtrip_stats(spark, sf_dir):
    (customer,) = _t(spark, sf_dir, "customer")
    xml = F.concat(
        F.lit('<node id="'),
        F.col("c_custkey").cast("string"),
        F.lit('" ver="'),
        (F.col("c_custkey") % 7).cast("string"),
        F.lit('"><tag k="segment" v="'),
        F.col("c_mktsegment"),
        F.lit('"/><tag k="nation" v="'),
        F.col("c_nationkey").cast("string"),
        F.lit('"/></node>'),
    )
    schema = (
        "_id BIGINT, _ver BIGINT, tag ARRAY<STRUCT<_k: STRING, _v: STRING>>"
    )
    parsed = customer.select(F.from_xml(xml, schema).alias("n"))
    exploded = parsed.select(
        F.col("n._id").alias("c_custkey"), F.explode("n.tag").alias("t")
    )
    return (
        exploded.select(
            F.col("t._k").alias("key"),
            F.col("t._v").alias("value"),
            "c_custkey",
        )
        .groupBy("key", "value")
        .agg(
            F.count("*").alias("num"),
            # r14 re-contract: modular checksum of the parsed node ids
            # (same remedy and legality window as variant_json_stats).
            # Summands < 1e9, running sum in DECIMAL(38,0), outer pmod
            # < 1e9 — the BIGINT output contract is total at any key
            # domain; the raw key sum it replaces overflowed at the
            # r13 100x soak.
            F.pmod(
                F.sum(
                    F.pmod(F.col("c_custkey"), F.lit(_MOD)).cast(
                        "decimal(38,0)"
                    )
                ),
                F.lit(_MOD),
            )
            .cast("bigint")
            .alias("sum_id_mod"),
        )
        .orderBy("key", "value")
    )


#: compaction gate constants: small synthetic target so the md5-derived
#: byte sizes exercise every planner branch (open-bin first fit, new-bin
#: fallback, oversize singletons) at a deterministic 400-file metadata
#: relation; doc_id % 29 seeds ~3% oversize files. The derived ratio
#: (~2.6 at sf0.01) sits deliberately BETWEEN the local slack (4.0) and
#: the object-store slack (1.5), so the two decision flags witness both
#: sides of the threshold in one result.
_CMP_TARGET = 1_000_000
_CMP_FILES = 400


@query(
    "compaction_plan_ffd",
    f"""
    WITH RECURSIVE picked AS (
      SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_CMP_FILES}
    ), sized AS (
      SELECT 'f' || CAST(doc_id AS VARCHAR) AS path,
             CASE WHEN doc_id % 29 = 0
                  THEN {_CMP_TARGET} + ('0x' || substr(md5('cmpsize|spark-graft|'
                       || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 500000
                  ELSE 1 + ('0x' || substr(md5('cmpsize|spark-graft|'
                       || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 700000
             END AS sz
      FROM picked
    ), files AS (
      SELECT path, sz, row_number() OVER (ORDER BY sz DESC, path) AS rn
      FROM sized
    ), steps AS (
      SELECT 0 AS i, CAST([] AS BIGINT[]) AS fills, CAST([] AS INT[]) AS assign
      UNION ALL
      SELECT s.i + 1,
             CASE WHEN p.pos IS NULL THEN list_append(s.fills, f.sz)
                  ELSE list_transform(s.fills,
                         (u, j) -> CASE WHEN j = p.pos THEN u + f.sz
                                        ELSE u END)
             END,
             list_append(s.assign, CAST(coalesce(p.pos, len(s.fills) + 1) AS INT))
      FROM steps s
      JOIN files f ON f.rn = s.i + 1
      CROSS JOIN LATERAL (
        SELECT CASE WHEN f.sz >= {_CMP_TARGET} THEN NULL
                    ELSE nullif(list_position(
                           list_transform(s.fills,
                             u -> u + f.sz <= {_CMP_TARGET}
                                  AND u < {_CMP_TARGET}),
                           true), 0)
               END AS pos) p
    ), final AS (
      SELECT assign FROM steps WHERE i = (SELECT count(*) FROM files)
    ), assigned AS (
      SELECT f.path, f.sz, a.grp
      FROM files f
      JOIN (SELECT unnest(assign) AS grp,
                   generate_subscripts(assign, 1) AS rn
            FROM final) a USING (rn)
    ), decision AS (
      SELECT CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(sz) AS BIGINT) AS total_bytes,
             CAST(greatest(1, (CAST(sum(sz) AS BIGINT) + {_CMP_TARGET - 1})
                              // {_CMP_TARGET}) AS BIGINT) AS ideal_files
      FROM sized
    ), flags AS (
      SELECT n_files, total_bytes, ideal_files,
             round(n_files / CAST(ideal_files AS DOUBLE), 1)
               AS filecount_ratio,
             (n_files / CAST(ideal_files AS DOUBLE) > 4.0
              AND n_files - ideal_files >= 64) AS compact_default,
             (n_files / CAST(ideal_files AS DOUBLE) > 1.5
              AND n_files - ideal_files >= 64) AS compact_objstore
      FROM decision
    )
    SELECT a.path, CAST(a.sz AS BIGINT) AS sz_bytes, a.grp,
           CAST(count(*) OVER (PARTITION BY a.grp) AS BIGINT)
             AS group_n_files,
           CAST(sum(a.sz) OVER (PARTITION BY a.grp) AS BIGINT)
             AS group_bytes,
           a.sz >= {_CMP_TARGET} AS oversize,
           f.n_files, f.total_bytes, f.ideal_files, f.filecount_ratio,
           f.compact_default, f.compact_objstore
    FROM assigned a CROSS JOIN flags f
    """,
    "Driver gate for operators/compaction.py — the first-fit-decreasing "
    "plan (compaction_plan) and the compact/skip decision "
    "(should_compact) replayed value-for-value by a recursive-CTE FFD "
    "in DuckDB (r17 verdict 'Next round' #3; the unrolled-loop oracle "
    "family). A 400-file (path, size) metadata relation is derived from "
    "the documents table by portable md5 algebra (sizes span open-bin "
    "fits, new-bin fallbacks, and ~3% oversize singletons); the REAL "
    "planner runs driver-side — exactly its production deployment, "
    "where the input is a driver-side file listing — and the result "
    "carries every per-file bin assignment (group id in bin-creation "
    "order, group fill, oversize flag) plus both decision branches: "
    "compact_default (local slack 4.0 — False here, ratio ~2.6) and "
    "compact_objstore (slack 1.5 — True), so one hash match pins the "
    "full FFD placement sequence AND the threshold algebra either side "
    "of the measured break-even. The bounded 400-row collect IS the "
    "operator's contract (metadata-only planner; listings are "
    "file-count-sized, never data-sized).",
)
def compaction_plan_ffd(spark, sf_dir):
    import hashlib

    from amsterdam_map_data_wrangling_spark.operators.compaction import (
        compaction_plan,
        should_compact,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    ids = [
        r.doc_id
        for r in documents.select("doc_id")
        .orderBy("doc_id")
        .limit(_CMP_FILES)
        .collect()
    ]

    def h(i: int) -> int:
        return int(
            hashlib.md5(f"cmpsize|spark-graft|{i}".encode()).hexdigest()[:15],
            16,
        )

    sizes = [
        (
            f"f{i}",
            (_CMP_TARGET + h(i) % 500_000)
            if i % 29 == 0
            else (1 + h(i) % 700_000),
        )
        for i in ids
    ]
    groups = compaction_plan(sizes, _CMP_TARGET)
    dec = should_compact(sizes, _CMP_TARGET)  # local slack 4.0
    dec_os = should_compact(sizes, _CMP_TARGET, filecount_slack=1.5)
    szmap = dict(sizes)
    rows = []
    for gi, paths in enumerate(groups, 1):
        gb = sum(szmap[p] for p in paths)
        for p in paths:
            rows.append(
                (
                    p,
                    szmap[p],
                    gi,
                    len(paths),
                    gb,
                    szmap[p] >= _CMP_TARGET,
                    dec["n_files"],
                    dec["total_bytes"],
                    dec["ideal_files"],
                    dec["filecount_ratio"],
                    dec["compact"],
                    dec_os["compact"],
                )
            )
    return spark.createDataFrame(
        rows,
        "path string, sz_bytes long, grp int, group_n_files long, "
        "group_bytes long, oversize boolean, n_files long, "
        "total_bytes long, ideal_files long, filecount_ratio double, "
        "compact_default boolean, compact_objstore boolean",
    )
