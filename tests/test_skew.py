"""Salted join: identical results to the plain join on a pathologically
skewed key distribution, with the join key spread over salt buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.operators.skew import salted_join


def test_salted_join_equals_plain_join(spark):
    # 90% of fact rows share one hot key
    big = spark.range(20_000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 2).alias("payload"),
    )
    small = spark.range(100).select(
        F.col("id").alias("sk"), F.concat(F.lit("dim_"), F.col("id")).alias("name")
    )
    plain = big.join(small, big.k == small.sk).select("k", "payload", "name")
    salted = salted_join(big, small, "k", "sk", buckets=8).select(
        "k", "payload", "name"
    )
    assert salted.count() == plain.count()
    assert salted.subtract(plain).count() == 0
    assert plain.subtract(salted).count() == 0


def test_salted_join_left_keeps_unmatched(spark):
    big = spark.range(100).select((F.col("id") % 150).alias("k"))
    small = spark.range(50).select(F.col("id").alias("sk"))
    out = salted_join(big, small, "k", "sk", buckets=4, how="left")
    assert out.count() == 100
    assert out.filter(F.col("sk").isNull()).count() == big.filter(
        F.col("k") >= 50
    ).count()


def test_salted_agg_equals_plain_agg_on_hot_key(spark):
    """Two-stage salted aggregation must equal the plain groupBy on a
    90%-hot-key distribution, for both count and sum."""
    from amsterdam_map_data_wrangling_spark.operators.skew import salted_agg

    df = spark.range(20_000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("salt_src"),
        (F.col("id") % 13).cast("double").alias("v"),
    )
    plain = df.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv")
    )
    salted = salted_agg(
        df, key="k", salt_col="salt_src", aggs={"n": "count", "sv": "sum:v"}
    )
    p = {r.k: (r.n, round(r.sv, 6)) for r in plain.collect()}
    s = {r.k: (r.n, round(r.sv, 6)) for r in salted.collect()}
    assert p == s


def test_salted_join_rejects_small_preserving_how(spark):
    """right/full/semi/anti would duplicate unmatched small-side replicas
    (the small side is replicated x buckets) — must fail loudly."""
    import pytest

    big = spark.range(10).withColumnRenamed("id", "k")
    small = spark.range(5).withColumnRenamed("id", "sk")
    for how in ("right", "full", "outer", "left_semi", "left_anti"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "k", "sk", buckets=4, how=how)


def test_trailing_range_window_matches_naive_window(spark):
    """The chunked segmented window (r14, the Zipf-soak window-wall
    fix) must be value-identical to the one-partition-per-key naive
    window — including rows exactly at chunk boundaries, same-day ties
    straddling chunks, and frames that span the chunk seam."""
    import random

    from pyspark.sql import Window, functions as F

    from amsterdam_map_data_wrangling_spark.operators.skew import (
        trailing_range_window,
    )

    rng = random.Random(17)
    rows = []
    rid = 0
    for k in range(5):
        for _ in range(200):
            # order values hugging multiples of the 31-wide chunk so
            # boundary frames are exercised, plus ties
            d = rng.choice(
                [rng.randrange(0, 200)] * 3
                + [31, 62, 30, 61, 32, 0, 93, 124]
            )
            rows.append((k, rid, d, rng.randrange(1, 1000)))
            rid += 1
    df = spark.createDataFrame(rows, "k long, rid long, d long, cents long")

    got = {
        (r.k, r.rid): (r.s, r.c)
        for r in trailing_range_window(
            df,
            "k",
            "d",
            30,
            {
                "s": lambda w: F.sum("cents").over(w),
                "c": lambda w: F.count("*").over(w),
            },
        ).collect()
    }
    w = Window.partitionBy("k").orderBy("d").rangeBetween(-30, Window.currentRow)
    want = {
        (r.k, r.rid): (r.s, r.c)
        for r in df.select(
            "k",
            "rid",
            F.sum("cents").over(w).alias("s"),
            F.count("*").over(w).alias("c"),
        ).collect()
    }
    assert got == want
    assert len(got) == len(rows)


def test_chunked_gap_sessionize_matches_naive_idiom(spark):
    """sess_idx must equal the classic per-key lag+cumsum idiom —
    including sessions that span chunk boundaries, users whose previous
    event is MANY chunks back, tied timestamps, and single-event
    users."""
    import random

    from pyspark.sql import Window, functions as F

    from amsterdam_map_data_wrangling_spark.operators.skew import (
        chunked_gap_sessionize,
    )

    rng = random.Random(23)
    rows = []
    eid = 0
    CH = 1_000_000  # 1 s chunks so the fixture spans many chunks
    for k in range(8):
        t = rng.randrange(0, 2 * CH)
        for _ in range(rng.choice([1, 5, 120])):
            # mix: sub-gap steps, exact-gap boundary, >gap jumps, long
            # silences spanning several empty chunks, and exact ties
            t += rng.choice([0, 1, 9_999, 10_000, 10_001, 5 * CH])
            rows.append((k, eid, t))
            eid += 1
    df = spark.createDataFrame(rows, "k long, eid long, us long")
    GAP = 10_000

    got = {
        (r.k, r.eid): r.sess_idx
        for r in chunked_gap_sessionize(
            df, "k", "us", "eid", gap_us=GAP, chunk_us=CH
        ).collect()
    }
    w = Window.partitionBy("k").orderBy("us", "eid")
    lag = F.lag("us").over(w)
    naive = {
        (r.k, r.eid): r.sess_idx
        for r in df.select(
            "k",
            "eid",
            F.sum(
                F.when(lag.isNull() | (F.col("us") - lag > GAP), 1).otherwise(0)
            )
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("sess_idx"),
        ).collect()
    }
    assert got == naive
    assert len(got) == len(rows)


def test_chunked_lag_matches_naive_window(spark):
    """prev-order values must equal the classic per-key lag — including
    the first row of each chunk (predecessor many chunks back), tied
    order values at chunk boundaries, and single-row keys."""
    import random

    from pyspark.sql import Window, functions as F

    from amsterdam_map_data_wrangling_spark.operators.skew import chunked_lag

    rng = random.Random(29)
    rows = []
    rid = 0
    W = 1_000
    for k in range(7):
        t = rng.randrange(0, 2 * W)
        for _ in range(rng.choice([1, 4, 90])):
            t += rng.choice([0, 0, 1, 37, W, 3 * W])  # ties + long silences
            rows.append((k, rid, t))
            rid += 1
    df = spark.createDataFrame(rows, "k long, rid long, t long")

    got = {
        (r.k, r.rid): r.prev_t
        for r in chunked_lag(df, "k", "t", "rid", W, "prev_t").collect()
    }
    w = Window.partitionBy("k").orderBy("t", "rid")
    naive = {
        (r.k, r.rid): r.prev_t
        for r in df.select(
            "k", "rid", F.lag("t").over(w).alias("prev_t")
        ).collect()
    }
    assert got == naive
    assert len(got) == len(rows)


def test_chunk_id_exact_at_large_domains_and_loud_on_null(spark):
    """r14 ADVICE closure: (a) chunk ids are exact integer arithmetic —
    the old F.floor(col / lit(width)) double division mis-chunks where
    col/width loses precision past 2^53; (b) a NULL order value raises
    loudly instead of being silently dropped at the chunked operators'
    stats join (the naive windows keep NULL-ordered rows)."""
    import pytest
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.operators.skew import (
        _chunk_id,
        chunked_lag,
    )

    # (a) values around 2^60 with a small width: double division puts
    # col/width (~2^53+) past the exact-integer range, so floor() can
    # land on the wrong side; exact div must match Python's semantics
    # (truncation toward zero — the domain here is non-negative).
    width = 97
    vals = [2**60 - 1, 2**60, 2**60 + width - 1, 2**62 + 12345, 0, width - 1]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r.v: r.c
        for r in df.select("v", _chunk_id("v", width).alias("c")).collect()
    }
    assert got == {v: v // width for v in vals}
    # and the old double path is provably NOT exact on this domain —
    # the advice described a real failure mode, not a style nit
    dbl = {
        r.v: r.c
        for r in df.select(
            "v", F.floor(F.col("v") / F.lit(width)).alias("c")
        ).collect()
    }
    assert dbl != got, "fixture no longer exercises the double cliff"

    # (b) NULL order value: loud error, not a silent row drop
    bad = spark.createDataFrame(
        [(1, 1, 10), (1, 2, None)], "k long, rid long, t long"
    )
    with pytest.raises(Exception) as ei:
        chunked_lag(bad, "k", "t", "rid", 1000, "prev_t").collect()
    assert "NULL in order column" in str(ei.value)


def test_chunked_levers_keep_null_key_rows(spark):
    """r15 high-null soak closure: the naive per-key window groups
    NULL-keyed rows into one partition like any other key, so the
    chunked forms must keep them too — a plain equi-join on the key
    would silently drop the whole NULL slice (exactly the 50%-missing-
    user-id corpus where the lever matters most). Value identity with
    the naive idioms, on a fixture where half the keys are NULL."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.operators.skew import (
        chunked_gap_sessionize,
        chunked_lag,
    )

    W = 1_000
    rows, rid = [], 0
    for k in [None, 1, None, 2, None]:
        t = 17
        for _ in range(40):
            t += (rid * 7919) % (3 * W)  # gaps straddle chunk widths
            rows.append((k, rid, t))
            rid += 1
    df = spark.createDataFrame(rows, "k long, rid long, t long")
    n_null = sum(1 for r in rows if r[0] is None)
    assert n_null > 0

    got_lag = {
        (r.k, r.rid): r.prev_t
        for r in chunked_lag(df, "k", "t", "rid", W, "prev_t").collect()
    }
    w = Window.partitionBy("k").orderBy("t", "rid")
    want_lag = {
        (r.k, r.rid): r.prev_t
        for r in df.select(
            "k", "rid", F.lag("t").over(w).alias("prev_t")
        ).collect()
    }
    assert got_lag == want_lag and len(got_lag) == len(rows)

    gap = 2 * W
    got_sess = {
        (r.k, r.rid): r.sess_idx
        for r in chunked_gap_sessionize(df, "k", "t", "rid", gap, W).collect()
    }
    lag_t = F.lag("t").over(w)
    flag = F.when(lag_t.isNull() | (F.col("t") - lag_t > gap), 1).otherwise(0)
    want_sess = {
        (r.k, r.rid): r.sess_idx
        for r in df.select(
            "k",
            "rid",
            F.sum(flag)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("sess_idx"),
        ).collect()
    }
    assert got_sess == want_sess and len(got_sess) == len(rows)


def test_null_adaptive_window_plans_match_oracle_on_half_null_corpus(
    spark, tmp_path
):
    """The four key-density plans take their chunked twin on a
    half-null corpus and must stay green against their UNCHANGED DuckDB
    oracles (which replay the naive idiom, NULL keys grouped like any
    other key)."""
    import datetime

    import duckdb
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES
    from amsterdam_map_data_wrangling_spark.sources.fs import (
        parquet_col_null_frac,
    )

    t0 = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for eid in range(800):
        uid = None if eid % 2 == 0 else (eid % 7)
        ts = t0 + datetime.timedelta(
            seconds=(eid * 977) % 90_000, microseconds=(eid * 131) % 1000
        )
        rows.append(
            (eid, uid, ts, ["click", "view", "purchase", "view", "error"][eid % 5])
        )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    sf = tmp_path / "nullev"
    df.write.mode("overwrite").parquet(str(sf / "events.parquet"))
    nf = parquet_col_null_frac(str(sf / "events.parquet"), "user_id")
    assert nf is not None and nf > 0.4, "footer probe must see the nulls"

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet/*.parquet')"
    )
    from tests.oracle import compare

    for name in (
        "gap_sessionization",
        "event_gap_stats",
        "funnel_conversion",
        "session_window_per_user",
    ):
        q = QUERIES[name]
        df = q.build(spark, str(sf))
        compare(df, con, q.oracle)  # the driver-mirror value gate
        assert df.count() > 0, name


def test_chunked_staged_funnel_matches_naive_chain(spark):
    """The chunked state-machine funnel must equal the naive chained
    running-max flags on a fixture exercising every transfer branch:
    stages split across chunks in every order (view|click|purchase in
    different chunks, qualifying and non-qualifying orderings),
    out-of-order stages (purchase before view), ties at chunk
    boundaries, NULL keys, and single-event users."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.operators.skew import (
        chunked_staged_funnel,
    )

    rng = random.Random(41)
    CH = 1_000
    rows, eid = [], 0
    keys = [None, 1, 2, 3, 4, 5, 6, 7, 8, 9]
    for k in keys:
        t = rng.randrange(0, 2 * CH)
        for _ in range(rng.choice([1, 3, 30])):
            t += rng.choice([0, 1, CH // 2, CH, 3 * CH])
            st = rng.choice(
                ["view", "click", "purchase", "error", "view", "click"]
            )
            rows.append((k, eid, t, st))
            eid += 1
    # deterministic hard cases: qualifying order split across chunks,
    # and the non-qualifying purchase-first ordering
    rows += [
        (20, eid, 10, "view"), (20, eid + 1, 10 + 3 * CH, "click"),
        (20, eid + 2, 10 + 6 * CH, "purchase"),
        (21, eid + 3, 10, "purchase"), (21, eid + 4, 10 + 3 * CH, "click"),
        (21, eid + 5, 10 + 6 * CH, "view"),
        (22, eid + 6, 10, "click"), (22, eid + 7, 10 + 3 * CH, "view"),
        (22, eid + 8, 10 + 3 * CH, "purchase"),  # tie with the view
    ]
    df = spark.createDataFrame(rows, "k long, eid long, t long, st string")

    got = {
        r.k: (r.m1, r.m2, r.m3)
        for r in chunked_staged_funnel(
            df, "k", "t", "eid", "st", ("view", "click", "purchase"), CH
        ).collect()
    }
    w = (
        Window.partitionBy("k")
        .orderBy("t", "eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = df.withColumn("r1", F.max((F.col("st") == "view").cast("int")).over(w))
    s = s.withColumn(
        "r2",
        F.max(((F.col("st") == "click") & (F.col("r1") == 1)).cast("int")).over(w),
    )
    s = s.withColumn(
        "r3",
        F.max(
            ((F.col("st") == "purchase") & (F.col("r2") == 1)).cast("int")
        ).over(w),
    )
    want = {
        r.k: (r.m1, r.m2, r.m3)
        for r in s.groupBy("k")
        .agg(
            F.max("r1").alias("m1"),
            F.max("r2").alias("m2"),
            F.max("r3").alias("m3"),
        )
        .collect()
    }
    assert got == want and len(got) == len(keys) + 3
    # the deterministic cases must land where the state machine says
    assert want[20] == (1, 1, 1) and want[21][2] == 0 and None in got
