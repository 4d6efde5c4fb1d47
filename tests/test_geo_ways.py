"""geo_way_lengths: brute-force parity + plan shape.

The DuckDB oracle gate proves engine agreement; this file proves the
SEMANTICS against an independent pure-Python reimplementation (the
spatial_radius_pairs brute-force pattern): md5-portable node coords,
total (pos, ref) traversal order, per-segment haversine rounded to cm
before an integer sum, per-way integer bbox, top-500 total tie-break.
"""

from __future__ import annotations

import decimal
import hashlib
import math

from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES

from .conftest import SF_SMALL


def _coord(tag: str, key: int) -> int:
    h = hashlib.md5(f"geo-{tag}|spark-graft|{key}".encode()).hexdigest()[:15]
    return int(h, 16) % 100000


def _hav_m(lat_a, lon_a, lat_b, lon_b):
    s1 = math.sin(math.radians(lat_b - lat_a) / 2)
    s2 = math.sin(math.radians(lon_b - lon_a) / 2)
    h = s1 * s1 + math.cos(math.radians(lat_a)) * math.cos(
        math.radians(lat_b)
    ) * (s2 * s2)
    return 2.0 * 6371000.0 * math.asin(math.sqrt(h))


def test_geo_way_lengths_matches_brute_force(spark):
    import pyarrow.parquet as pq

    li = pq.read_table(
        f"{SF_SMALL}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_partkey"],
    ).to_pylist()

    ways: dict[int, list[tuple[int, int]]] = {}
    for r in li:
        ways.setdefault(r["l_orderkey"], []).append(
            (r["l_linenumber"], r["l_partkey"])
        )

    want = {}
    for way_id, refs in ways.items():
        if len(refs) < 2:
            continue
        refs.sort()  # total (pos, ref) traversal order
        pts = []
        for _pos, ref in refs:
            y, x = _coord("lat", ref), _coord("lon", ref)
            pts.append((y, x, 52.28 + y * 1.5e-6, 4.73 + x * 3e-6))
        length_cm = sum(
            # Python round() is half-to-even; Spark/DuckDB round
            # half-up. Decimal HALF_UP on the exact double reproduces
            # the engines' semantics exactly — floor(x*100 + 0.5) could
            # diverge in the rare case where the +0.5 addition itself
            # rounds across the boundary (r12 ADVICE)
            int(
                decimal.Decimal(_hav_m(a[2], a[3], b[2], b[3]) * 100)
                .quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP)
            )
            for a, b in zip(pts, pts[1:])
        )
        ys = [p[0] for p in pts]
        xs = [p[1] for p in pts]
        want[way_id] = (
            len(pts),
            length_cm,
            min(ys),
            max(ys),
            min(xs),
            max(xs),
        )

    top = sorted(want.items(), key=lambda kv: (-kv[1][1], kv[0]))[:500]
    want_rows = {(w, *v) for w, v in top}

    got_rows = {
        tuple(r)
        for r in QUERIES["geo_way_lengths"].build(spark, SF_SMALL).collect()
    }
    assert got_rows == want_rows


def test_geo_way_lengths_plan_one_way_shuffle_topk(spark):
    """The ref->nodes join must be hash-based (no BNLJ/cartesian), the
    lag window and the per-way rollup must SHARE one way_id exchange
    (same key — Catalyst reuses the clustering), and the top-500 must
    plan as TakeOrderedAndProject, never a global sort."""
    df = QUERIES["geo_way_lengths"].build(spark, SF_SMALL)
    df.collect()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # AQE's toString prints the final plan followed by the initial plan
    # — count the way_id exchange in the FINAL section only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning(way_id") == 1


def test_geo_nn_repartition_row_count_window(spark, tmp_path):
    """geo_nn_on_sphere's probe-side cell repartition follows the footer
    ROW COUNT (operators/layout.fanout_partitions): skipped below 50k
    points, fired at 60k. Both regimes pinned in the built plan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amsterdam_map_data_wrangling_spark.sources.fs import (
        parquet_num_rows,
    )

    # small regime: the shipped testdata (15k rows at sf0.1-shape
    # SF_SMALL it's fewer) — no probe-side hash exchange on the cells
    n_small = parquet_num_rows(f"{SF_SMALL}/customer.parquet")
    assert n_small is not None and n_small < 50_000
    plan_small = (
        QUERIES["geo_nn_on_sphere"]
        .build(spark, SF_SMALL)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Repartition" not in plan_small

    # large regime: a synthetic 60k-row customer table (only c_custkey
    # is consumed by the plan's point derivation)
    big_dir = tmp_path / "big_sf"
    big_dir.mkdir()
    pq.write_table(
        pa.table({"c_custkey": pa.array(range(60_000), type=pa.int64())}),
        str(big_dir / "customer.parquet"),
    )
    assert parquet_num_rows(str(big_dir / "customer.parquet")) == 60_000
    plan_big = (
        QUERIES["geo_nn_on_sphere"]
        .build(spark, str(big_dir))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "RepartitionByExpression [cy" in plan_big


def test_geo_nn_pack_decode_contract(spark):
    """r18 ADVICE: the packed-decimal top-1 aggregate assumes
    NON-NEGATIVE ids (a negative id wraps through pmod in the decode
    and breaks the lexicographic order). Pin (a) the exact pack/decode
    round-trip across the full non-negative int64 domain including both
    boundaries, and (b) that min(pack) picks the same winner as the
    (rounded-distance, id) struct order it replaces."""
    from pyspark.sql import functions as F

    from amsterdam_map_data_wrangling_spark.plans.geo import (
        _nn_decode,
        _nn_pack,
    )

    rows = [
        (0.0, 0),
        (0.01, 1),
        (250.0, 9223372036854775807),  # max int64 < 10^19: id field holds
        (123.45, 920_000_000_000_000),  # the shifted-key stress domain
        (249.99, 42),
    ]
    df = spark.createDataFrame(rows, "d double, nn_custkey bigint")
    got = (
        df.select(_nn_pack(F.col("d"), F.col("nn_custkey")).alias("m"))
        .select(*_nn_decode(F.col("m")))
        .collect()
    )
    assert sorted((r.dist_m, r.nn_custkey) for r in got) == sorted(rows)

    # min(pack) == pack of the struct-min (the aggregate's identity)
    winner = (
        df.agg(F.min(_nn_pack(F.col("d"), F.col("nn_custkey"))).alias("m"))
        .select(*_nn_decode(F.col("m")))
        .first()
    )
    assert (winner.dist_m, winner.nn_custkey) == (0.0, 0)

    # the documented precondition: ids in every geo_nn input domain are
    # non-negative (customer keys; the stress suite shifts POSITIVE).
    # A negative id does NOT round-trip — this pins WHY the contract
    # exists; widening the id domain requires a new packing. Two
    # failure modes: |id| small → pmod lands just under 10^19, ABOVE
    # int64, and the ANSI cast fails LOUD;
    import pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    neg = spark.createDataFrame([(1.0, -5)], "d double, nn_custkey bigint")
    with pytest.raises(ArithmeticException, match="CAST_OVERFLOW"):
        neg.select(_nn_pack(F.col("d"), F.col("nn_custkey")).alias("m")).select(
            *_nn_decode(F.col("m"))
        ).first()

    # ... |id| large (pmod under 2^63) → silently WRONG value
    neg2 = spark.createDataFrame(
        [(1.0, -2_000_000_000_000_000_000)], "d double, nn_custkey bigint"
    )
    decoded = (
        neg2.select(_nn_pack(F.col("d"), F.col("nn_custkey")).alias("m"))
        .select(*_nn_decode(F.col("m")))
        .first()
    )
    assert decoded.nn_custkey != -2_000_000_000_000_000_000
