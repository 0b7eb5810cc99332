"""Differential tests for functions/ranking: the distributed,
WindowExec-free decompositions must reproduce their single-partition
window oracles EXACTLY — ranks, tiles, prefix sums, and top-n — on
adversarial value distributions (ties, skew, negatives, constants)."""

from __future__ import annotations

import datetime
import re

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_iceberg_automation_spark.functions.ranking import (
    global_ntile,
    global_row_number,
    partitioned_prefix_sums,
    topn_ranked,
)


@pytest.fixture(scope="module")
def skewed(spark):
    """600 rows: heavy ties (v in 0..9 for most), a skew spike, and
    negatives — the distributions that break naive bucketing."""
    return (
        spark.range(600)
        .select(
            F.col("id"),
            F.when(F.col("id") < 500, (F.col("id") % 10).cast("double"))
            .when(F.col("id") < 580, F.lit(7.0))  # spike on one value
            .otherwise(-(F.col("id").cast("double")))  # negative tail
            .alias("v"),
        )
    )


def test_global_row_number_matches_window(skewed):
    got = global_row_number(skewed, F.col("v"), [F.col("id")], n_buckets=8)
    w = Window.orderBy("v", "id")
    want = skewed.withColumn("rk", F.row_number().over(w).cast("bigint"))
    assert sorted(map(tuple, got.select("id", "v", "rk").collect())) == sorted(
        map(tuple, want.select("id", "v", "rk").collect())
    )


@pytest.mark.parametrize("k", [3, 10, 20])
def test_global_ntile_matches_window(skewed, k):
    got = global_ntile(skewed, F.col("v"), [F.col("id")], k, n_buckets=8)
    w = Window.orderBy("v", "id")
    want = skewed.withColumn("bucket", F.ntile(k).over(w))
    assert sorted(map(tuple, got.select("id", "bucket").collect())) == sorted(
        map(tuple, want.select("id", "bucket").collect())
    )


def test_global_ntile_fewer_rows_than_tiles(spark):
    small = spark.range(4).select("id", F.col("id").cast("double").alias("v"))
    got = global_ntile(small, F.col("v"), [F.col("id")], 10, n_buckets=4)
    w = Window.orderBy("v", "id")
    want = small.withColumn("bucket", F.ntile(10).over(w))
    assert sorted(map(tuple, got.select("id", "bucket").collect())) == sorted(
        map(tuple, want.select("id", "bucket").collect())
    )


def test_partitioned_prefix_sums_matches_window(spark):
    # unique values per row (the helper's precondition — 199 rows with
    # a multiplier coprime to 199, so id*37 % 199 is a bijection), two
    # sum columns
    df = spark.range(199).select(
        (F.col("id") * 37 % 199).cast("double").alias("val"),
        (F.col("id") % 5).alias("a"),
        (F.col("id") % 3).alias("b"),
    )
    got = partitioned_prefix_sums(df, F.col("val"), ["a", "b"], n_buckets=8)
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "val",
        F.sum("a").over(w).alias("cum_a"),
        F.sum("b").over(w).alias("cum_b"),
    )
    assert sorted(
        map(tuple, got.select("val", "cum_a", "cum_b").collect())
    ) == sorted(map(tuple, want.select("val", "cum_a", "cum_b").collect()))


def test_topn_ranked_matches_window(skewed):
    got = topn_ranked(skewed, [F.col("v").desc(), F.col("id")], 25)
    w = Window.orderBy(F.col("v").desc(), "id")
    want = (
        skewed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 25)
    )
    assert sorted(map(tuple, got.select("id", "v", "rk").collect())) == sorted(
        map(tuple, want.select("id", "v", "rk").collect())
    )


def test_no_single_partition_window_in_plans(skewed):
    # topn_ranked is fully windowless
    top = topn_ranked(skewed, [F.col("v").desc(), F.col("id")], 25)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the rank/tile/prefix decompositions use windows, but every one is
    # PARTITIONED (by _bucket) — a windowspecdefinition with an empty
    # partition list would print no partition columns before the sort spec
    for frame in (
        global_row_number(skewed, F.col("v"), [F.col("id")], n_buckets=8),
        global_ntile(skewed, F.col("v"), [F.col("id")], 10, n_buckets=8),
        partitioned_prefix_sums(
            skewed.select(
                F.col("id").cast("double").alias("val"), F.lit(1).alias("c")
            ),
            F.col("val"),
            ["c"],
            n_buckets=8,
        ),
    ):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "windowspecdefinition" in line:
                assert "windowspecdefinition(_bucket" in line, line


def test_grouped_row_number_matches_window(skewed):
    """grouped_row_number must equal row_number() PARTITION BY group on
    the same adversarial distribution, split into 3 uneven groups."""
    from aws_iceberg_automation_spark.functions.ranking import (
        grouped_row_number,
    )

    g = skewed.withColumn(
        "grp",
        F.when(F.col("id") % 7 == 0, "a")
        .when(F.col("id") % 3 == 0, "b")
        .otherwise("c"),
    )
    got = grouped_row_number(
        g, ["grp"], F.col("v"), [F.col("id")], n_buckets=8
    )
    w = Window.partitionBy("grp").orderBy("v", "id")
    want = g.withColumn("rk", F.row_number().over(w).cast("bigint"))
    assert sorted(
        map(tuple, got.select("grp", "id", "v", "rk").collect())
    ) == sorted(map(tuple, want.select("grp", "id", "v", "rk").collect()))


def test_grouped_row_number_single_row_groups(spark):
    """Degenerate groups (one row each) all rank 1."""
    from aws_iceberg_automation_spark.functions.ranking import (
        grouped_row_number,
    )

    df = spark.createDataFrame(
        [("a", 5.0, 1), ("b", -2.0, 2), ("c", 0.0, 3)], "grp string, v double, id int"
    )
    got = grouped_row_number(df, ["grp"], F.col("v"), [F.col("id")])
    assert {(r.grp, r.rk) for r in got.collect()} == {
        ("a", 1), ("b", 1), ("c", 1)
    }


def test_grouped_row_number_null_group_kept(spark):
    """A NULL group key is a real group (PARTITION BY semantics): its
    rows must rank 1..n, not silently vanish (review finding r4)."""
    from aws_iceberg_automation_spark.functions.ranking import (
        grouped_row_number,
    )

    df = spark.createDataFrame(
        [(None, 1.0, 1), (None, 2.0, 2), ("a", 3.0, 3)],
        "grp string, v double, id int",
    )
    got = {(r.grp, r.id): r.rk for r in grouped_row_number(
        df, ["grp"], F.col("v"), [F.col("id")]).collect()}
    assert got == {(None, 1): 1, (None, 2): 2, ("a", 3): 1}


# ---------------------------------------------------------------- r11:
# single-pass exact-histogram bucketization (ranking._cells_hist_*).


def _int_cells(spark, vals):
    from aws_iceberg_automation_spark.functions.ranking import _int_cell_sql

    df = spark.createDataFrame([(v,) for v in vals], "v bigint")
    return df.select("v", F.expr(_int_cell_sql("v")).alias("c")).collect()


def _dbl_cells(spark, vals):
    from aws_iceberg_automation_spark.functions.ranking import (
        _dbl_bits_sql,
        _dbl_cell_sql,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    return (
        df.select("v", F.expr(_dbl_bits_sql("v")).alias("b"))
        .select("v", F.expr(_dbl_cell_sql("b")).alias("c"))
        .collect()
    )


def test_int_cell_monotone_and_invertible(spark):
    """The integer cell map must be exactly monotone (v1 <= v2 ⇒
    cell(v1) <= cell(v2)) over adversarial int64s, and the Python
    inverse must return the true minimum of each cell — the property
    the value-space bucket thresholds rely on."""
    import random

    from aws_iceberg_automation_spark.functions.ranking import _int_cell_min

    rng = random.Random(11)
    vals = [
        -(2**63), -(2**63) + 1, -(2**62), -1025, -1024, -1023, -2, -1,
        0, 1, 2, 9, 10, 1023, 1024, 1025, 2**52, 2**53, 2**62,
        2**63 - 2, 2**63 - 1,
    ]
    vals += [rng.randint(-(2**63), 2**63 - 1) for _ in range(400)]
    vals += [rng.randint(-3000, 3000) for _ in range(400)]
    rows = sorted(_int_cells(spark, sorted(set(vals))), key=lambda r: r.v)
    for a, b in zip(rows, rows[1:]):
        assert a.c <= b.c, f"cell order broke: {a} vs {b}"
    # inverse: min value observed per cell must be >= _int_cell_min,
    # and the threshold must itself land in (no earlier than) its cell
    per_cell: dict[int, int] = {}
    for r in rows:
        per_cell[r.c] = min(per_cell.get(r.c, r.v), r.v)
    thresholds = [_int_cell_min(c) for c in per_cell]
    trows = {r.v: r.c for r in _int_cells(spark, sorted(set(thresholds)))}
    for c, vmin in per_cell.items():
        t = _int_cell_min(c)
        assert t <= vmin, f"threshold {t} above cell {c} min {vmin}"
        assert trows[t] == c, f"cell(_int_cell_min({c})) = {trows[t]}"


def test_dbl_cell_monotone_and_invertible(spark):
    """Same exactness contract for the IEEE-bits double cell map,
    including ±0.0, denormals and infinities; NaN gets the top cell,
    above +∞ (where Spark orders it and the CASE-sum buckets it), and
    NULL a NULL cell."""
    import math
    import random
    import struct

    from aws_iceberg_automation_spark.functions.ranking import _dbl_cell_min

    rng = random.Random(12)
    vals = [
        float("-inf"), -1.8e308, -1.5, -1e-310, -0.0, 0.0, 5e-324,
        1e-310, 1.0, 1.0000000000000002, 1.5, math.pi, 1e300, 1.8e308,
        float("inf"),
    ]
    for _ in range(400):
        bits = rng.getrandbits(64)
        v = struct.unpack("<d", struct.pack("<Q", bits))[0]
        if not math.isnan(v):
            vals.append(v)
    vals += [rng.uniform(-10, 10) for _ in range(300)]
    vals = sorted(set(vals))
    rows = sorted(_dbl_cells(spark, vals), key=lambda r: r.v)
    for a, b in zip(rows, rows[1:]):
        assert a.c <= b.c, f"cell order broke: {a} vs {b}"
    assert rows[0].v == float("-inf") and rows[-1].v == float("inf")
    # -0.0 and 0.0 share a cell
    zero_cells = {r.c for r in rows if r.v == 0.0}
    assert len(zero_cells) == 1
    # NaN sits alone in the top cell, whose threshold is NaN itself;
    # NULL gets a NULL cell
    nan_c, null_c = (r.c for r in _dbl_cells(spark, [float("nan"), None]))
    assert nan_c > rows[-1].c and null_c is None
    assert math.isnan(_dbl_cell_min(nan_c))
    # inverse: threshold at or below every member, same cell
    per_cell: dict[int, float] = {}
    for r in rows:
        per_cell[r.c] = min(per_cell.get(r.c, r.v), r.v)
    ts = sorted({_dbl_cell_min(c) for c in per_cell})
    trows = {r.v: r.c for r in _dbl_cells(spark, ts)}
    for c, vmin in per_cell.items():
        t = _dbl_cell_min(c)
        assert t <= vmin
        assert trows[t] == c


_DTYPES = ["bigint", "int", "float", "double", "date"]
_EPOCH = datetime.date(1970, 1, 1)


def _edge_frame(spark, dt):
    """400 rows of ``(id, v, m)``: heavy ties (id % 7), a skew spike on
    3 and a negative tail, a NULL every 50 ids, and the dtype's edge
    values on fixed ids — NaN, ±∞, ±0.0 and denormals for float types,
    the int64 extremes for bigint. DATE maps the integers to days
    around the epoch."""
    i = F.col("id")
    body = F.when(i < 250, i % 7).when(i < 320, F.lit(3)).otherwise(-i)
    if dt == "date":
        v = F.date_add(F.lit(_EPOCH), body.cast("int"))
    else:
        v = body.cast(dt)
    edges = [(i % 50 == 1, F.lit(None))]
    if dt in ("float", "double"):
        edges += [
            (i % 50 == 2, F.lit(float("nan"))),
            # -0.0 from arithmetic, not a literal (codegen CSE bug, r10)
            (i % 50 == 3, -(i * 0).cast("double")),
            (i == 5, F.lit(float("inf"))),
            (i == 6, F.lit(float("-inf"))),
            (i == 8, F.lit(5e-324)),
            (i == 9, F.lit(-5e-324)),
            (i == 10, F.lit(1e-40)),  # denormal as a float
        ]
    if dt == "bigint":
        edges += [
            (i == 5, F.lit(2**63 - 1)),
            (i == 6, F.lit(-(2**63))),
            (i == 7, F.lit(-(2**63) + 1)),
            (i == 8, F.lit(2**63 - 2)),
        ]
    for cond, lit in edges:
        v = F.when(cond, lit.cast(dt)).otherwise(v)
    return spark.range(400).select("id", v.alias("v"), (i % 13).alias("m"))


def _numpy_order(rows, dt):
    """Ids in ``ORDER BY v ASC NULLS FIRST, id`` order by np.lexsort
    (NaN sorts after +∞ in NumPy as in Spark; -0.0 == 0.0 in both)."""
    ids = np.array([r.id for r in rows], dtype=np.int64)
    not_null = np.array([r.v is not None for r in rows])
    if dt == "date":
        vals = np.array(
            [0 if r.v is None else (r.v - _EPOCH).days for r in rows],
            dtype=np.int64,
        )
    else:
        vals = np.array(
            [0 if r.v is None else r.v for r in rows],
            dtype=np.float64 if dt in ("float", "double") else np.int64,
        )
    return ids[np.lexsort((ids, vals, not_null))]


@pytest.mark.parametrize("dt", _DTYPES)
def test_helpers_match_window_and_numpy_reference(spark, dt):
    """All four global helpers against their window forms AND a NumPy
    lexsort reference, on ties, a spike, negatives, NULL, NaN, ±∞,
    ±0.0, denormals and int64 extremes. Compared as {id: value} maps
    (a NaN row tuple never equals itself)."""
    from aws_iceberg_automation_spark.functions.ranking import global_ntiles

    df = _edge_frame(spark, dt)
    k = 7
    rows = df.collect()
    order = _numpy_order(rows, dt)
    m_of = {r.id: r.m for r in rows}
    ref_rk = {int(j): p + 1 for p, j in enumerate(order)}
    ref_tile = {
        int(j): t + 1
        for t, part in enumerate(np.array_split(order, k))
        for j in part
    }
    ref_cum = dict(
        zip(map(int, order), np.cumsum([m_of[int(j)] for j in order]).tolist())
    )

    v, tb = F.col("v"), [F.col("id")]
    w = Window.orderBy(v.asc_nulls_first(), "id")
    win = {
        r.id: (r.rk, r.t, r.cum)
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rk"),
            F.ntile(k).over(w).alias("t"),
            F.sum("m").over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cum"),
        ).collect()
    }
    assert {j: x[0] for j, x in win.items()} == ref_rk
    assert {j: x[1] for j, x in win.items()} == ref_tile
    assert {j: x[2] for j, x in win.items()} == ref_cum

    def got(frame, col):
        return {r.id: r[col] for r in frame.select("id", col).collect()}

    nb = 8
    assert got(global_row_number(df, v, tb, n_buckets=nb), "rk") == ref_rk
    assert got(global_ntile(df, v, tb, k, n_buckets=nb), "bucket") == ref_tile
    nts = global_ntiles(
        df, [(v, "t_v"), (-F.col("id"), "t_neg")], tb, k, n_buckets=nb
    )
    assert got(nts, "t_v") == ref_tile
    ref_neg = {
        int(j): t + 1
        for t, part in enumerate(np.array_split(sorted(m_of, reverse=True), k))
        for j in part
    }
    assert got(nts, "t_neg") == ref_neg
    ps = partitioned_prefix_sums(df, v, ["m"], n_buckets=nb, tiebreaks=tb)
    assert got(ps, "cum_m") == ref_cum


@pytest.mark.parametrize("dt", _DTYPES)
def test_each_helper_builds_with_one_eager_job(spark, dt):
    """Building any global helper launches exactly ONE eager job (the
    histogram collect), DATE included. AQE is off while counting so
    one collect is one job rather than one job per shuffle stage."""
    from aws_iceberg_automation_spark.functions.ranking import global_ntiles

    df = _edge_frame(spark, dt)
    v, tb = F.col("v"), [F.col("id")]
    builds = {
        "global_row_number": lambda: global_row_number(df, v, tb),
        "global_ntile": lambda: global_ntile(df, v, tb, 5),
        "global_ntiles": lambda: global_ntiles(
            df, [(v, "a"), (F.col("m"), "b")], tb, 5
        ),
        "partitioned_prefix_sums": lambda: partitioned_prefix_sums(
            df, v, ["m"], tiebreaks=tb
        ),
    }
    tracker = spark.sparkContext.statusTracker()
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for name, build in builds.items():
            before = tracker.getJobIdsForGroup(None)
            hi = max(before) if before else -1
            build()
            n = len([j for j in tracker.getJobIdsForGroup(None) if j > hi])
            assert n == 1, f"{name} on {dt}: {n} eager jobs"
    finally:
        spark.conf.set(key, prev)


@pytest.mark.parametrize(
    "make",
    [F.timestamp_seconds, lambda i: i.cast("decimal(12,2)")],
    ids=["timestamp", "decimal"],
)
def test_unsupported_value_type_raises(spark, make):
    """TIMESTAMP and DECIMAL values are outside the exact cells: every
    helper fails with a TypeError naming the type."""
    from aws_iceberg_automation_spark.functions.ranking import global_ntiles

    df = spark.range(10).select("id", make(F.col("id")).alias("v"))
    t = re.escape(df.schema["v"].dataType.simpleString())
    v, tb = F.col("v"), [F.col("id")]
    with pytest.raises(TypeError, match=t):
        global_row_number(df, v, tb)
    with pytest.raises(TypeError, match=t):
        global_ntile(df, v, tb, 3)
    with pytest.raises(TypeError, match=t):
        global_ntiles(df, [(F.col("id"), "a"), (v, "b")], tb, 3)
    with pytest.raises(TypeError, match=t):
        partitioned_prefix_sums(df.withColumn("m", F.lit(1)), v, ["m"])


def test_streaming_frame_raises(spark):
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="batch-only"):
        global_row_number(stream, F.col("value"), [F.col("timestamp")])
