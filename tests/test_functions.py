from __future__ import annotations

from pyspark.sql import functions as F

from realtime0523_spark.functions.scalar import (
    bucket_label,
    derive_date_hour_from_string,
    gender_decode,
    round2,
    round9,
)


def test_round2_matches_java_math_round(spark):
    # Java Math.round(x*100)/100 == floor(x*100 + 0.5)/100
    cases = [(1.005, 1.0), (2.675, 2.68), (0.125, 0.13), (10.994999, 10.99), (-1.005, -1.0)]
    # note 1.005*100 == 100.49999... in IEEE → 1.00, same as Java.
    df = spark.createDataFrame([(x,) for x, _ in cases], "x double")
    got = [r.y for r in df.select(round2("x").alias("y")).collect()]
    import math

    expect = [math.floor(x * 100 + 0.5) / 100 for x, _ in cases]
    assert got == expect
    assert got == [e for _, e in cases]


def test_round9_matches_numpy_twin_and_is_idempotent(spark):
    """round9 is bit-identical to the numpy kernels' 9-dp rounding
    (similarity._r9_np) on the same double, and rounding an already
    rounded score returns it unchanged — the two facts that let a
    kernel prune on rounded scores before the final round9 rank."""
    import numpy as np

    from realtime0523_spark.llm.similarity import _r9_np

    rng = np.random.RandomState(0)
    xs = np.concatenate(
        [
            rng.uniform(-1.0, 1.0, 2000),
            rng.uniform(-50.0, 50.0, 500),
            [0.0, 1.0, -1.0, 0.1234567885, 0.1234567895, -0.5000000005],
        ]
    )
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    got = [
        (r.x, r.y, r.yy)
        for r in df.select(
            "x",
            round9("x").alias("y"),
            round9(round9("x")).alias("yy"),
        ).collect()
    ]
    x = np.array([g[0] for g in got])
    y = np.array([g[1] for g in got])
    assert np.array_equal(y, _r9_np(x))
    assert np.array_equal(np.array([g[2] for g in got]), y)
    assert np.array_equal(_r9_np(y), y)


def test_bucket_boundaries_land_in_middle(spark):
    # reference quirk: strict < low / > high ⇒ exactly-at-boundary →
    # middle bucket (dim/User_info_APP.scala:59-65)
    df = spark.createDataFrame([(19.0,), (20.0,), (25.0,), (30.0,), (31.0,)], "v double")
    got = [r.b for r in df.select(bucket_label("v", 20, 30).alias("b")).collect()]
    assert got == ["20岁及以下", "21岁到30岁", "21岁到30岁", "21岁到30岁", "30岁以上"]


def test_gender_decode(spark):
    df = spark.createDataFrame([("M",), ("F",), ("x",), (None,)], "g string")
    got = [r.d for r in df.select(gender_decode("g").alias("d")).collect()]
    assert got == ["男", "女", "女", "女"]


def test_date_hour_split(spark):
    df = spark.createDataFrame([("2020-05-23 14:03:59",)], "create_time string")
    d, h = derive_date_hour_from_string("create_time")
    row = df.select(d.alias("d"), h.alias("h")).first()
    assert (row.d, row.h) == ("2020-05-23", "14")
