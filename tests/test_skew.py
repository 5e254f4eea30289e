"""Unit tests for manual skew mitigation (operators/skew.py): salted
join/aggregate must be result-identical to their unsalted forms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.operators import skew as sk


def _hot_key_frames(spark):
    # one pathologically hot key (900 of 1000 rows) + a long tail
    left = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.createDataFrame(
        [(7, "hot"), (950, "tail"), (999, "tail2"), (12345, "unmatched")],
        "k BIGINT, tag STRING",
    )
    return left, right


def test_salted_join_equals_plain_inner(spark):
    left, right = _hot_key_frames(spark)
    plain = left.join(right, "k").select("k", "payload", "tag")
    salted = sk.salted_join(left, right, "k", n_salts=4).select("k", "payload", "tag")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_equals_plain_left(spark):
    left, right = _hot_key_frames(spark)
    plain = left.join(right, "k", "left").select("k", "payload", "tag")
    salted = sk.salted_join(left, right, "k", n_salts=4, how="left").select(
        "k", "payload", "tag"
    )
    assert sorted(map(tuple, salted.collect()), key=repr) == sorted(
        map(tuple, plain.collect()), key=repr
    )


def test_salted_join_multi_key_and_validation(spark):
    left = spark.createDataFrame([(1, "a", 10), (1, "b", 20)], "k1 INT, k2 STRING, v INT")
    right = spark.createDataFrame([(1, "a", "x")], "k1 INT, k2 STRING, tag STRING")
    out = sk.salted_join(left, right, ["k1", "k2"], n_salts=3).collect()
    assert len(out) == 1 and out[0].tag == "x"
    with pytest.raises(ValueError):
        sk.salted_join(left, right, "k1", how="full")
    with pytest.raises(ValueError):
        sk.salted_join(left, right, "k1", n_salts=0)


def test_salted_aggregate_equals_plain(spark):
    left, _ = _hot_key_frames(spark)
    plain = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in left.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("payload").alias("s"),
            F.min("payload").alias("mn"),
            F.max("payload").alias("mx"),
        )
        .collect()
    }
    salted = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in sk.salted_aggregate(
            left,
            ["k"],
            {
                "n": ("count", "payload"),
                "s": ("sum", "payload"),
                "mn": ("min", "payload"),
                "mx": ("max", "payload"),
            },
            n_salts=4,
        ).collect()
    }
    assert salted == plain


def test_salted_aggregate_rejects_non_decomposable(spark):
    left, _ = _hot_key_frames(spark)
    with pytest.raises(ValueError):
        sk.salted_aggregate(left, ["k"], {"a": ("avg", "payload")})


def test_salted_aggregate_count_skips_nulls_like_plain(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, None), (1, 20), (2, None)], "k INT, v INT"
    )
    out = {r.k: r.n for r in
           sk.salted_aggregate(df, ["k"], {"n": ("count", "v")}, n_salts=3).collect()}
    plain = {r.k: r.n for r in
             df.groupBy("k").agg(F.count("v").alias("n")).collect()}
    assert out == plain == {1: 2, 2: 0}


def test_skew_profile_shares_and_salts(spark):
    left, _ = _hot_key_frames(spark)
    prof = sk.skew_profile(left, "k", top_n=3, n_partitions=10)
    rows = {r.rank: r for r in prof.collect()}
    assert len(rows) == 3
    top = rows[1]
    # 900/1000 rows on key 7
    assert top.key == "7" and top.n == 900
    assert top.share_ppm == 900000 and top.cum_share_ppm == 900000
    # ceil(900 * 10 / 1000) = 9 salt buckets to flatten the hot key
    assert top.salts_rec == 9
    assert top.total_rows == 1000 and top.n_keys == 101
    # tail keys: 1 row each -> salts_rec 1, deterministic key tie-break
    assert rows[2].n == 1 and rows[2].salts_rec == 1
    assert rows[2].key < rows[3].key  # count ties break by key asc
    assert rows[3].cum_share_ppm == 902000


def test_skew_profile_uniform_keys_need_no_salting(spark):
    df = spark.range(100).select((F.col("id") % 4).alias("k"))
    prof = sk.skew_profile(df, "k", top_n=10, n_partitions=8).collect()
    assert len(prof) == 4
    assert all(r.salts_rec == 2 for r in prof)  # ceil(25*8/100)=2
    assert sum(r.share_ppm for r in prof) == 1000000


def test_asof_result_identical_passes_correct_join_and_fails_perturbed(spark):
    """bench_skew's as-of identity check must be able to say both
    things: true for the fill-down join against the range join (with a
    purchase that has no earlier click, so a NULL ``asof_ts`` the inner
    range join never produces), false once one matched ts moves."""
    from bench_skew import asof_result_identical

    from bohemia_kenya_data_pipeline_spark.operators import windows as W

    def frame(rows, ddl):
        return spark.createDataFrame(rows, ddl).withColumn(
            "ts", F.timestamp_seconds("t")
        )

    purchases = frame(
        [(1, 1, 10), (2, 1, 30), (3, 2, 5)], "event_id INT, user_id INT, t INT"
    )
    clicks = frame(
        [(1, 8, 1.0), (1, 20, 2.0), (2, 9, 3.0)], "user_id INT, t INT, click_value DOUBLE"
    )
    asof = W.asof_join(
        purchases, clicks, ["user_id"], "ts", "ts", ["click_value"]
    ).select("event_id", "asof_ts")
    c = clicks.withColumnRenamed("ts", "cts")
    naive = (
        purchases.join(
            c, (purchases["user_id"] == c["user_id"]) & (F.col("cts") <= purchases["ts"])
        )
        .groupBy("event_id")
        .agg(F.max("cts").alias("asof_ts"))
    )
    assert asof.filter(F.col("asof_ts").isNull()).count() == 1
    assert asof_result_identical(asof, naive)
    moved = asof.withColumn(
        "asof_ts",
        F.when(
            F.col("event_id") == 2, F.col("asof_ts") + F.expr("INTERVAL 1 SECOND")
        ).otherwise(F.col("asof_ts")),
    )
    assert not asof_result_identical(moved, naive)
