"""plans/skew.py hot-key profiling unit tests."""

from pyspark.sql import functions as F

from osm_spark.plans import skew as SK


def test_skew_profile_finds_hot_key(spark):
    # key 7 appears 60 times, 20 keys appear twice each -> total 100
    rows = [(7,)] * 60 + [(k,) for k in range(100, 120) for _ in range(2)]
    df = spark.createDataFrame(rows, "k long")
    out = SK.skew_profile(df, ["k"], k=3).orderBy("rank").collect()
    top = out[0]
    assert (top.rank, top.k, top.n) == (1, 7, 60)
    assert top.share_ppm == 60 * 1_000_000 // 100
    assert top.n_keys == 21 and top.total == 100
    assert top.p50_n == 2          # median key has 2 rows
    assert top.p99_n == 60         # p99 lands on the hot key
    assert top.skew_x_e3 == 60 * 21 * 1000 // 100  # 12.6x the mean


def test_salted_prune_never_loses_a_true_top_key(spark):
    # 50 keys all with count 1 except three hot ones; whichever input
    # partitions they land in, the per-partition prune must surface them
    rows = (
        [(i,) for i in range(50)]
        + [(1001,)] * 5 + [(1002,)] * 4 + [(1003,)] * 3
    )
    df = spark.createDataFrame(rows, "k long")
    out = SK.skew_profile(df, ["k"], k=3).orderBy("rank").collect()
    assert [(r.k, r.n) for r in out] == [(1001, 5), (1002, 4), (1003, 3)]


def test_ties_break_deterministically_on_key(spark):
    rows = [(5,)] * 3 + [(2,)] * 3 + [(9,)] * 3
    df = spark.createDataFrame(rows, "k long")
    out = SK.skew_profile(df, ["k"], k=3).orderBy("rank").collect()
    assert [r.k for r in out] == [2, 5, 9]  # equal n -> ascending key
