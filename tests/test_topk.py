"""plans/topk.py against a Python ``sorted`` reference.

Spark prunes each input partition to its own top k before the shuffle,
which is exact only because a true top-k row has fewer than k better
rows in its own partition; the partition counts below are what
exercise that argument.
"""

import random

import pytest
from pyspark.sql import functions as F

from osm_spark.plans.topk import topk


def _rows(kind):
    if kind == "all_equal":
        return [(g, f"t{i:02d}", 7) for g in range(3) for i in range(40)]
    rng = random.Random(1234)
    return [
        (g, f"w{i:03d}", rng.randint(1, 4))  # heavy tie mass
        for g in range(12)
        for i in range(rng.randint(1, 90))
    ]


def _reference(rows, keyed, k):
    groups = {}
    for g, term, n in rows:
        groups.setdefault(g if keyed else None, []).append((g, term, n))
    out = set()
    for rs in groups.values():
        rs.sort(key=lambda r: (-r[2], r[0], r[1]))
        out |= {(*r, rank) for rank, r in enumerate(rs[:k], start=1)}
    return out


@pytest.mark.parametrize("kind", ["random_ties", "all_equal"])
@pytest.mark.parametrize("keyed", [True, False])
def test_topk_matches_sorted_reference(spark, kind, keyed):
    rows = _rows(kind)
    df = spark.createDataFrame(rows, "g long, term string, n long")
    order = [F.col("n").desc(), F.col("g").asc(), F.col("term").asc()]
    for parts in (1, 7, 37):
        part = df.repartition(parts)
        for k in (1, 3, 5):
            out = topk(part, ["g"] if keyed else [], order, k)
            got = {tuple(r) for r in out.select("g", "term", "n", "rank")
                   .collect()}
            assert got == _reference(rows, keyed, k), (parts, k)


def test_topk_keeps_columns_and_int_rank(spark):
    df = spark.createDataFrame(
        [(1, "a", 3), (1, "b", 2), (2, "c", 1)], "g long, term string, n long"
    )
    out = topk(df, ["g"], [F.col("n").desc(), F.col("term").asc()], 1)
    assert out.columns == ["g", "term", "n", "rank"]
    assert dict(out.dtypes)["rank"] == "int"
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "a", 3, 1), (2, "c", 1, 1)
    ]
