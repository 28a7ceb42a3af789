"""Tile math parity tests.

Mirrors the reference's fixture property (bounds_test.go:10-38): the
centroid of tile T must be contained in T's bounds and in none of its 8
neighbors; x/y >= 2^z is out of range (bounds.go:19-25); parent/child and
range algebra round-trips. Run at every zoom 0..18.
"""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from osm_spark.geo import tiles


def py_tile_at(lat, lon, z):
    n = 1 << z
    xf = (lon + 180.0) / 360.0 * n
    yf = (1.0 - math.log(math.tan(lat * math.pi / 360.0 + math.pi / 4.0)) / math.pi) / 2.0 * n
    x = min(max(math.floor(xf), 0), n - 1)
    y = min(max(math.floor(yf), 0), n - 1)
    return x, y


def test_reference_neighborhood_property(spark):
    """bounds_test.go:10-38 generalized: tile (7,8,9)-style neighborhoods
    at every zoom — centroid of T in bounds(T), in no neighbor."""
    rows = []
    for z in range(1, 19):
        n = 1 << z
        x, y = min(7, n - 1), min(8, n - 1)
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nx, ny = x + dx, y + dy
                if 0 <= nx < n and 0 <= ny < n:
                    rows.append(Row(z=z, cx=x, cy=y, x=nx, y=ny))
    df = spark.createDataFrame(rows)

    out = []
    for z in range(1, 19):
        part = df.filter(F.col("z") == z)
        # centroid of the center tile
        part = part.select(
            "*",
            ((tiles.tile_bound_west("cx", z) + tiles.tile_bound_east("cx", z)) / 2).alias("clon"),
            ((tiles.tile_bound_south("cy", z) + tiles.tile_bound_north("cy", z)) / 2).alias("clat"),
        ).select(
            "z",
            (F.col("x") == F.col("cx")).alias("is_center_x"),
            (F.col("y") == F.col("cy")).alias("is_center_y"),
            tiles.contains(
                "clat",
                "clon",
                tiles.tile_bound_south("y", z),
                tiles.tile_bound_north("y", z),
                tiles.tile_bound_west("x", z),
                tiles.tile_bound_east("x", z),
            ).alias("contained"),
        )
        out.extend(part.collect())

    for r in out:
        is_center = r.is_center_x and r.is_center_y
        assert r.contained == is_center, r


def test_at_matches_python_reference(spark):
    pts = [(-85.0, -179.9), (0.0, 0.0), (41.0, -87.6), (85.0, 179.9), (-41.0, 87.6)]
    df = spark.createDataFrame([Row(lat=a, lon=b) for a, b in pts])
    for z in (0, 1, 5, 9, 12, 18):
        got = df.select(
            "lat", "lon", tiles.tile_x("lon", z).alias("x"), tiles.tile_y("lat", z).alias("y")
        ).collect()
        for r in got:
            assert (r.x, r.y) == py_tile_at(r.lat, r.lon, z), (z, r)


def test_parent_child_roundtrip(spark):
    df = spark.createDataFrame([Row(x=100, y=200)])
    r = df.select(
        tiles.parent_x("x").alias("px"),
        tiles.parent_y("y").alias("py"),
        tiles.range_min("x", 9, 11).alias("rmin"),
        tiles.range_max("x", 9, 11).alias("rmax"),
        tiles.range_min("x", 9, 7).alias("down"),
    ).first()
    assert (r.px, r.py) == (50, 100)
    assert (r.rmin, r.rmax) == (400, 403)
    assert r.down == 25


def test_quadkey_known_values(spark):
    # Bing fixture: tile (3,5,3) -> quadkey "213"
    df = spark.createDataFrame([Row(x=3, y=5)])
    assert df.select(tiles.quadkey("x", "y", 3).alias("qk")).first().qk == "213"


def test_containment_inclusive_boundary(spark):
    """ContainsNode uses inclusive intervals (bounds.go:38-48)."""
    z = 9
    df = spark.createDataFrame([Row(x=7, y=8)])
    b = df.select(
        tiles.tile_bound_south("y", z).alias("s"),
        tiles.tile_bound_north("y", z).alias("n"),
        tiles.tile_bound_west("x", z).alias("w"),
        tiles.tile_bound_east("x", z).alias("e"),
    ).first()
    pts = spark.createDataFrame(
        [Row(lat=b.s, lon=b.w), Row(lat=b.n, lon=b.e), Row(lat=b.s - 1e-9, lon=b.w)]
    )
    got = pts.select(
        tiles.contains("lat", "lon", F.lit(b.s), F.lit(b.n), F.lit(b.w), F.lit(b.e)).alias("c")
    ).collect()
    assert [r.c for r in got] == [True, True, False]


def _fold_levels(rows, z_max, z_min, agg):
    """Reference: roll (x, y, key) -> v up one zoom at a time."""
    out, cur = set(), dict(rows)
    for z in range(z_max, z_min - 1, -1):
        out |= {(x, y, k, v, z) for (x, y, k), v in cur.items()}
        nxt = {}
        for (x, y, k), v in cur.items():
            p = (x >> 1, y >> 1, k)
            nxt[p] = agg(nxt[p], v) if p in nxt else v
        cur = nxt
    return out


@pytest.mark.parametrize(
    "z_max,z_min,keyed",
    [(5, 0, False), (9, 4, False), (6, 6, False), (6, 4, True)],
    ids=["to_root", "z_min_above_0", "one_level", "keyed_max"],
)
def test_rollup_levels_matches_level_fold(spark, z_max, z_min, keyed):
    import random

    rng = random.Random(z_max * 100 + z_min)
    n = 1 << z_max
    # edge tiles of both axes, then random interior ones
    cells = [(0, 0), (n - 1, n - 1), (0, n - 1), (n - 1, 0)]
    cells += [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
    keys = range(3) if keyed else [0]
    rows = {(x, y, k): rng.randrange(1, 50) for x, y in cells for k in keys}
    df = spark.createDataFrame(
        [(x, y, k, v) for (x, y, k), v in rows.items()],
        "tile_x long, tile_y long, bucket long, v long",
    )
    agg, fn = (max, F.max) if keyed else (lambda a, b: a + b, F.sum)
    got = tiles.rollup_levels(
        df if keyed else df.drop("bucket"), z_max, z_min,
        fn("v").alias("v"), keys=("bucket",) if keyed else (),
    ).collect()
    got = {
        (r.tile_x, r.tile_y, r["bucket"] if keyed else 0, r.v, r.zoom)
        for r in got
    }
    assert got == _fold_levels(rows, z_max, z_min, agg)
    assert {z for *_, z in got} == set(range(z_min, z_max + 1))
