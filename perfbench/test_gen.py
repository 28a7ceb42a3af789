"""Properties of the seeded input generators.

    python3 -m pytest perfbench -q -p no:cacheprovider

Needs numpy and pyarrow; the PBF and point-in-polygon tests also import
``osm_spark`` (no Spark session) to decode with the engine's reference
decoder and compare with its ray test.
"""

from __future__ import annotations

import gzip
import os
import re
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SMALL = {
    "crawl": lambda d, s: gen.crawl(d, s, n_records=300, exact_groups=10, near_pairs=10, topk=3),
    "geotile": lambda d, s: gen.geotile(d, s, n_pages=5_000, n_polygons=10),
    "osm_history": lambda d, s: gen.osm_history(
        d, s, n_nodes=3_000, n_ways=300, n_batches=5, batch_size=20
    ),
}


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_same_seed_same_bytes_other_seed_other_bytes(kind, tmp_path):
    dirs = [tmp_path / n for n in ("a", "b", "c")]
    for d, seed in zip(dirs, (7, 7, 8)):
        d.mkdir()
        SMALL[kind](str(d), seed)
    a, b, c = (_files(str(d)) for d in dirs)
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_warc_urls_and_record_ids_unique(tmp_path):
    facts = SMALL["crawl"](str(tmp_path), 3)
    with gzip.open(facts["warc"], "rb") as f:
        text = f.read()
    uris = re.findall(rb"WARC-Target-URI: (\S+)\r\n", text)
    ids = re.findall(rb"WARC-Record-ID: (\S+)\r\n", text)
    assert len(uris) == len(ids) == facts["rows"]
    assert len(set(uris)) == len(uris)
    assert len(set(ids)) == len(ids)


def test_planted_duplicates(tmp_path):
    facts = SMALL["crawl"](str(tmp_path), 3)
    with gzip.open(facts["warc"], "rb") as f:
        recs = f.read().split(b"WARC/1.0\r\n")[1:]
    body = {
        re.search(rb"WARC-Target-URI: (\S+)", r).group(1).decode():
        re.search(rb"<p[^>]*>(.*)</p>", r).group(1)
        for r in recs
    }
    for group in facts["dup_groups"]:
        assert len({body[u] for u in group}) == 1
    for a, b in facts["near_pairs"]:
        assert body[a] != body[b]
    by_body: dict[bytes, int] = {}
    for b in body.values():
        by_body[b] = by_body.get(b, 0) + 1
    assert sum(n > 1 for n in by_body.values()) == len(facts["dup_groups"])


def test_pbf_decodes_to_generated_counts_with_unique_ids(tmp_path):
    from osm_spark.sources import pbf

    facts = SMALL["osm_history"](str(tmp_path), 5)
    with open(facts["pbf"], "rb") as f:
        blobs = pbf.split_blobs(f.read())
    header = pbf.decode_header(pbf.decompress_blob(blobs[0][1]))
    assert "HistoricalInformation" in header["required_features"]
    nodes, ways, refs = [], [], 0
    for _kind, blob in blobs[1:]:
        block = pbf.decode_primitive_block(pbf.decompress_blob(blob))
        if len(block["nodes"].get("id", ())):
            nodes += zip(block["nodes"]["id"], block["nodes"]["version"])
        ways += [(w["id"], w["version"]) for w in block["ways"]]
        refs += sum(len(w["refs"]) for w in block["ways"])
    assert len(nodes) == facts["nodes"] and len(ways) == facts["ways"]
    assert len(set(nodes)) == len(nodes) and len(set(ways)) == len(ways)
    assert refs == facts["slots"]


def test_even_odd_matches_engine_ray_test():
    from osm_spark.geo.pip import ring_contains

    rng = np.random.default_rng(11)
    for _pid, xs, ys in gen.star_polygons(rng, 20):
        px = rng.uniform(xs.min() - 1, xs.max() + 1, 2_000)
        py = rng.uniform(ys.min() - 1, ys.max() + 1, 2_000)
        assert np.array_equal(gen.even_odd(xs, ys, px, py), ring_contains(xs, ys, px, py))


def test_varints_round_trip():
    from osm_spark.sources.pbf import _unpack_varints

    v = np.array([0, 1, 127, 128, 300, 2**35, 2**62 + 5] * 20, dtype=np.int64)
    assert np.array_equal(_unpack_varints(gen._varints(v), False), v)
    z = np.array([0, -1, 1, -300, 2**40, -(2**40)] * 20, dtype=np.int64)
    assert np.array_equal(_unpack_varints(gen._varints(gen._zigzag(z)), True), z)
