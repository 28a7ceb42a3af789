"""Seeded inputs for the benchmark: a web crawl, geocoded pages with
polygons, and an OSM history with replication change batches.

Every generator is a pure function of ``(seed, size)``: it draws from
``numpy.random.default_rng(seed)``, writes its files under the directory
it is given and returns the facts the output checks need (row counts,
planted duplicates, the reference point-in-polygon count, the annotate
row count). The engine under test never sees these facts, only the files.

The encoders here (WARC member framing, the OSM PBF protobuf layout) are
written from the format specifications and share no code with
``osm_spark``, so a decoder defect cannot cancel out against an encoder
defect.
"""

from __future__ import annotations

import gzip
import os
import struct
import uuid
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# pipeline.pages geocodes a page from its doc_id; these mirror its
# formula (integer arithmetic, then one division), so numpy computes
# bit-identical coordinates for the reference point-in-polygon count.
HOT_LAT, HOT_LON, HOT_MOD = 40.712, -74.006, 20

# OSM history timestamps (unix seconds), all after annotate's
# CommitInfoStart (2012-09-12), so annotate_refs takes its JVM path.
T0 = 1_420_070_400  # 2015-01-01
NODE_SPAN = 20_000_000
TICK = 3600


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ------------------------------------------------------------ geotile


def page_coords(doc_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of each page, as pipeline.pages.geo_lat/geo_lon give
    them; every HOT_MOD-th doc_id sits on the hot point."""
    lat = (doc_id * 7919 % 170000).astype(np.float64) / 1000.0 - 85.0
    lon = (doc_id * 104729 % 360000).astype(np.float64) / 1000.0 - 180.0
    hot = doc_id % HOT_MOD == 0
    return np.where(hot, HOT_LAT, lat), np.where(hot, HOT_LON, lon)


def star_polygons(rng: np.random.Generator, n: int):
    """``n`` star polygons with 8..32 vertices, alternating outer and
    inner radius around a centre; each is star-shaped about its centre,
    so the centre is inside it. Polygon 0 is centred on the hot point,
    so the hot cell lands in the join and the salt matters."""
    polys = []
    for pid in range(n):
        cx, cy = (HOT_LON, HOT_LAT) if pid == 0 else (rng.uniform(-170, 170), rng.uniform(-70, 70))
        k = int(rng.integers(4, 17)) * 2
        r_out = rng.uniform(2.0, 8.0)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = np.where(np.arange(k) % 2 == 0, r_out, r_out * rng.uniform(0.3, 0.7, k))
        polys.append((pid, cx + rad * np.cos(ang), cy + rad * np.sin(ang)))
    return polys


def even_odd(xs: np.ndarray, ys: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Reference even-odd ray test of points against one ring, one edge
    at a time (edge j -> i with j = i - 1, wrapping)."""
    inside = np.zeros(len(px), dtype=bool)
    for i in range(len(xs)):
        j = i - 1
        xi, yi, xj, yj = xs[i], ys[i], xs[j], ys[j]
        cross = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= cross & (px < xint)
    return inside


def geotile(out_dir: str, seed: int, n_pages: int, n_polygons: int) -> dict:
    """documents.parquet (the pipeline.pages input; distinct seeded
    doc_ids) and polygons.parquet (poly_id, xs, ys, xmin, xmax, ymin,
    ymax), plus the reference count of (page, polygon) containments."""
    rng = np.random.default_rng(seed)
    polys = star_polygons(rng, n_polygons)
    doc_id = rng.choice(50_000_000, n_pages, replace=False).astype(np.int64) + 1
    lat, lon = page_coords(doc_id)

    matches = 0
    for _pid, xs, ys in polys:
        box = (
            (lon >= xs.min()) & (lon <= xs.max()) & (lat >= ys.min()) & (lat <= ys.max())
        )
        matches += int(even_odd(xs, ys, lon[box], lat[box]).sum())

    polys_path = os.path.join(out_dir, "polygons.parquet")
    os.makedirs(os.path.join(out_dir, "pages"))
    _write_parquet(pa.table({"doc_id": doc_id}), os.path.join(out_dir, "pages", "documents.parquet"))
    _write_parquet(
        pa.table(
            {
                "poly_id": pa.array([p[0] for p in polys], pa.int64()),
                "xs": pa.array([p[1] for p in polys], pa.list_(pa.float64())),
                "ys": pa.array([p[2] for p in polys], pa.list_(pa.float64())),
                "xmin": [float(p[1].min()) for p in polys],
                "xmax": [float(p[1].max()) for p in polys],
                "ymin": [float(p[2].min()) for p in polys],
                "ymax": [float(p[2].max()) for p in polys],
            }
        ),
        polys_path,
    )
    return {
        "pages_dir": os.path.join(out_dir, "pages"),
        "polygons": polys_path,
        "pages": n_pages,
        "pip_matches": matches,
    }


# --------------------------------------------------------------- crawl


def warc_record(payload: bytes, uri: str, date_epoch: int, record_id: str) -> bytes:
    """One WARC/1.0 response record (ISO 28500 section 5)."""
    date = np.datetime64(date_epoch, "s").astype(str) + "Z"
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Record-ID: {record_id}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "Content-Type: text/html\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def crawl(
    out_dir: str, seed: int, n_records: int, exact_groups: int, near_pairs: int, topk: int
) -> dict:
    """crawl.warc.gz: one gzip member per record (the Common Crawl
    layout), every URL and record id unique. ``exact_groups`` groups of
    2..4 records share one body; ``near_pairs`` records copy another
    record's body with about 5% of its words replaced. ``topk_rows`` is
    the number of per-document top-``topk`` term rows."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(20_000)])

    def body(n_words: int) -> np.ndarray:
        return vocab[(rng.zipf(1.2, n_words) - 1) % len(vocab)]

    texts: list[np.ndarray] = []
    groups: list[list[int]] = []
    near: list[tuple[int, int]] = []
    for _ in range(exact_groups):
        base = body(int(rng.integers(40, 120)))
        start = len(texts)
        k = int(rng.integers(2, 5))
        texts.extend([base] * k)
        groups.append(list(range(start, start + k)))
    for _ in range(near_pairs):
        base = body(int(rng.integers(40, 120)))
        copy = base.copy()
        pos = rng.choice(len(base), max(1, len(base) // 20), replace=False)
        # a replacement never equals the word it replaces
        copy[pos] = np.array([f"x{rng.integers(1_000_000)}" for _ in pos])
        near.append((len(texts), len(texts) + 1))
        texts.extend([base, copy])
    while len(texts) < n_records:
        texts.append(body(int(rng.integers(40, 120))))

    # shuffle record order so planted copies are not neighbours
    order = rng.permutation(len(texts))
    slot = np.empty(len(texts), dtype=np.int64)
    slot[order] = np.arange(len(texts))
    tag = int(rng.integers(1 << 62))
    urls = [f"https://site{i % 997}.example/{tag:x}/doc{i}" for i in range(len(texts))]

    path = os.path.join(out_dir, "crawl.warc.gz")
    with open(path, "wb") as f:
        for i in order:
            text = " ".join(texts[i])
            html = (
                f'<!DOCTYPE html><html lang="en"><head><title>d{i}</title></head>'
                f'<body><p id="c{i}">{text}</p></body></html>'
            ).encode()
            rec = warc_record(
                html,
                urls[i],
                1_700_000_000 + int(slot[i]),
                f"<urn:uuid:{uuid.UUID(int=(tag << 64) | int(i))}>",
            )
            f.write(gzip.compress(rec, compresslevel=6, mtime=0))

    url_groups = sorted(sorted(urls[i] for i in g) for g in groups)
    ident_pairs = sorted(
        (urls[a], urls[b]) if urls[a] < urls[b] else (urls[b], urls[a])
        for g in groups
        for x, a in enumerate(g)
        for b in g[x + 1 :]
    )
    near_url_pairs = sorted(
        (urls[a], urls[b]) if urls[a] < urls[b] else (urls[b], urls[a]) for a, b in near
    )
    return {
        "warc": path,
        "rows": len(texts),
        "dup_groups": url_groups,
        "ident_pairs": ident_pairs,
        "near_pairs": near_url_pairs,
        "topk_rows": sum(min(topk, len(set(t))) for t in texts),
    }


# ---------------------------------------------------------- osm history


def _uvarint(v: int) -> bytes:
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _varints(values) -> bytes:
    """Protobuf base-128 varints of non-negative integers; vectorized
    for long arrays, where numpy's per-call cost pays off."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size < 64:
        return b"".join(_uvarint(int(x)) for x in v)
    nbytes = np.ones(v.size, dtype=np.int64)
    rest = v >> np.uint64(7)
    while rest.any():
        nbytes += rest > 0
        rest >>= np.uint64(7)
    out = np.empty(int(nbytes.sum()), dtype=np.uint8)
    start = np.cumsum(nbytes) - nbytes
    for k in range(int(nbytes.max())):
        m = nbytes > k
        byte = (v[m] >> np.uint64(7 * k)) & np.uint64(0x7F)
        byte |= np.where(nbytes[m] > k + 1, np.uint64(0x80), np.uint64(0))
        out[start[m] + k] = byte.astype(np.uint8)
    return out.tobytes()


def _zigzag(values) -> np.ndarray:
    v = np.asarray(values, dtype=np.int64)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _key(field: int, wire: int) -> bytes:
    return _uvarint((field << 3) | wire)


def _bytes(field: int, payload: bytes) -> bytes:
    return _key(field, 2) + _uvarint(len(payload)) + payload


def _uint(field: int, value: int) -> bytes:
    return _key(field, 0) + _uvarint(value)


def _packed(field: int, values, signed_delta: bool = False) -> bytes:
    v = np.asarray(values, dtype=np.int64)
    if signed_delta:
        v = _zigzag(np.diff(v, prepend=0))
    return _bytes(field, _varints(v))


def _frame(kind: str, payload: bytes) -> bytes:
    blob = _uint(2, len(payload)) + _bytes(3, zlib.compress(payload, 6))
    header = _bytes(1, kind.encode()) + _uint(3, len(blob))
    return struct.pack(">I", len(header)) + header + blob


# granularity 100 nanodegrees, date granularity 1000 ms (fileformat.proto)
_STRINGS = _bytes(1, _bytes(1, b"") + _bytes(1, b"bench"))
_BLOCK_TAIL = _uint(17, 100) + _uint(18, 1000)


def _dense_block(ids, versions, ts, changesets, lat, lon) -> bytes:
    n = len(ids)
    info = (
        _packed(1, versions)
        + _packed(2, ts, signed_delta=True)
        + _packed(3, changesets, signed_delta=True)
        + _packed(4, np.full(n, 7), signed_delta=True)
        + _packed(5, np.ones(n), signed_delta=True)
        + _packed(6, np.ones(n))
    )
    dense = (
        _packed(1, ids, signed_delta=True)
        + _bytes(5, info)
        + _packed(8, lat, signed_delta=True)
        + _packed(9, lon, signed_delta=True)
    )
    return _STRINGS + _bytes(2, _bytes(2, dense)) + _BLOCK_TAIL


def _way_block(ways) -> bytes:
    group = b"".join(
        _bytes(
            3,
            _uint(1, wid)
            + _bytes(
                4,
                _uint(1, ver) + _uint(2, t) + _uint(3, cs) + _uint(4, 7) + _uint(5, 1) + _uint(6, 1),
            )
            + _packed(8, refs, signed_delta=True),
        )
        for wid, ver, t, cs, refs in ways
    )
    return _STRINGS + _bytes(2, group) + _BLOCK_TAIL


def osm_history(
    out_dir: str, seed: int, n_nodes: int, n_ways: int, n_batches: int, batch_size: int
) -> dict:
    """history.osm.pbf with multi-version nodes and ways, and
    ``n_batches`` replication change batches (parquet, CHANGE_SCHEMA
    columns) against the latest node state.

    Timestamps are whole multiples of ``TICK``: node versions on even
    ticks, way versions on odd ones, so a way commit and a node commit
    are always at least an hour apart (beyond annotate's 30-minute
    threshold), and every node's first version precedes every way's
    first version. With all versions visible, annotate emits, for each
    way ref slot, one 'set' row per way version plus one 'update' row per
    node version committed after the way's first version."""
    rng = np.random.default_rng(seed)
    span = NODE_SPAN // TICK
    node_ids = np.sort(rng.choice(20 * n_nodes, n_nodes, replace=False)) + 1
    nv = rng.integers(1, 5, n_nodes)
    first = T0 + TICK * 2 * rng.integers(0, span // 10, n_nodes)
    n_rows = int(nv.sum())
    owner = np.repeat(np.arange(n_nodes), nv)
    starts = np.cumsum(nv) - nv
    version = np.arange(n_rows) - np.repeat(starts, nv) + 1
    gaps = TICK * 2 * rng.integers(1, span // 16, n_rows)
    gaps[version == 1] = 0
    run = np.cumsum(gaps)
    node_ts = first[owner] + run - np.repeat(run[starts], nv)
    lat_u = np.round(rng.uniform(45.0, 55.0, n_nodes) * 1e7).astype(np.int64)
    lon_u = np.round(rng.uniform(5.0, 15.0, n_nodes) * 1e7).astype(np.int64)
    node_lat = lat_u[owner] + rng.integers(-500, 500, n_rows) * (version > 1)
    node_lon = lon_u[owner] + rng.integers(-500, 500, n_rows) * (version > 1)
    node_cs = 1_000_000 + (node_ts - T0) // 60

    way_ids = np.sort(rng.choice(20 * n_ways, n_ways, replace=False)) + 1
    wv = rng.integers(1, 4, n_ways)
    way_first = T0 + TICK * (2 * (span // 10) + 1 + 2 * rng.integers(0, span // 8, n_ways))
    node_ts_by_node = np.split(node_ts, np.cumsum(nv)[:-1])
    ways = []
    annotate_rows = 0
    slots = 0
    for w in range(n_ways):
        refs_idx = rng.choice(n_nodes, int(rng.integers(4, 13)), replace=False)
        refs = node_ids[refs_idx]
        t = int(way_first[w])
        for ver in range(1, int(wv[w]) + 1):
            ways.append((int(way_ids[w]), ver, t, 1_000_000 + (t - T0) // 60, refs))
            slots += len(refs)
            t += TICK * 2 * int(rng.integers(1, span // 16))
        later = sum(int((node_ts_by_node[i] > way_first[w]).sum()) for i in refs_idx)
        annotate_rows += len(refs) * int(wv[w]) + later

    path = os.path.join(out_dir, "history.osm.pbf")
    header = (
        _bytes(4, b"OsmSchema-V0.6")
        + _bytes(4, b"DenseNodes")
        + _bytes(4, b"HistoricalInformation")
    )
    with open(path, "wb") as f:
        f.write(_frame("OSMHeader", header))
        for s in range(0, n_rows, 8000):
            e = min(s + 8000, n_rows)
            f.write(
                _frame(
                    "OSMData",
                    _dense_block(
                        node_ids[owner[s:e]], version[s:e], node_ts[s:e],
                        node_cs[s:e], node_lat[s:e], node_lon[s:e],
                    ),
                )
            )
        for s in range(0, len(ways), 4000):
            f.write(_frame("OSMData", _way_block(ways[s : s + 4000])))

    # the replication base: latest version of every node, STATE_COLS order
    last = np.cumsum(nv) - 1
    state_path = os.path.join(out_dir, "state.parquet")
    _write_parquet(
        pa.table({
            "type": pa.array(["node"] * n_nodes),
            "id": node_ids,
            "version": pa.array(nv, pa.int32()),
            "visible": np.ones(n_nodes, dtype=bool),
            "changeset": node_cs[last],
            "ts": pa.array(node_ts[last], pa.timestamp("s", tz="UTC")),
            "lat": node_lat[last] * 1e-7,
            "lon": node_lon[last] * 1e-7,
        }),
        state_path,
    )
    batches = _change_batches(
        out_dir, rng, node_ids, nv, node_lat, node_lon, node_ts, n_batches, batch_size
    )
    return {
        "pbf": path,
        "state": state_path,
        "nodes": n_rows,
        "ways": len(ways),
        "rows": n_rows + len(ways),
        "slots": slots,
        "annotate_rows": annotate_rows,
        "batches": batches,
    }


def _change_batches(
    out_dir, rng, node_ids, nv, node_lat, node_lon, node_ts, n_batches, batch_size
) -> list[dict]:
    """Replication batches against the base snapshot. Each batch is
    one mapper's edit session: it modifies and deletes nodes in one
    contiguous id window (so a merge touches few table files) and
    creates nodes above the highest id."""
    last = np.cumsum(nv) - 1
    version = nv.astype(np.int64).copy()
    lat = node_lat[last].astype(np.float64) * 1e-7
    lon = node_lon[last].astype(np.float64) * 1e-7
    visible = np.ones(len(node_ids), dtype=bool)
    ts = int(node_ts.max()) + 2
    next_id = int(node_ids.max()) + 1
    out = []
    for b in range(n_batches):
        seq = b + 1
        lo = int(rng.integers(0, len(node_ids) - 4 * batch_size))
        window = np.arange(lo, lo + 4 * batch_size)
        live = window[visible[window]]
        touched = rng.choice(live, batch_size, replace=False)
        deleted = touched[: batch_size // 5]
        n_new = batch_size // 5
        rows = {
            "seq": [], "action": [], "type": [], "id": [], "version": [],
            "visible": [], "changeset": [], "ts": [], "lat": [], "lon": [],
        }

        def add(action, nid, ver, vis, la, lo_):
            nonlocal ts
            ts += 2
            rows["seq"].append(seq)
            rows["action"].append(action)
            rows["type"].append("node")
            rows["id"].append(int(nid))
            rows["version"].append(int(ver))
            rows["visible"].append(bool(vis))
            rows["changeset"].append(5_000_000 + seq)
            rows["ts"].append(ts)
            rows["lat"].append(float(la))
            rows["lon"].append(float(lo_))

        for i in touched:
            version[i] += 1
            if i in deleted:
                visible[i] = False
                add("delete", node_ids[i], version[i], False, lat[i], lon[i])
            else:
                lat[i] += rng.uniform(-0.05, 0.05)
                lon[i] += rng.uniform(-0.05, 0.05)
                add("modify", node_ids[i], version[i], True, lat[i], lon[i])
        for _ in range(n_new):
            add("create", next_id, 1, True, rng.uniform(45, 55), rng.uniform(5, 15))
            next_id += 1
        t = pa.table(rows)
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts", pa.array(rows["ts"], pa.timestamp("s", tz="UTC"))
        )
        t = t.set_column(
            t.schema.get_field_index("version"), "version", pa.array(rows["version"], pa.int32())
        )
        p = os.path.join(out_dir, f"changes-{seq:04d}.parquet")
        _write_parquet(t, p)
        out.append({"path": p, "rows": len(rows["id"])})
    return out
