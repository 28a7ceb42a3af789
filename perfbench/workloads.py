"""The benchmark workloads, driving ``osm_spark``'s public functions.

Each workload owns its generated inputs and exposes ``bulk(stages)``,
one full pass over its input, and, where it has them, ``cycle(stages)``,
one replication cycle. Both return the list of output checks that
failed; an empty list is a correct operation. Every layer call goes
through ``stages.layer`` so that a traced run can time it. ``rounds``
is the number of timed rounds (a bulk operation and
``cycles_per_round`` cycles) a run makes at least: more for the cheaper
operations, whose single timings spread more.

Why each workload exists:

- ``crawl_geotile``: the paper's path from a web crawl to geotiles. WARC
  ingest, text extraction, exact and MinHash/LSH dedup and top terms
  over a crawl; then tile assignment, a salted point-in-polygon join
  with a pandas refine and a z12..z0 tile pyramid over geocoded pages.
  Sources (WARC), text and geo on full scans do the work; PBF, temporal,
  streaming and the table writer idle.
- ``osm_history``: history PBF decode and as-of annotation, then
  replication cycles that apply a change batch, maintain a per-tile
  count view incrementally and merge into a snapshot table on disk. The
  only workload that writes, and the only one where tile math runs on
  small deltas rather than full scans; text and pip idle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen

ASSIGN_ZOOMS = (18, 12)
PIP_ZOOM = 5
PIP_SALT = 4
PYRAMID_ZOOM = 12
MINHASH_K = 8
TOPK = 3
VIEW_ZOOM = 12
TABLE_FILES = 8
NODE_COLS = ("id", "version", "visible", "changeset", "timestamp", "lat", "lon")

SIZES = {
    "crawl": {"n_records": 800, "exact_groups": 25, "near_pairs": 25},
    "geotile": {"n_pages": 20_000, "n_polygons": 40},
    "osm_history": {
        "n_nodes": 6_000, "n_ways": 600, "n_batches": 60, "batch_size": 30,
    },
}


def _persist_count(df: DataFrame):
    df = df.persist()
    return df, df.count()


class CrawlGeotile:
    name = "crawl_geotile"
    rounds = 1
    cycles_per_round = 0

    def __init__(self, work_dir: str, seed: int):
        self.crawl = gen.crawl(work_dir, seed, topk=TOPK, **SIZES["crawl"])
        self.geo = gen.geotile(work_dir, seed, **SIZES["geotile"])
        self.rows = self.crawl["rows"] + self.geo["pages"]
        self.counts: dict = {}

    def start(self, spark) -> None:
        self.spark = spark
        k = int(spark.sparkContext.defaultParallelism)
        self.split = max(os.path.getsize(self.crawl["warc"]) // (2 * k), 1 << 16)

    def bulk(self, stages) -> list[str]:
        return self._crawl(stages) + self._geotile(stages)

    def _crawl(self, stages) -> list[str]:
        from osm_spark.sources.warc import pages_from_warc, read_warc
        from osm_spark.text import dedup, webprep

        facts = self.crawl
        pages = stages.layer(
            "sources.warc",
            lambda: pages_from_warc(read_warc(self.spark, facts["warc"], split_bytes=self.split)),
        )
        docs, n_docs = stages.layer(
            "text.extract",
            lambda p: p.select("url", webprep.extract_text("html").alias("text")),
            pages, action=_persist_count,
        )
        sig = None
        try:
            groups = stages.layer(
                "text.dedup.exact", lambda d: dedup.exact_dedup(d, "url", "text"), docs,
                action=lambda g: sorted(
                    (r["n"], r["keep_id"]) for r in g.where("n > 1").collect()
                ),
            )
            # the signature feeds the LSH self-join several times over, so
            # it is cached, as a caller of lsh_candidates would
            sig = stages.layer(
                "text.dedup.minhash",
                lambda d: dedup.minhash_signature(d, "url", "text", k=MINHASH_K), docs,
                action=lambda s: _persist_count(s)[0],
            )
            cands = stages.layer(
                "text.dedup.lsh", lambda s: dedup.lsh_candidates(s, "url", k=MINHASH_K), sig,
                action=lambda c: {(r["a"], r["b"]) for r in c.collect()},
            )
            n_top = stages.layer(
                "text.topk",
                lambda d: webprep.top_terms(webprep.term_counts(d, "url", "text"), "url", k=TOPK),
                docs, action=lambda t: t.count(),
            )
        finally:
            docs.unpersist()
            if sig is not None:
                sig.unpersist()

        ident, near = facts["ident_pairs"], facts["near_pairs"]
        found = sum(p in cands for p in ident) + sum(p in cands for p in near)
        self.counts.update({
            "sources.warc.rows": n_docs,
            "text.dedup.candidates": len(cands),
            "text.dedup.recall": found / (len(ident) + len(near)),
        })
        bad = []
        if n_docs != facts["rows"]:
            bad.append(f"WARC rows {n_docs} != generated {facts['rows']}")
        want = sorted((len(g), g[0]) for g in facts["dup_groups"])
        if groups != want:
            bad.append(f"exact-duplicate groups differ from the {len(want)} planted")
        missed = [p for p in ident if p not in cands]
        if missed:
            bad.append(f"{len(missed)} planted identical pairs are not LSH candidates")
        if n_top != facts["topk_rows"]:
            bad.append(f"top-term rows {n_top} != {facts['topk_rows']}")
        return bad

    def _geotile(self, stages) -> list[str]:
        from osm_spark.geo import pip, tiles
        from osm_spark.pipeline import pages

        facts = self.geo
        polygons = self.spark.read.parquet(facts["polygons"])

        def assign() -> DataFrame:
            z_hi, z_lo = ASSIGN_ZOOMS
            x, y = tiles.tile_x("lon", z_hi), tiles.tile_y("lat", z_hi)
            return pages.page_points(self.spark, facts["pages_dir"]).select(
                "doc_id", "lat", "lon",
                tiles.quadkey(x, y, z_hi).alias("qk"),
                tiles.tile_x("lon", z_lo).alias("tile_x"),
                tiles.tile_y("lat", z_lo).alias("tile_y"),
            )

        assigned = stages.layer("geo.tiles.assign", assign)
        matched = stages.layer(
            "geo.pip",
            lambda a, p: pip.pip_join_cells(
                a.select("doc_id", "lat", "lon", "qk"), p, zoom=PIP_ZOOM, salt=PIP_SALT
            ),
            assigned, polygons,
            action=lambda m: m.agg(F.count("*").alias("n"), F.max("qk")).first()["n"],
        )
        totals = stages.layer(
            "geo.tiles.rollup",
            lambda: pages.tile_pyramid_counts(
                self.spark, facts["pages_dir"], z_max=PYRAMID_ZOOM, z_min=0
            ),
            action=lambda t: {
                r["zoom"]: r["n"] for r in t.groupBy("zoom").agg(F.sum("n_pages").alias("n")).collect()
            },
        )
        self.counts["geo.pip.matches"] = matched
        bad = []
        if matched != facts["pip_matches"]:
            bad.append(f"pip matches {matched} != reference {facts['pip_matches']}")
        want = {z: facts["pages"] for z in range(PYRAMID_ZOOM + 1)}
        if totals != want:
            bad.append(f"pyramid totals {totals} != {facts['pages']} at every zoom")
        return bad


class OsmHistory:
    name = "osm_history"
    rounds = 2
    cycles_per_round = 1

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.facts = gen.osm_history(work_dir, seed, **SIZES[self.name])
        self.rows = self.facts["rows"]
        self.counts: dict = {}

    def start(self, spark) -> None:
        """Load the snapshot table from the replication base snapshot in
        ``TABLE_FILES`` id ranges, and build the per-tile count view."""
        from osm_spark.pipeline.table import SnapshotTable

        self.spark = spark
        self.table = SnapshotTable(spark, os.path.join(self.work_dir, "table"), stats_cols=("id",))
        state = spark.read.parquet(self.facts["state"])
        self.table.overwrite(state.repartitionByRange(TABLE_FILES, "id"))
        self.view = self._full_view(self.table.scan()).localCheckpoint()
        self.next_batch = 0

    def bulk(self, stages) -> list[str]:
        from osm_spark.sources.pbf import read_pbf_file_nodes_arrow, read_pbf_file_ways_arrow
        from osm_spark.temporal import annotate

        def decode():
            nodes = read_pbf_file_nodes_arrow(self.spark, self.facts["pbf"], columns=NODE_COLS).persist()
            ways = read_pbf_file_ways_arrow(
                self.spark, self.facts["pbf"],
                columns=("id", "version", "visible", "changeset", "timestamp", "refs"),
            ).persist()
            return nodes, ways, nodes.count(), ways.count()

        def annotate_refs(nodes: DataFrame, ways: DataFrame) -> DataFrame:
            ts = F.timestamp_seconds("timestamp")
            children = nodes.select(
                F.col("id").alias("ref"), "version", "visible", "changeset",
                ts.alias("ts"), ts.alias("committed"), "lat", "lon",
            )
            parents = ways.select(
                F.col("id").alias("pid"), "version", "visible", "changeset",
                ts.alias("ts"), ts.alias("committed"),
                F.transform("refs", lambda r: F.struct(r.alias("ref"))).alias("refs"),
            )
            return annotate.annotate_refs(parents, children)

        nodes, ways, n_nodes, n_ways = stages.layer("sources.pbf", decode)
        try:
            rows_out = stages.layer("temporal.annotate", annotate_refs, nodes, ways,
                                    action=lambda a: a.count())
        finally:
            annotate.release_caches()
            nodes.unpersist()
            ways.unpersist()
        self.counts.update({
            "sources.pbf.rows": n_nodes + n_ways,
            "temporal.annotate.slots": self.facts["slots"],
            "temporal.annotate.rows_out": rows_out,
        })
        bad = []
        if (n_nodes, n_ways) != (self.facts["nodes"], self.facts["ways"]):
            bad.append(
                f"PBF rows {(n_nodes, n_ways)} != generated "
                f"{(self.facts['nodes'], self.facts['ways'])}"
            )
        if rows_out != self.facts["annotate_rows"]:
            bad.append(f"annotate rows {rows_out} != closed form {self.facts['annotate_rows']}")
        return bad

    # ---------------------------------------------------- replication

    def _tiles(self, df: DataFrame, *extra) -> DataFrame:
        from osm_spark.geo import tiles

        return df.select(
            tiles.tile_x("lon", VIEW_ZOOM).alias("tile_x"),
            tiles.tile_y("lat", VIEW_ZOOM).alias("tile_y"),
            *extra,
        )

    def _full_view(self, state: DataFrame) -> DataFrame:
        return self._tiles(state.where("visible")).groupBy("tile_x", "tile_y").agg(
            F.count("*").cast("long").alias("n")
        )

    def cycle(self, stages) -> list[str]:
        from osm_spark.pipeline.incremental import apply_count_delta, count_delta
        from osm_spark.streaming.replication import STATE_COLS, apply_change_batch

        if self.next_batch == len(self.facts["batches"]):
            raise RuntimeError("out of generated change batches")
        b = self.facts["batches"][self.next_batch]
        self.next_batch += 1
        batch = self.spark.read.parquet(b["path"])
        state = self.table.scan()
        keys = ["tile_x", "tile_y"]

        def apply(st: DataFrame, bt: DataFrame):
            actions, new_state = apply_change_batch(st, bt)
            touched = bt.select("type", "id").distinct()
            updates = new_state.join(touched, ["type", "id"], "left_semi").select(*STATE_COLS)
            return actions.count(), updates.localCheckpoint()

        n_actions, updates = stages.layer("streaming.apply", apply, state, batch)

        def delta(st: DataFrame, up: DataFrame, view: DataFrame) -> DataFrame:
            old = st.join(up.select("type", "id"), ["type", "id"], "left_semi")
            contrib = self._tiles(old.where("visible"), F.lit(-1).alias("sign")).unionByName(
                self._tiles(up.where("visible"), F.lit(1).alias("sign"))
            )
            return apply_count_delta(view, count_delta(contrib, keys), keys).localCheckpoint()

        self.view = stages.layer("pipeline.incremental.delta", delta, state, updates, self.view)
        parent = self.table.current()
        snap = stages.layer("pipeline.table.merge",
                            lambda up: self.table.merge_upsert(up, "id"), updates)
        self.counts.update(self._merge_counts(parent, snap, b["rows"]))
        self.counts["streaming.actions"] = n_actions
        if n_actions != b["rows"]:
            return [f"{n_actions} actions for a batch of {b['rows']} changes"]
        return []

    def _merge_counts(self, parent: dict, snap: dict, batch_rows: int) -> dict:
        before = self.table.plan_files(snapshot_id=parent["id"])
        after = self.table.plan_files(snapshot_id=snap["id"])
        kept = {f["path"] for f in before}
        carried = sum(f["path"] in kept for f in after)
        written = [f for f in after if f["path"] not in kept]
        bytes_written = sum(os.path.getsize(f["path"]) for f in written)
        old_bytes = sum(os.path.getsize(f["path"]) for f in before)
        old_rows = sum(f["rows"] for f in before)
        return {
            "pipeline.table.files_rewritten": len(before) - carried,
            "pipeline.table.files_carried": carried,
            "pipeline.table.write_amp": bytes_written / (batch_rows * old_bytes / old_rows),
        }

    def final_check(self) -> list[str]:
        """The incrementally maintained view equals a full recompute."""
        def as_dict(df):
            return {(r["tile_x"], r["tile_y"]): r["n"] for r in df.collect()}

        full = as_dict(self._full_view(self.table.scan()))
        view = as_dict(self.view)
        if full != view:
            diff = len(set(full.items()) ^ set(view.items()))
            return [f"tile view differs from a full recompute in {diff} tiles"]
        return []


WORKLOADS = {w.name: w for w in (CrawlGeotile, OsmHistory)}
