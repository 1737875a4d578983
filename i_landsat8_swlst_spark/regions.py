"""Distributed raster connected-component labeling — threshold-region
("urban heat island" / hot-spot) extraction over a tiled LST product.

The classic raster->object step the reference workflow runs after the LST
map (r.reclass + r.clump + r.report in GRASS terms): binarize the plane at
a threshold, label 4-connected regions, report per-region area / value
stats / bounding box. A region routinely spans many tiles, so a
single-machine labeling pass does not scale; this module runs the textbook
distributed decomposition:

1. **Tile-local labeling** (mapInArrow, embarrassingly parallel): each
   tile labels its own mask with a two-pass run-union algorithm and emits
   (a) one row per LOCAL region with its partial stats and (b) its masked
   border pixels in SCENE pixel coordinates.
2. **Border stitch** (one equi join, `stitch_labels`): a border pixel at
   (gx, gy) probes its across-border 4-neighbors (`border_triples`);
   matching (scene, gx, gy) keys yield edges between local-region nodes.
   Only border pixels — O(perimeter), not O(area) — cross this shuffle.
3. **Label reduction**: min label per connected component of the region
   graph (one node per LOCAL region, vastly smaller than the pixel
   count), computed by ONE grouped union-find pass per scene — see
   `_cc_min_label`.
4. **Final fold**: one aggregation keyed by (scene, root label) merges
   the partial stats; every statistic emitted is partial-aggregable.

Steps 2-3 serve every cross-tile connected-component operator (r.lake
here, landscape patches, segments, to_vect regions): each emits kind
0/1/2 rows from its own tile pass and calls `stitch_labels`.

Scale shape: pass 1 is pixel-parallel with zero shuffle; passes 2-4 touch
only region/border rows. The pixel planes never travel.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from . import codecs
from .tileops import batch_from_cols, batch_rows, nominal_dims

# ONE extraction pass emits both row kinds (kind 0 = local region with
# partial stats; kind 1 = masked border cell; kind 2 = across-border probe)
# so each tile is decoded and labeled exactly once — two passes would scan
# the pixel bytes twice, the dominant cost at scale. Unused fields are 0.
EXTRACT_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("kind", IntegerType()),
    StructField("node", LongType()),      # packed (tile_x, tile_y, local label)
    StructField("area_px", LongType()),
    StructField("sum_val", DoubleType()),
    StructField("min_val", DoubleType()),
    StructField("max_val", DoubleType()),
    StructField("gx0", IntegerType()),    # inclusive bbox, scene pixel coords
    StructField("gy0", IntegerType()),
    StructField("gx1", IntegerType()),
    StructField("gy1", IntegerType()),
    StructField("gx", IntegerType()),     # border cell / probe coordinate
    StructField("gy", IntegerType()),
])


_NODE_LIMIT = 1 << 21           # each packed node field is 21 bits


def _pack_node(tile_x: int, tile_y: int, label: np.ndarray) -> np.ndarray:
    """Pack (tile_x, tile_y, per-tile label) into one int64 node id. A
    field outside [0, 2**21) would spill into its neighbour's bits and
    alias another tile's node, so it raises."""
    label = np.asarray(label, dtype=np.int64)
    if (max(tile_x, tile_y, label.max(initial=0)) >= _NODE_LIMIT
            or min(tile_x, tile_y, label.min(initial=0)) < 0):
        raise ValueError(f"_pack_node: tile ({tile_x}, {tile_y}) or a label "
                         f"is outside the 21-bit node field [0, 2**21)")
    return (np.int64(tile_x) << 42) | (np.int64(tile_y) << 21) | label


def label_tile(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """Two-pass 4-connectivity labeling of one boolean plane.

    Returns (labels, n): labels is int64, -1 outside the mask, else a
    dense id in [0, n). Horizontal runs get provisional ids; vertical
    overlaps union them (tiny union-find over run ids — runs per tile are
    O(h * w / run_len), far fewer than pixels).
    """
    h, w = mask.shape
    padded = np.zeros((h, w + 1), dtype=bool)
    padded[:, :w] = mask
    flat = padded.ravel()
    starts = flat & ~np.concatenate(([False], flat[:-1]))
    run_of = np.cumsum(starts) - 1          # run id per flat cell
    n_runs = int(starts.sum())
    labels = np.full(padded.shape, -1, dtype=np.int64)
    labels.ravel()[flat] = run_of[flat]
    labels = labels[:, :w]

    parent = np.arange(n_runs, dtype=np.int64)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    both = mask[1:, :] & mask[:-1, :]
    ra = labels[1:, :][both]
    rb = labels[:-1, :][both]
    # unique run pairs only — the union count is O(runs), not O(pixels)
    for a, b in zip(*np.unique(np.stack([ra, rb]), axis=1)) if ra.size else ():
        fa, fb = find(int(a)), find(int(b))
        if fa != fb:
            parent[max(fa, fb)] = min(fa, fb)
    if n_runs:
        roots = np.array([find(int(i)) for i in range(n_runs)], dtype=np.int64)
        _, dense = np.unique(roots, return_inverse=True)
        out = np.full((h, w), -1, dtype=np.int64)
        m = labels >= 0
        out[m] = dense[labels[m]]
        return out, int(dense.max()) + 1
    return labels, 0


def border_triples(labels: np.ndarray, tx: int, ty: int, ox: int, oy: int
                   ) -> tuple[np.ndarray, ...]:
    """The stitch rows of one labelled tile (``labels`` -1 off the mask,
    (ox, oy) its scene origin from the NOMINAL tile dims): for every
    labelled pixel on each tile border, (node, gx, gy, probe_gx, probe_gy)
    — its packed node, scene cell and the cell one step outward across
    that border. A pixel on two borders (a corner, a 1-px-wide tile)
    appears once per border."""
    h, w = labels.shape
    xs = np.concatenate([np.arange(w), np.arange(w),
                         np.zeros(h, np.int64), np.full(h, w - 1)])
    ys = np.concatenate([np.zeros(w, np.int64), np.full(w, h - 1),
                         np.arange(h), np.arange(h)])
    # top, bottom, left, right: probe one step outward
    dx = np.repeat([0, 0, -1, 1], [w, w, h, h])
    dy = np.repeat([-1, 1, 0, 0], [w, w, h, h])
    lab = labels[ys, xs]
    m = lab >= 0
    gx, gy = ox + xs[m], oy + ys[m]
    return _pack_node(tx, ty, lab[m]), gx, gy, gx + dx[m], gy + dy[m]


def label_parts(labels: np.ndarray, n: int, plane: np.ndarray, tx: int,
                ty: int, ox: int, oy: int) -> Iterator[tuple]:
    """Per-label partial stats of one tile, one tuple per label:
    (node, area, sum, min, max, gx0, gy0, gx1, gy1) with an inclusive
    scene-coordinate bbox. Every field folds across tiles with sum / min /
    max (see `_fold_parts`)."""
    h, w = labels.shape
    m = labels >= 0
    lab = labels[m]
    vals = plane[m]
    yy, xx = np.nonzero(m)
    area = np.bincount(lab, minlength=n)
    ssum = np.bincount(lab, weights=vals, minlength=n)
    node = _pack_node(tx, ty, np.arange(n))
    vmin = np.full(n, np.inf)
    vmax = np.full(n, -np.inf)
    np.minimum.at(vmin, lab, vals)
    np.maximum.at(vmax, lab, vals)
    x0 = np.full(n, w + 1.0); y0 = np.full(n, h + 1.0)
    x1 = np.full(n, -1.0); y1 = np.full(n, -1.0)
    np.minimum.at(x0, lab, xx); np.minimum.at(y0, lab, yy)
    np.maximum.at(x1, lab, xx); np.maximum.at(y1, lab, yy)
    for k in range(n):
        yield (node[k], area[k], ssum[k], vmin[k], vmax[k],
               ox + x0[k], oy + y0[k], ox + x1[k], oy + y1[k])


def _extract_pass(tiles: DataFrame, threshold: float, src_col: str,
                  nom_w: int, nom_h: int) -> DataFrame:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in EXTRACT_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}

            def emit(scene, kind, node, area=0, ssum=0.0, vmin=0.0, vmax=0.0,
                     gx0=0, gy0=0, gx1=0, gy1=0, gx=0, gy=0):
                ap["scene_id"](scene); ap["kind"](kind); ap["node"](int(node))
                ap["area_px"](int(area)); ap["sum_val"](float(ssum))
                ap["min_val"](float(vmin)); ap["max_val"](float(vmax))
                ap["gx0"](int(gx0)); ap["gy0"](int(gy0))
                ap["gx1"](int(gx1)); ap["gy1"](int(gy1))
                ap["gx"](int(gx)); ap["gy"](int(gy))

            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                tx, ty = int(row.tile_x), int(row.tile_y)
                plane = codecs.decode_f32bt(getattr(row, src_col), w, h).astype(np.float64)
                mask = np.isfinite(plane) & (plane > threshold)
                if not mask.any():
                    continue
                labels, n = label_tile(mask)
                # NOMINAL dims, not this tile's: ragged right/bottom-edge
                # tiles are shorter, and using the local w/h there would
                # shift their scene coords so border cell/probe joins miss
                ox, oy = tx * nom_w, ty * nom_h
                for part in label_parts(labels, n, plane, tx, ty, ox, oy):
                    emit(row.scene_id, 0, *part)
                for nd, gx, gy, px, py in zip(*border_triples(labels, tx, ty, ox, oy)):
                    emit(row.scene_id, 1, nd, gx=gx, gy=gy)
                    emit(row.scene_id, 2, nd, gx=px, gy=py)
            if cols["scene_id"]:
                yield batch_from_cols(cols, EXTRACT_SCHEMA)

    return tiles.mapInArrow(fn, EXTRACT_SCHEMA)


def _cc_min_label(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-scene minimum label over connected components: each node row
    (scene_id, v) gets label = min node id reachable from it through its
    scene's (v, u) edges — exactly the fixpoint of min-label propagation,
    computed in ONE grouped union-find pass instead of O(diameter) rounds.

    The old shape paid ~4 Spark jobs (two equi joins + checkpoint + change
    count) PER ROUND; a chain of regions across k tiles took k rounds, so
    wall time was diameter-bound with tiny data per round (measured 15 s of
    a 21 s to_vect on a 1 Mpx scene). A scene's stitch graph is O(local
    regions + cross-tile adjacencies) small rows — the same per-task bound
    the ring/sector assemblies already accept — so the whole reduction fits
    one applyInPandas task per scene: one exchange, zero iteration, labels
    IDENTICAL (min over component is order-free)."""
    sch = StructType([
        StructField("scene_id", StringType()),
        StructField("v", LongType()),
        StructField("label", LongType()),
    ])
    # node rows carry u = -1 (node ids are packed nonnegative int64); a
    # NULL here would make pandas coerce the long column to float64 and
    # corrupt ids above 2^53 (packed tile_x >= 2^11)
    both = (nodes.select("scene_id", "v", F.lit(-1).cast("long").alias("u"))
            .unionAll(edges.select("scene_id", F.col("v").cast("long"),
                                   F.col("u").cast("long"))))

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(a: int) -> int:
            root = a
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(a, a) != a:          # path compression
                parent[a], a = root, parent[a]
            return root

        uv = pdf.u.to_numpy(np.int64)
        em = uv != -1
        for a, b in zip(pdf.v.to_numpy(np.int64)[em].tolist(),
                        uv[em].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # root = component min
        node_v = pdf.v.to_numpy(np.int64)[~em]
        return pd.DataFrame({
            "scene_id": pdf["scene_id"].to_numpy()[~em],
            "v": node_v,
            "label": np.fromiter((find(int(a)) for a in node_v),
                                 dtype=np.int64, count=len(node_v)),
        })

    return both.groupBy("scene_id").applyInPandas(lambda _k, pdf: uf(pdf), sch)


def _stitch_join(ex: DataFrame, on: tuple[str, ...] = (),
                 accept: Column | None = None) -> DataFrame:
    """The border stitch of an extract frame, unmaterialized: every kind-2
    probe equi-joined to the kind-1 cell it lands on (keys scene_id, *on,
    gx, gy), kept when the two nodes differ and ``accept`` holds. In
    ``accept`` the cell's columns keep their names and the probe's carry a
    ``p`` prefix (``pval``). Returns directed edges (scene_id, v, u) with
    v the probing node. Column pruning trims both sides to the keys and
    the columns the filter reads, so only those cross the exchange."""
    keys = ["scene_id", *on, "gx", "gy"]
    rest = [c for c in ex.columns if c not in keys]
    cells = ex.filter("kind = 1").select(*keys, *rest)
    probes = ex.filter("kind = 2").select(
        *keys, *(F.col(c).alias("p" + c) for c in rest))
    keep = F.col("pnode") != F.col("node")
    if accept is not None:
        keep = keep & accept
    return (probes.join(cells, on=keys).filter(keep)
            .select("scene_id", F.col("pnode").alias("v"),
                    F.col("node").alias("u")))


def stitch_labels(ex: DataFrame, on: tuple[str, ...] = (),
                  accept: Column | None = None) -> DataFrame:
    """Global labels for the local nodes of a persisted extract frame
    (kind 0 = node, 1 = border cell, 2 = across-border probe, the rows
    `border_triples` yields): the probe->cell stitch (`_stitch_join`),
    materialized once, symmetrised, and reduced by `_cc_min_label`.
    Returns (scene_id, v, label) for every kind-0 node; label is the
    smallest node id of its cross-tile component."""
    stitched = _stitch_join(ex, on, accept).localCheckpoint()
    edges = stitched.unionAll(
        stitched.select("scene_id", F.col("u").alias("v"),
                        F.col("v").alias("u")))
    nodes = ex.filter("kind = 0").select("scene_id", F.col("node").alias("v"))
    return _cc_min_label(nodes, edges)


def _fold_parts(parts: DataFrame, lab: DataFrame, id_col: str) -> DataFrame:
    """Fold the kind-0 `label_parts` rows of each global label into one
    row: scene_id, ``id_col`` (the label), area_px, mean_val, min_val,
    max_val, gx0/gy0/gx1/gy1 and n_parts (tile-local parts merged),
    materialized so the caller can release the extract frame."""
    return (
        parts.withColumnRenamed("node", "v")
        .join(lab, on=["scene_id", "v"])
        .groupBy("scene_id", F.col("label").alias(id_col))
        .agg(F.sum("area_px").alias("area_px"),
             (F.sum("sum_val") / F.sum("area_px")).alias("mean_val"),
             F.min("min_val").alias("min_val"),
             F.max("max_val").alias("max_val"),
             F.min("gx0").alias("gx0"), F.min("gy0").alias("gy0"),
             F.max("gx1").alias("gx1"), F.max("gy1").alias("gy1"),
             F.count(F.lit(1)).alias("n_parts"))
        .localCheckpoint()
    )


def extract_regions(tiles: DataFrame, threshold: float,
                    src_col: str = "lst_bytes") -> DataFrame:
    """Threshold-region extraction over a tile table (``lst_tiles`` output):
    one row per 4-connected region of ``plane > threshold`` ACROSS tile
    borders, with exact area / value stats / scene-coordinate bbox.

    Scene pixel coords are tile_x * nom_w + px where nom_w/nom_h are the
    NOMINAL (max-over-grid) tile dims, so ragged right/bottom-edge tiles
    place correctly. Returns: scene_id, region_id (stable packed label),
    area_px, mean_val, min_val, max_val, gx0/gy0/gx1/gy1, n_parts
    (tile-local parts merged into the region).
    """
    # one decode+label pass; the extraction (regions + border cells) is
    # O(regions + perimeter) — tiny vs the pixel planes — so persisting it
    # for the multi-consumer graph below is the scale-correct move
    from pyspark import StorageLevel

    nom_w, nom_h = nominal_dims(tiles)
    ex = _extract_pass(tiles, threshold, src_col, nom_w, nom_h) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _fold_parts(ex.filter("kind = 0"), stitch_labels(ex),
                           "region_id")
    finally:
        ex.unpersist()


# --------------------------------------------------------------------------
# r.lake: flood-fill below a water level from seed cells
# --------------------------------------------------------------------------

_LAKE_PASS_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("kind", IntegerType()),    # 0 node, 1 border cell, 2 probe,
    StructField("node", LongType()),       # 3 label+depth planes
    StructField("gx", IntegerType()),
    StructField("gy", IntegerType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("label_bytes", BinaryType()),
    StructField("depth_bytes", BinaryType()),
])

LAKE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("lake_bytes", BinaryType()),   # f32 depth, NaN off-lake
    StructField("area_px", LongType()),
    StructField("volume", DoubleType()),       # sum of depths (px * depth)
    StructField("n_regions", IntegerType()),
])

_SEED_NODE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("v", LongType()),
])


def _lake_pass(tiles: DataFrame, level: float, src_col: str,
               nom_w: int, nom_h: int) -> DataFrame:
    """One decode+label pass for the lake mask ``elev < level`` (finite):
    kinds 0-2 mirror _extract_pass's stitching convention; kind 3 carries
    the tile's dense label plane (<i4, -1 dry) and depth plane
    (<f4 level - elev, NaN dry) so the filter pass never re-decodes."""
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in _LAKE_PASS_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}

            def emit(scene, kind, node=0, gx=0, gy=0, tx=0, ty=0, w=0, h=0,
                     lb=None, db=None):
                ap["scene_id"](scene); ap["kind"](kind); ap["node"](int(node))
                ap["gx"](int(gx)); ap["gy"](int(gy))
                ap["tile_x"](int(tx)); ap["tile_y"](int(ty))
                ap["w"](int(w)); ap["h"](int(h))
                ap["label_bytes"](lb); ap["depth_bytes"](db)

            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                tx, ty = int(row.tile_x), int(row.tile_y)
                plane = codecs.decode_f32bt(getattr(row, src_col), w, h) \
                    .astype(np.float64)
                mask = np.isfinite(plane) & (plane < level)
                if not mask.any():
                    continue
                labels, n = label_tile(mask)
                depth = np.where(mask, level - plane, np.nan)
                emit(row.scene_id, 3, tx=tx, ty=ty, w=w, h=h,
                     lb=labels.astype("<i4").tobytes(),
                     db=depth.astype("<f4").tobytes())
                for node in _pack_node(tx, ty, np.arange(n)):
                    emit(row.scene_id, 0, node, tx=tx, ty=ty)
                ox, oy = tx * nom_w, ty * nom_h
                for nd, gx, gy, px, py in zip(*border_triples(labels, tx, ty, ox, oy)):
                    emit(row.scene_id, 1, nd, gx=gx, gy=gy)
                    emit(row.scene_id, 2, nd, gx=px, gy=py)
            if cols["scene_id"]:
                yield batch_from_cols(cols, _LAKE_PASS_SCHEMA)

    return tiles.mapInArrow(fn, _LAKE_PASS_SCHEMA)


def lake_tiles(tiles: DataFrame, seeds: DataFrame, level: float,
               src_col: str = "lst_bytes") -> DataFrame:
    """r.lake analog: the lake filled to ``level`` from seed cells — the
    4-connected components of ``elev < level`` that CONTAIN a seed, with
    per-pixel depth (level − elev) and per-tile area/volume. Components
    below the level but hydrologically separate from every seed stay dry
    (the whole point of r.lake vs a plain threshold).

    ``seeds`` carries (scene_id, gx, gy) scene-pixel coordinates (lon/lat
    callers geocode exactly like `spatial.sample_raster`). A seed on a dry
    cell (elev >= level, NULL, or off every masked tile) raises — GRASS
    refuses seeds above the water level too.

    Plan: ONE decode+label pass (planes + O(perimeter) stitch rows), the
    `stitch_labels` border equi join and ONE grouped union-find pass over
    the node graph (`_cc_min_label`), a broadcast seed lookup, then ONE hash
    join of the kept node labels back to the label planes on the tile key.
    Pixel bytes cross the wire once as label+depth planes; everything else
    is O(regions + perimeter).
    """
    from pyspark import StorageLevel

    nom_w, nom_h = nominal_dims(tiles)
    ex = _lake_pass(tiles, level, src_col, nom_w, nom_h) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        lab = stitch_labels(ex)

        planes = ex.filter("kind = 3").select(
            "scene_id", "tile_x", "tile_y", "w", "h",
            "label_bytes", "depth_bytes")

        s = seeds.select(
            "scene_id",
            (F.col("gx") / nom_w).cast("int").alias("tile_x"),
            (F.col("gy") / nom_h).cast("int").alias("tile_y"),
            (F.col("gx") % nom_w).alias("px"),
            (F.col("gy") % nom_h).alias("py"))
        sj = planes.join(F.broadcast(s), on=["scene_id", "tile_x", "tile_y"])

        def seed_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                cols: dict[str, list] = {"scene_id": [], "v": []}
                for row in batch_rows(batch):
                    labels = np.frombuffer(row.label_bytes, "<i4").reshape(
                        int(row.h), int(row.w))
                    lv = int(labels[int(row.py), int(row.px)])
                    if lv < 0:
                        raise ValueError(
                            f"lake_tiles: seed ({row.px}, {row.py}) of tile "
                            f"({row.tile_x}, {row.tile_y}) scene "
                            f"{row.scene_id!r} is not below the water level")
                    cols["scene_id"].append(row.scene_id)
                    cols["v"].append(int(_pack_node(
                        int(row.tile_x), int(row.tile_y),
                        np.array([lv]))[0]))
                if cols["scene_id"]:
                    yield batch_from_cols(cols, _SEED_NODE_SCHEMA)

        seed_nodes = sj.mapInArrow(seed_fn, _SEED_NODE_SCHEMA)
        n_matched = seed_nodes.count()
        n_seeds = seeds.count()
        if n_matched != n_seeds:
            raise ValueError(
                f"lake_tiles: {n_seeds - n_matched} of {n_seeds} seeds hit "
                f"no below-level cell (off-grid or dry tile)")
        seed_regions = (seed_nodes.join(lab, on=["scene_id", "v"])
                        .select("scene_id", "label").distinct())
        keep = (lab.join(F.broadcast(seed_regions), on=["scene_id", "label"])
                .select("scene_id", "v", "label",
                        F.shiftright("v", 42).cast("int").alias("tile_x"),
                        (F.shiftright("v", 21) % (1 << 21)).cast("int")
                        .alias("tile_y")))

        def fill_fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty or right.empty:
                return pd.DataFrame({f.name: pd.Series(dtype=object)
                                     for f in LAKE_SCHEMA})
            row = left.iloc[0]
            w, h = int(row.w), int(row.h)
            labels = np.frombuffer(row.label_bytes, "<i4").reshape(h, w)
            depth = np.frombuffer(row.depth_bytes, "<f4").reshape(h, w)
            local = (right.v.to_numpy(np.int64) & ((1 << 21) - 1))
            m = np.isin(labels, local)
            if not m.any():
                return pd.DataFrame({f.name: pd.Series(dtype=object)
                                     for f in LAKE_SCHEMA})
            lake = np.where(m, depth, np.float32(np.nan)).astype("<f4")
            return pd.DataFrame({
                "scene_id": [row.scene_id],
                "tile_x": [int(row.tile_x)], "tile_y": [int(row.tile_y)],
                "w": [w], "h": [h],
                "lake_bytes": [lake.tobytes()],
                "area_px": [int(m.sum())],
                "volume": [float(depth[m].astype(np.float64).sum())],
                "n_regions": [int(right.label.nunique())],
            })

        key = ["scene_id", "tile_x", "tile_y"]
        out = (planes.groupBy(*key)
               .cogroup(keep.groupBy(*key))
               .applyInPandas(fill_fn, LAKE_SCHEMA)
               .localCheckpoint())  # materialize before unpersisting base
        return out
    finally:
        ex.unpersist()
