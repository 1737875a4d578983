"""Landscape metrics over a quantized raster — the r.li analog.

Per-(scene, class) structure metrics of a globally-quantized plane
(class = linear bin over the per-scene finite range, the same
`multiband.scene_ranges` contract as texture/stretch/crosstab):

- ``area_px``     — pixels of the class;
- ``edge_px``     — 4-adjacent valid-valid pixel pairs whose classes
                    differ, credited to BOTH classes (NaN and scene-edge
                    boundaries are not edges — documented choice);
- ``n_patches``   — 4-connected components of the class across tile
                    borders;
- ``mean_patch_px`` / ``largest_patch_px`` — patch-size stats.

Everything comes out of ONE pixel scan (mapInArrow): each tile
quantizes once, labels each present class with the run-union
`regions.label_tile` kernel (labels offset to a per-tile dense space so
packed nodes stay unique across classes), counts its WITHIN-tile edge
credits and class areas, and emits only O(perimeter + classes) rows:

  kind 0  local patch        (class, node, area)
  kind 1  patch border cell  (class, node, gx, gy)
  kind 2  patch border probe (class, node, gx±1, gy±1)
  kind 3  edge cell          (class, gx, gy)   left/top border pixels
  kind 4  edge probe         (class, gx, gy)   right/bottom, directed
  kind 5  tile partials      (class, area, within-tile edge credits)

Cross-tile patch stitching is the regions.py decomposition verbatim
(`regions.stitch_labels`: probe->cell equi join on (scene, class, gx, gy)
+ ONE grouped union-find pass over the patch graph);
cross-tile edges are one directed probe->cell equi join (right/down
only, so each boundary crossing is counted exactly once). The pixel
planes never travel: the exchanges carry border pixels and per-class
partials.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from . import codecs
from .multiband import scene_ranges_df
from .tileops import batch_from_cols, batch_rows, nominal_dims
from .regions import _pack_node, border_triples, label_tile, stitch_labels
from .texture import _quantize

_LS_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("kind", IntegerType()),
    StructField("cls", IntegerType()),
    StructField("node", LongType()),
    StructField("area_px", LongType()),
    StructField("edge_px", LongType()),
    StructField("gx", IntegerType()),
    StructField("gy", IntegerType()),
])


def _extract(tiles: DataFrame, src_col: str, levels: int,
             ranges_df: DataFrame, nom_w: int, nom_h: int) -> DataFrame:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in _LS_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}

            def emit(scene, kind, cls, node=0, area=0, edge=0, gx=0, gy=0):
                ap["scene_id"](scene); ap["kind"](int(kind))
                ap["cls"](int(cls)); ap["node"](int(node))
                ap["area_px"](int(area)); ap["edge_px"](int(edge))
                ap["gx"](int(gx)); ap["gy"](int(gy))

            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                tx, ty = int(row.tile_x), int(row.tile_y)
                plane = codecs.decode_f32bt(getattr(row, src_col), w, h)
                # all-NaN scene -> no range row (NULL after the left join);
                # any range quantizes it identically (every pixel level -1)
                vmin = 0.0 if row.vmin is None else float(row.vmin)
                vmax = 1.0 if row.vmin is None else float(row.vmax)
                q = _quantize(plane, vmin, vmax, levels)
                # nominal dims, not this tile's — ragged edge tiles would
                # otherwise mis-place scene coords (see extract_regions)
                ox, oy = tx * nom_w, ty * nom_h

                # within-tile edge credits: right + down valid-valid pairs
                for a, b in ((q[:, :-1], q[:, 1:]), (q[:-1, :], q[1:, :])):
                    m = (a >= 0) & (b >= 0) & (a != b)
                    if m.any():
                        credits = np.bincount(
                            np.concatenate([a[m], b[m]]), minlength=levels)
                        for c in np.flatnonzero(credits):
                            emit(row.scene_id, 5, c, edge=credits[c])

                # per-class areas + per-class patch labeling, labels offset
                # into one dense per-tile space so packed nodes are unique
                base = 0
                for c in np.unique(q[q >= 0]):
                    mask = q == c
                    labels, n = label_tile(mask)
                    area = np.bincount(labels[labels >= 0], minlength=n)
                    node = _pack_node(tx, ty, base + np.arange(n))
                    for k in range(n):
                        emit(row.scene_id, 0, c, node[k], area=area[k])
                    emit(row.scene_id, 5, c, area=int(mask.sum()))
                    # class-masked border cells + across-border probes
                    tri = border_triples(np.where(labels >= 0, base + labels, -1),
                                         tx, ty, ox, oy)
                    for nd, gx, gy, px, py in zip(*tri):
                        emit(row.scene_id, 1, c, nd, gx=gx, gy=gy)
                        emit(row.scene_id, 2, c, nd, gx=px, gy=py)
                    base += n

                # directed cross-tile edge rows: cells on left/top borders,
                # probes shot right/down from right/bottom borders. A
                # horizontal probe lands on a left-column cell, a vertical
                # probe on a top-row cell — both land AT the partner's
                # coordinate, so the (0,0) corner must emit its cell ONCE
                # (the top-row loop skips x=0) or crossings into it would
                # join twice.
                edges_sides = (
                    (q[:, 0], np.zeros(h, np.int64), np.arange(h), 3, 0, 0),
                    (q[0, 1:], np.arange(1, w), np.zeros(w - 1, np.int64), 3, 0, 0),
                    (q[:, w - 1], np.full(h, w - 1, np.int64), np.arange(h), 4, 1, 0),
                    (q[h - 1, :], np.arange(w), np.full(w, h - 1, np.int64), 4, 0, 1),
                )
                for sq, xs, ys, kind, dx, dy in edges_sides:
                    sm = sq >= 0
                    for gx, gy, c in zip(ox + xs[sm] + dx, oy + ys[sm] + dy,
                                         sq[sm]):
                        emit(row.scene_id, kind, c, gx=gx, gy=gy)
            if cols["scene_id"]:
                yield batch_from_cols(cols, _LS_SCHEMA)

    # mapInArrow cannot column-prune: select only what the kernel reads.
    # The per-scene range rides as a tiny broadcast-joined DataFrame (a
    # closure dict would grow O(scenes) and ship per task).
    src = (tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col)
           .join(F.broadcast(ranges_df), on="scene_id", how="left"))
    return src.mapInArrow(fn, _LS_SCHEMA)


def class_metrics(tiles: DataFrame, src_col: str = "lst_bytes",
                  levels: int = 8) -> DataFrame:
    """Per-(scene, class) landscape metrics of one globally-quantized
    plane column. Returns scene_id, cls, area_px, edge_px, n_patches,
    mean_patch_px, largest_patch_px.

    Plan: one pixel scan; then equi joins / aggs over border-pixel and
    patch-graph rows only (O(perimeter + patches), never O(pixels)).
    """
    if not 2 <= levels <= 64:
        raise ValueError(f"levels must be in [2, 64], got {levels}")
    from pyspark import StorageLevel

    ranges_df = scene_ranges_df(tiles, src_col)
    nom_w, nom_h = nominal_dims(tiles)
    ex = _extract(tiles, src_col, levels, ranges_df, nom_w, nom_h) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        patches = ex.filter("kind = 0")
        lab = stitch_labels(ex, on=("cls",))

        patch_px = (
            patches.withColumnRenamed("node", "v")
            .join(lab, on=["scene_id", "v"])
            .groupBy("scene_id", "cls", "label")
            .agg(F.sum("area_px").alias("patch_px"))
        )
        patch_stats = patch_px.groupBy("scene_id", "cls").agg(
            F.count(F.lit(1)).alias("n_patches"),
            (F.sum("patch_px") / F.count(F.lit(1))).alias("mean_patch_px"),
            F.max("patch_px").alias("largest_patch_px"),
        )

        # cross-tile edge crossings: directed probe -> cell, differing
        # classes credit both sides
        ec = (ex.filter("kind = 3")
              .select("scene_id", "gx", "gy", F.col("cls").alias("ca")))
        ep = (ex.filter("kind = 4")
              .select("scene_id", "gx", "gy", F.col("cls").alias("cb")))
        crossing = (ep.join(ec, on=["scene_id", "gx", "gy"])
                    .filter(F.col("ca") != F.col("cb")))
        cross_credit = (
            crossing.select("scene_id", F.explode(F.array("ca", "cb"))
                            .alias("cls"))
            .groupBy("scene_id", "cls")
            .agg(F.count(F.lit(1)).alias("edge_cross")))

        partials = (ex.filter("kind = 5")
                    .groupBy("scene_id", "cls")
                    .agg(F.sum("area_px").alias("area_px"),
                         F.sum("edge_px").alias("edge_in")))

        out = (
            partials
            .join(cross_credit, on=["scene_id", "cls"], how="left")
            .join(patch_stats, on=["scene_id", "cls"], how="left")
            .select(
                "scene_id", "cls", "area_px",
                (F.col("edge_in")
                 + F.coalesce("edge_cross", F.lit(0))).alias("edge_px"),
                "n_patches", "mean_patch_px", "largest_patch_px")
            .localCheckpoint()  # materialize before unpersisting the base
        )
        return out
    finally:
        ex.unpersist()


def scene_diversity(metrics: DataFrame) -> DataFrame:
    """Scene-level composition metrics from class_metrics output: class
    richness, Shannon diversity H' = -sum p ln p over class area shares,
    evenness H'/ln(richness), and the largest-class share. Pure Catalyst
    window + agg — no raster access."""
    tot = F.sum("area_px").over(Window.partitionBy("scene_id"))
    per = metrics.select("scene_id", "cls",
                         (F.col("area_px") / tot).alias("p"))
    return (per.groupBy("scene_id").agg(
        F.count(F.lit(1)).alias("richness"),
        (-F.sum(F.col("p") * F.log("p"))).alias("shannon_h"),
        F.max("p").alias("dominance"),
    ).withColumn(
        "evenness",
        F.when(F.col("richness") > 1,
               F.col("shannon_h") / F.log(F.col("richness").cast("double")))))
