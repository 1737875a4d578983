"""Distributed image segmentation — the i.segment analog (λ-flat zones).

Segments are the connected components of the pixel graph whose
4-adjacency edges keep only |value(p) - value(q)| <= lam (both finite):
the "λ-flat zone" of mathematical morphology — the parallelizable
formulation of threshold region growing. (GRASS i.segment's full
algorithm iteratively merges by REGION-MEAN similarity, which is
merge-order-dependent and inherently sequential; λ-flat zones are the
order-independent variant, so the tiled distributed result can be — and
is, tested — EXACTLY the whole-scene result. Documented capability
boundary, not an approximation of it.)

Decomposition (the regions.py pattern with a value predicate):

1. **Tile-local labeling** (mapInArrow, zero shuffle): vectorized
   Shiloach–Vishkin / FastSV connected components over the tile's
   λ-edges — min-root hooking + pointer jumping, O(log n) rounds of
   pure numpy, no Python-per-pixel work.
2. **Border stitch** (one equi join on (scene, gx, gy)): border pixels
   carry their VALUE; a probe->cell match becomes an edge iff the
   cross-border pair satisfies the same |Δ| <= lam predicate. Only
   O(perimeter) rows shuffle.
3. **Label reduction**: ONE grouped union-find pass over the segment
   graph (`regions.stitch_labels` — nodes are LOCAL segments, vastly
   fewer than pixels).
4. **Final fold**: ONE aggregation merges the partial stats (area, sum,
   min, max, scene-coordinate bbox — all partial-aggregable).

The pixel planes never travel; the exchanges carry border pixels,
segment partials, and the segment graph.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from . import codecs
from .tileops import batch_from_cols, batch_rows, nominal_dims
from .regions import (
    EXTRACT_SCHEMA, _fold_parts, border_triples, label_parts, stitch_labels,
)


def lambda_label(plane: np.ndarray, lam: float) -> tuple[np.ndarray, int]:
    """Connected components of |Δ| <= lam 4-adjacency on one plane.

    Returns (labels, n): int64 labels, -1 on non-finite cells, dense ids
    in [0, n). Vectorized Shiloach–Vishkin: every vertex starts as its
    own root; each round hooks the larger root of every λ-edge onto the
    smaller (min-reduction with np.minimum.at) and then pointer-jumps
    (parent = parent[parent]) until a fixpoint — O(log n) rounds, no
    per-pixel Python.
    """
    h, w = plane.shape
    n = h * w
    valid = np.isfinite(plane)
    flat = plane.ravel()
    idx = np.arange(n, dtype=np.int64)

    ea_list, eb_list = [], []
    # right edges
    m = valid[:, :-1] & valid[:, 1:] & (
        np.abs(plane[:, :-1] - plane[:, 1:]) <= lam)
    a = (idx.reshape(h, w)[:, :-1])[m]
    ea_list.append(a); eb_list.append(a + 1)
    # down edges
    m = valid[:-1, :] & valid[1:, :] & (
        np.abs(plane[:-1, :] - plane[1:, :]) <= lam)
    a = (idx.reshape(h, w)[:-1, :])[m]
    ea_list.append(a); eb_list.append(a + w)
    ea = np.concatenate(ea_list)
    eb = np.concatenate(eb_list)

    parent = idx.copy()
    while True:
        ra, rb = parent[ea], parent[eb]
        lo = np.minimum(ra, rb)
        hi = np.maximum(ra, rb)
        before = parent.copy()
        np.minimum.at(parent, hi, lo)
        parent = parent[parent]          # pointer jumping
        parent = parent[parent]
        if np.array_equal(parent, before):
            break
    # full path compression to true roots
    while True:
        nxt = parent[parent]
        if np.array_equal(nxt, parent):
            break
        parent = nxt

    labels = np.full(n, -1, dtype=np.int64)
    vm = valid.ravel()
    roots = parent[vm]
    _, dense = np.unique(roots, return_inverse=True)
    labels[vm] = dense
    k = int(dense.max()) + 1 if dense.size else 0
    return labels.reshape(h, w), k


# the extract_regions row layout plus the border pixel's value
_SEG_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields + [StructField("val", DoubleType())])


def _seg_extract(tiles: DataFrame, lam: float, src_col: str,
                 nom_w: int, nom_h: int) -> DataFrame:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in _SEG_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}

            def emit(scene, kind, node, area=0, ssum=0.0, vmin=0.0,
                     vmax=0.0, gx0=0, gy0=0, gx1=0, gy1=0, gx=0, gy=0,
                     val=0.0):
                ap["scene_id"](scene); ap["kind"](int(kind))
                ap["node"](int(node)); ap["area_px"](int(area))
                ap["sum_val"](float(ssum)); ap["min_val"](float(vmin))
                ap["max_val"](float(vmax))
                ap["gx0"](int(gx0)); ap["gy0"](int(gy0))
                ap["gx1"](int(gx1)); ap["gy1"](int(gy1))
                ap["gx"](int(gx)); ap["gy"](int(gy)); ap["val"](float(val))

            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                tx, ty = int(row.tile_x), int(row.tile_y)
                plane = codecs.decode_f32bt(getattr(row, src_col), w, h)
                labels, n = lambda_label(plane, lam)
                if n == 0:
                    continue
                # nominal dims, not this tile's — ragged edge tiles would
                # otherwise mis-place their scene coords (see extract_regions)
                ox, oy = tx * nom_w, ty * nom_h
                for part in label_parts(labels, n, plane, tx, ty, ox, oy):
                    emit(row.scene_id, 0, *part)
                # valid border pixels (value-carrying) + across-border probes
                nodes, gxs, gys, pxs, pys = border_triples(labels, tx, ty, ox, oy)
                for nd, gx, gy, px, py, v in zip(nodes, gxs, gys, pxs, pys,
                                                 plane[gys - oy, gxs - ox]):
                    emit(row.scene_id, 1, nd, gx=gx, gy=gy, val=v)
                    emit(row.scene_id, 2, nd, gx=px, gy=py, val=v)
            if cols["scene_id"]:
                yield batch_from_cols(cols, _SEG_SCHEMA)

    # mapInArrow cannot column-prune: select only what the kernel reads
    src = tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col)
    return src.mapInArrow(fn, _SEG_SCHEMA)


def segment_tiles(tiles: DataFrame, lam: float,
                  src_col: str = "lst_bytes") -> DataFrame:
    """λ-flat-zone segmentation across tile borders: one row per segment
    of the WHOLE scene — scene_id, segment_id (stable packed label),
    area_px, mean_val, min_val, max_val, scene-coordinate bbox, n_parts.

    Same grid convention as regions.extract_regions (scene pixel coords
    are tile_x * nom_w + px with NOMINAL max-over-grid tile dims, so
    ragged right/bottom-edge tiles place correctly).
    """
    if not np.isfinite(lam) or lam < 0:
        raise ValueError(f"lam must be finite and >= 0, got {lam}")
    from pyspark import StorageLevel

    nom_w, nom_h = nominal_dims(tiles)
    ex = _seg_extract(tiles, lam, src_col, nom_w, nom_h) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        lab = stitch_labels(
            ex, accept=F.abs(F.col("pval") - F.col("val")) <= F.lit(lam))
        return _fold_parts(ex.filter("kind = 0"), lab, "segment_id")
    finally:
        ex.unpersist()
