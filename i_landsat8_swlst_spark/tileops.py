"""Tile-UDF toolkit: the Arrow and layout helpers every mapInArrow operator
shares — Spark->Arrow schemas, batch <-> row/column conversion, batch
re-chunking, finite stats, the small-scan spread and the generic halo
exchange. Pure helpers: this module imports no operator module.
"""

from __future__ import annotations

import collections
import functools
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)


@functools.lru_cache(maxsize=256)
def arrow_schema(spark_schema: StructType) -> pa.Schema:
    """The Arrow schema Spark itself maps ``spark_schema`` to (every field
    type it admits: int/bigint/string ids, list columns, ...), built once
    per schema per process rather than per batch."""
    return to_arrow_schema(spark_schema)


def to_batch(pdf: pd.DataFrame, spark_schema: StructType) -> pa.RecordBatch:
    """Build an Arrow batch with exactly the declared schema (explicit casts
    so pandas dtype drift can never change the UDF contract)."""
    schema = arrow_schema(spark_schema)
    arrays = [pa.array(pdf[f.name], type=f.type) for f in schema]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def batch_from_cols(cols: dict[str, list], spark_schema: StructType) -> pa.RecordBatch:
    """Arrow batch straight from per-column Python lists — skips the
    pandas.DataFrame detour in the hot tile loop."""
    schema = arrow_schema(spark_schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in schema], schema=schema)


def batch_rows(batch: pa.RecordBatch):
    """Iterate an Arrow batch as attribute-access rows without converting to
    pandas (object boxing of 17 columns per tile showed up in the profile)."""
    Row = collections.namedtuple("Row", batch.schema.names, rename=True)
    return map(Row._make, zip(*(batch.column(i).to_pylist()
                                for i in range(batch.num_columns))))


def coalesce_batches(batches, min_rows: int = 8192):
    """Re-chunk an Arrow batch stream to >= min_rows rows per batch.

    The session-wide maxRecordsPerBatch is sized for ~65 KB binary tile
    rows (64/batch); point-row operators fed through the same hop would see
    thousands of 64-row batches, and their per-batch numpy setup dominates
    the kernel (guide §4.2: keep batches large enough for vectorization to
    pay off). Row order is preserved — consecutive batches concatenate —
    so operator output is row-identical, only batch boundaries move."""
    buf: list[pa.RecordBatch] = []
    n = 0
    for b in batches:
        if b.num_rows == 0:
            continue
        if b.num_rows >= min_rows and not buf:
            yield b
            continue
        buf.append(b)
        n += b.num_rows
        if n >= min_rows:
            yield from pa.Table.from_batches(buf).combine_chunks() \
                .to_batches(max_chunksize=None)
            buf, n = [], 0
    if buf:
        yield from pa.Table.from_batches(buf).combine_chunks() \
            .to_batches(max_chunksize=None)


def finite_stats(a: np.ndarray) -> tuple[int, float | None, float | None, float | None]:
    """(n_finite, min, max, mean) in one compaction pass — np.nanmin/nanmean
    each copy the full array internally; for 128^2 tiles the four of them
    cost as much as the LST polynomial itself."""
    v = a.ravel()
    v = v[np.isfinite(v)]
    if v.size == 0:
        return 0, None, None, None
    return int(v.size), float(v.min()), float(v.max()), float(v.mean())


def nominal_dims(tiles: DataFrame) -> tuple[int, int]:
    """The tile table's NOMINAL (max-over-grid) tile dims (w, h), from one
    tiny metadata-only job. Every interior tile has these dims; ragged
    right/bottom-edge tiles are smaller, so scene pixel coordinates are
    tile_x * w + px and tile_y * h + py with these, never the tile's own."""
    nom = tiles.agg(F.max("w").alias("w"), F.max("h").alias("h")).first()
    return int(nom["w"]), int(nom["h"])


def spread_tiles(tiles: DataFrame) -> DataFrame:
    """Round-robin repartition a tile table up to the core count when the
    incoming layout cannot scan with enough effective parallelism.

    A tile table written as one or two parquet files (a limit() write, a
    small export) holds a handful of row groups, so no matter how many
    byte-range splits the scheduler creates, only the 2-3 tasks whose
    range covers a row-group midpoint read ANY data — every decode-pass
    operator fed from it then runs near-serially regardless of cluster
    size (measured: 4.2 s wall for 7.7 core-seconds of work on the
    classify assignment pass; guide §2.5: unsplittable input ->
    repartition after the read). The partition COUNT is useless for
    detecting this (the empty splits still count), so the test is the
    plan's size estimate: a source whose bytes cannot fill half the
    cluster's cores at one split per core gets spread; bigger inputs —
    production tables, bucketed layouts — pass through UNTOUCHED and
    never pay a shuffle. Per-tile operator outputs are row-wise and do
    not depend on placement."""
    spark = tiles.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        split = spark.conf.get("spark.sql.files.maxPartitionBytes")
        split_b = int("".join(c for c in split if c.isdigit()) or 0)
        if split.lower().endswith(("m", "mb")):
            split_b *= 1024 * 1024
        elif split.lower().endswith(("g", "gb")):
            split_b *= 1024 * 1024 * 1024
        split_b = split_b or 128 * 1024 * 1024
        plan = tiles._jdf.queryExecution().optimizedPlan()
        pstr = plan.toString()
        if "Repartition" in pstr:
            return tiles          # caller already chose a distribution
        if "parquet" not in pstr:
            # in-memory state (iteration rounds, test fixtures, checkpoint
            # RDDs) is already placed by whatever produced it; spreading
            # it would add one exchange PER ROUND to iterative operators
            return tiles
        size_b = int(plan.stats().sizeInBytes())
    except Exception:
        return tiles
    if size_b >= (target // 2) * split_b:
        return tiles
    return tiles.repartition(target)


# --- halo exchange ---------------------------------------------------------


def halo_receivers(tile_x: int, tile_y: int, w: int, h: int, r: int):
    """(dx, dy, rx, ry, window) for each tile (rx, ry) = (tile_x + dx,
    tile_y + dy) that receives a piece of this tile: ``window`` is the
    (rows, cols) slice of this tile's plane that receiver needs (r-wide
    edge strips and corners; the whole tile for the center)."""
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            rx, ry = tile_x + dx, tile_y + dy
            if rx < 0 or ry < 0:
                continue
            xs = slice(None) if dx == 0 else (slice(w - r, w) if dx == 1 else slice(0, r))
            ys = slice(None) if dy == 0 else (slice(h - r, h) if dy == 1 else slice(0, r))
            yield dx, dy, rx, ry, (ys, xs)


def halo_place(pad: np.ndarray, dx: int, dy: int, piece: np.ndarray, r: int) -> None:
    """Write a received piece into the receiver's (h+2r, w+2r) padded plane:
    sender = receiver - (dx, dy), so a dx=+1 piece came from the left
    neighbor and lands on the padded-left strip, etc."""
    h, w = pad.shape[0] - 2 * r, pad.shape[1] - 2 * r
    x0 = 0 if dx == 1 else (r + w if dx == -1 else r)
    y0 = 0 if dy == 1 else (r + h if dy == -1 else r)
    pad[y0:y0 + piece.shape[0], x0:x0 + piece.shape[1]] = piece


def receiver_runs(batches: Iterator[pa.RecordBatch]):
    """Lists of consecutive strip rows sharing a receiving tile key
    (scene_id, rx, ry), over a stream sorted on that key."""
    cur, acc = None, []
    for batch in batches:
        for s in batch_rows(batch):
            k = (s.scene_id, s.rx, s.ry)
            if k != cur and acc:
                yield acc
                acc = []
            cur = k
            acc.append(s)
    if acc:
        yield acc


HALO_PLANE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("pad_bytes", BinaryType()),   # (h+2r, w+2r) float LE
                                              # (dtype of the src plane)
])

_PLANE_STRIP_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("rx", IntegerType()),          # receiving tile key
    StructField("ry", IntegerType()),
    StructField("dx", IntegerType()),          # where the piece sits
    StructField("dy", IntegerType()),
    StructField("piece", BinaryType()),
    StructField("pw", IntegerType()),
    StructField("ph", IntegerType()),
    StructField("image_id", StringType()),     # center-only passthrough
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
])


def halo_plane_tiles(tiles: DataFrame, r: int,
                     src_col: str = "lst_bytes",
                     dtype: str = "<f4") -> DataFrame:
    """Generic halo exchange for ONE float plane column of a tile table:
    every tile comes back with an (h+2r, w+2r) NaN-padded plane holding
    r pixels of each 8-neighbor (missing neighbor = NaN = true scene
    edge). The window/gradient operators consume this to get EXACT
    whole-scene-mosaic semantics from tile-local kernels.

    ``dtype`` is the plane encoding of ``src_col`` ("<f4" default; "<f8"
    for planes where f32 rounding is not acceptable, e.g. upstream-cell
    counts in hydro.flow_accum_tiles that must stay exact past 2**24).
    ``pad_bytes`` comes back in the same dtype.

    Same shape as the band-pair halo in pipeline.lst_tiles_halo: strips
    are r-wide (shuffle ~ (1 + 2r(w+h)/(wh)) x the plane bytes, not 9x),
    the shuffle is a plain repartition on the receiving tile key, assembly
    streams sorted partitions.
    """
    if r < 1:
        raise ValueError(f"halo margin must be >= 1, got {r}")
    if dtype not in ("<f4", "<f8"):
        raise ValueError(f"unsupported plane dtype {dtype!r}")
    # NOTE: no spread_tiles here — the halo's own repartition spreads every
    # downstream consumer, and the strip emit is cheap enough that paying
    # an extra plane shuffle to parallelize it measures net-negative

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in _PLANE_STRIP_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}
            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                if w < r or h < r:
                    # slice(w - r, w) would wrap to the array end and the
                    # assemble step would left-align the short strip — fail
                    # loudly instead of silently corrupting the padded plane
                    raise ValueError(
                        f"halo margin r={r} exceeds tile dims {w}x{h} "
                        f"(scene {row.scene_id}, tile "
                        f"({int(row.tile_x)},{int(row.tile_y)})); retile "
                        "with tiles at least r pixels on each side")
                buf = getattr(row, src_col)
                plane = np.frombuffer(buf, dtype=dtype).reshape(h, w)
                for dx, dy, rx, ry, win in halo_receivers(row.tile_x, row.tile_y, w, h, r):
                    center = dx == 0 and dy == 0
                    if center:
                        piece, pw, ph = buf, w, h
                    else:
                        p = np.ascontiguousarray(plane[win], dtype=dtype)
                        piece, (ph, pw) = p.tobytes(), p.shape
                    ap["scene_id"](row.scene_id); ap["rx"](rx); ap["ry"](ry)
                    ap["dx"](dx); ap["dy"](dy)
                    ap["piece"](piece); ap["pw"](pw); ap["ph"](ph)
                    ap["image_id"](getattr(row, "image_id", None) if center else None)
                    ap["w"](w); ap["h"](h)
            if cols["scene_id"]:
                yield batch_from_cols(cols, _PLANE_STRIP_SCHEMA)

    strips = tiles.mapInArrow(emit, _PLANE_STRIP_SCHEMA)
    parts = strips.repartition(F.col("scene_id"), F.col("rx"), F.col("ry")) \
                  .sortWithinPartitions("scene_id", "rx", "ry")

    def assemble(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cols: dict[str, list] = {f.name: [] for f in HALO_PLANE_SCHEMA}
        for acc in receiver_runs(batches):
            # a tile key that only received strips (outside the input grid)
            # has no center piece: it is scene margin, not a tile — drop
            center = next((s for s in acc if s.dx == 0 and s.dy == 0), None)
            if center is None:
                continue
            w, h = int(center.w), int(center.h)
            pad = np.full((h + 2 * r, w + 2 * r), np.nan, dtype=dtype)
            for s in acc:
                halo_place(pad, s.dx, s.dy, np.frombuffer(
                    s.piece, dtype=dtype).reshape(s.ph, s.pw), r)
            for name, v in zip(HALO_PLANE_SCHEMA.names, (
                    center.image_id, center.scene_id, int(center.rx),
                    int(center.ry), w, h, pad.tobytes())):
                cols[name].append(v)
            # emit every 64 assembled tiles
            if len(cols["scene_id"]) >= 64:
                yield batch_from_cols(cols, HALO_PLANE_SCHEMA)
                cols = {f.name: [] for f in HALO_PLANE_SCHEMA}
        if cols["scene_id"]:
            yield batch_from_cols(cols, HALO_PLANE_SCHEMA)

    return parts.mapInArrow(assemble, HALO_PLANE_SCHEMA)
