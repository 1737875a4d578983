"""Terrain visibility — the r.viewshed analog.

Reference: no file can be cited (the /root/reference mount is empty every
round — SURVEY.md §0); the behavioral spec is the published GRASS
r.viewshed module applied to this engine's tiled raster model.

**Semantics (exact, R3-style):** target cell T (pixel center) is visible
from the observer O (pixel center, eye at terrain + ``obs_height``) iff at
every integer gridline crossing STRICTLY between O and T along the segment
O->T, the sight line's height is >= the terrain height at the crossing,
where terrain at a crossing is linearly interpolated between the two
adjacent pixel centers perpendicular to the crossed axis — the classic
exact per-ray algorithm ("R3" in the viewshed literature; GRASS r.viewshed
implements the Van Kreveld sweep with the same visibility definition).
Comparisons use slope = dz / planar distance (monotone in elevation angle,
no trig). Deviations from GRASS, stated: planar distances in cell units
(no lat/lon metric or earth-curvature drop), NaN terrain never blocks a
ray, and a NaN target is class 255 in the output plane.

**Distributed shape** (the same decompose-shuffle-assemble pattern as
warp): visibility of T depends on O(ray length) cells NOT aligned with the
tile grid, so tiles are the wrong work unit. Instead the scene decomposes
into ANGULAR SECTORS around the observer:

1. ONE decode pass (mapInArrow): each in-radius cell computes the sector
   range its INFLATED angular extent (a halfwidth-1.5 square, covering any
   ray that passes within one cell of its center — the interpolation
   support bound) intersects. Far cells subtend tiny angles (1-2 sectors);
   only the few near-observer cells replicate widely (cells within ~2.5
   cells of O go to every sector). Per sector, maximal gx-consecutive runs
   of a raster row collapse to ONE (sector, gy, gx0, f32 bytes) row — the
   run-length form that replaced the per-(cell, sector) row emission
   (VERDICT r6's named pixel-row-explosion anti-pattern).
2. groupBy(scene, sector) -> applyInPandas: every cell whose CENTER angle
   falls in the sector is a target (membership recomputed from (gx, gy) +
   the broadcast observer with the emit pass's own fp formulas); the
   vectorized exact-R3 kernel (`_march_targets`) performs `_ray_visible`'s
   comparisons elementwise over the sector-local sparse map, which is
   guaranteed to contain every support cell of every crossing (the
   inflation above).
3. Evaluated/visible sets return as <= 2 KB per-(tile, sector) bitmaps;
   one regroup by destination tile OR-merges them into u8 planes.

Shuffle volume: ~(1 + near-field) x plane bytes in run rows, once. Pixel
planes never cross an exchange. Per-sector work is O(targets x ray), the
inherent exact-R3 bound — ``max_dist`` is the production knob that keeps
rays bounded at 100 TB (GRASS's own max_distance). With ``max_dist`` set,
map cells are kept to ``max_dist + 1.5`` so that interpolation-support
cells just past the radius still block rays — blocking is full-plane,
only TARGETS are radius-limited (matching GRASS).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from . import codecs
from .tileops import batch_from_cols, batch_rows, halo_plane_tiles, nominal_dims

_CELL_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("sector", IntegerType()),
    StructField("gy", IntegerType()),
    StructField("gx0", IntegerType()),
    StructField("z_bytes", BinaryType()),      # f32 LE elevation row run
])

# sectors per scan-task bucket: one applyInPandas group costs ~3.5 ms of
# arrow/pandas setup, so per-sector groups drown small-radius viewsheds in
# per-group overhead; a bucket hosts 8 sectors (256 sectors -> 32 groups)
_VS_BKT = 8

_VMASK_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    # np.packbits bitmaps over the nominal tile grid (ly * nom_w + lx):
    # targets this sector evaluated / found visible — one <= 2 KB row per
    # (tile, sector) instead of one row per evaluated CELL
    StructField("eval_bytes", BinaryType()),
    StructField("vis_bytes", BinaryType()),
])

_EYE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("z", DoubleType()),
])

VIEWSHED_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("vis_bytes", BinaryType()),    # u8: 1/0, 255 = NaN/out-of-radius
    StructField("n_visible", LongType()),
    StructField("n_evaluated", LongType()),
])


def _ray_visible(ox: float, oy: float, eye: float, tx: int, ty: int,
                 tz: float, zmap: dict) -> bool:
    """Exact R3 test for one target over a {(gx, gy): z} elevation map.
    NaN / missing support cells never block. Shared verbatim by the
    distributed kernel and the test oracle's spec (the oracle reimplements
    it independently; this docstring IS the contract)."""
    dx, dy = tx - ox, ty - oy
    dist = math.hypot(dx, dy)
    if dist == 0:
        return True
    tslope = (tz - eye) / dist

    def blocked_at(t: float, zc: float) -> bool:
        if not math.isfinite(zc):
            return False
        d = t * dist
        return (zc - eye) / d > tslope + 1e-12

    # vertical gridline crossings (x = integer) strictly between
    if dx != 0:
        step = 1 if dx > 0 else -1
        x = int(math.floor(ox)) + (1 if dx > 0 else 0)
        while (x - ox) * step < abs(dx):
            if (x - ox) * step > 0:
                t = (x - ox) / dx
                y = oy + t * dy
                y0 = math.floor(y)
                fy = y - y0
                za = zmap.get((x, int(y0)), math.nan)
                zb = zmap.get((x, int(y0) + 1), math.nan) if fy > 0 else za
                if fy == 0:
                    zc = za
                elif not math.isfinite(za) or not math.isfinite(zb):
                    zc = math.nan
                else:
                    zc = (1 - fy) * za + fy * zb
                if blocked_at(t, zc):
                    return False
            x += step
    # horizontal gridline crossings (y = integer) strictly between
    if dy != 0:
        step = 1 if dy > 0 else -1
        y = int(math.floor(oy)) + (1 if dy > 0 else 0)
        while (y - oy) * step < abs(dy):
            if (y - oy) * step > 0:
                t = (y - oy) / dy
                x = ox + t * dx
                x0 = math.floor(x)
                fx = x - x0
                za = zmap.get((int(x0), y), math.nan)
                zb = zmap.get((int(x0) + 1, y), math.nan) if fx > 0 else za
                if fx == 0:
                    zc = za
                elif not math.isfinite(za) or not math.isfinite(zb):
                    zc = math.nan
                else:
                    zc = (1 - fx) * za + fx * zb
                if blocked_at(t, zc):
                    return False
            y += step
    return True


def _march_targets(ox: float, oy: float, eye: float,
                   tgx: np.ndarray, tgy: np.ndarray, tgz: np.ndarray,
                   kgx: np.ndarray, kgy: np.ndarray,
                   kz: np.ndarray) -> np.ndarray:
    """Vectorized exact-R3 visibility for a BATCH of targets over one
    sparse (gx, gy) -> z map: per gridline crossing, the identical
    IEEE-754 double ops of `_ray_visible` (the spec), elementwise.

    Equivalence to the serial walk, op by op: numpy float64 +,-,*,/ and
    floor are the same correctly-rounded scalar ops; ``dist`` stays
    ``math.hypot`` per TARGET (CPython's hypot is not ulp-identical to a
    vector libm hypot); candidate crossings are generated as a superset
    and filtered by the serial loop's own fp conditions
    ``(x-o)*step > 0`` and ``< |d|``; a map MISS returns NaN exactly as
    the serial ``zmap.get`` default, and NaN never blocks. The serial
    early-exit only skips work after a blocker is found — the outcome is
    any(blocked), computed here for all crossings at once."""
    n = len(tgx)
    vis = np.ones(n, dtype=bool)
    if n == 0:
        return vis
    skey = (kgx.astype(np.int64) << 32) | kgy.astype(np.int64)
    korder = np.argsort(skey)
    skey = skey[korder]
    skz = kz[korder]
    nk = len(skey)

    def zat(qx: np.ndarray, qy: np.ndarray) -> np.ndarray:
        q = (qx << 32) | qy
        pos = np.searchsorted(skey, q)
        posc = np.minimum(pos, nk - 1)
        return np.where(skey[posc] == q, skz[posc], np.nan)

    dxs = tgx.astype(np.float64) - ox
    dys = tgy.astype(np.float64) - oy
    dist = np.fromiter((math.hypot(a, b)
                        for a, b in zip(dxs.tolist(), dys.tolist())),
                       dtype=np.float64, count=n)
    live = dist != 0.0                        # dist 0 = observer cell: True
    tslope = np.full(n, np.nan)
    np.divide(tgz - eye, dist, out=tslope, where=live)
    blocked = np.zeros(n, dtype=bool)
    fox, foy = math.floor(ox), math.floor(oy)

    def axis_pass(vertical: bool) -> None:
        if vertical:
            dmain, dother, omain, oother, fmain = dxs, dys, ox, oy, fox
        else:
            dmain, dother, omain, oother, fmain = dys, dxs, oy, ox, foy
        ti = np.flatnonzero(live & (dmain != 0.0))
        if not len(ti):
            return
        dm = dmain[ti]
        pos = dm > 0
        step = np.where(pos, 1, -1).astype(np.int64)
        start = np.where(pos, fmain + 1, fmain).astype(np.int64)
        ncand = np.floor(np.abs(dm)).astype(np.int64) + 2   # superset
        rep = np.repeat(np.arange(len(ti)), ncand)
        c = (np.repeat(start, ncand)
             + np.repeat(step, ncand) * _runs_arange(ncand))
        rel = (c.astype(np.float64) - omain) * np.repeat(step, ncand) \
            .astype(np.float64)
        keep = (rel > 0.0) & (rel < np.abs(dm)[rep])
        if not keep.any():
            return
        li = rep[keep]                         # local target index
        c = c[keep]
        dmk = dm[li]
        t = (c.astype(np.float64) - omain) / dmk
        v = oother + t * dother[ti][li]
        v0 = np.floor(v)
        fv = v - v0
        v0i = v0.astype(np.int64)
        if vertical:
            za = zat(c, v0i)
            zb = np.where(fv > 0, zat(c, v0i + 1), za)
        else:
            za = zat(v0i, c)
            zb = np.where(fv > 0, zat(v0i + 1, c), za)
        with np.errstate(invalid="ignore"):
            interp = (1.0 - fv) * za + fv * zb
        zc = np.where(fv == 0.0, za,
                      np.where(np.isfinite(za) & np.isfinite(zb),
                               interp, np.nan))
        d = t * dist[ti][li]
        with np.errstate(invalid="ignore"):
            blk = np.isfinite(zc) \
                & ((zc - eye) / d > tslope[ti][li] + 1e-12)
        blocked[ti[li[blk]]] = True

    axis_pass(True)
    axis_pass(False)
    return vis & ~blocked


def _sector_pass(tiles: DataFrame, obs: DataFrame, n_sectors: int,
                 max_dist: float | None, nom_w: int, nom_h: int,
                 src_col: str) -> DataFrame:
    two_pi = 2.0 * math.pi

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in _CELL_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}
            for row in batch_rows(batch):
                if row.ox is None:
                    continue                  # scene without an observer
                w, h = int(row.w), int(row.h)
                tx0, ty0 = int(row.tile_x) * nom_w, int(row.tile_y) * nom_h
                oxx, oyy = float(row.ox), float(row.oy)
                plane = codecs.decode_f32bt(
                    getattr(row, src_col), w, h).astype(np.float64)
                yy, xx = np.mgrid[0:h, 0:w]
                gx = (tx0 + xx).ravel()
                gy = (ty0 + yy).ravel()
                z = plane.ravel()
                # NaN cells leave the MAP here: the serial spec's lookup
                # returns NaN for them and NaN never blocks — a missing
                # key returns the same NaN (and they are never targets)
                keep = np.isfinite(z)
                rx = gx - oxx
                ry = gy - oyy
                r = np.hypot(rx, ry)
                # map cells keep a +1.5 margin so interpolation-support
                # cells just past the radius still block; targets are
                # strictly radius-limited (recomputed in the sector scan)
                if max_dist is not None:
                    keep &= r <= max_dist + 1.5
                if not keep.any():
                    continue
                gx, gy, z, rx, ry, r = (a[keep]
                                        for a in (gx, gy, z, rx, ry, r))
                ang = np.arctan2(ry, rx)      # [-pi, pi]
                # inflated angular halfwidth: a square of halfwidth 1.5
                # around the center subtends <= 2*asin(min(1, 1.5*sqrt2/r));
                # asin saturates to pi/2 near O, near cells go everywhere
                near = r <= 2.5
                with np.errstate(invalid="ignore", divide="ignore"):
                    half = np.arcsin(np.clip(1.5 * math.sqrt(2.0)
                                             / np.maximum(r, 1e-9), 0, 1.0))
                s_lo = np.floor((ang - half + math.pi) / two_pi
                                * n_sectors).astype(np.int64)
                s_hi = np.floor((ang + half + math.pi) / two_pi
                                * n_sectors).astype(np.int64)
                # vectorized replication: each cell i reaches `span[i]`
                # consecutive sectors starting at base[i] (mod n_sectors)
                span = np.minimum(s_hi - s_lo + 1, n_sectors)
                span = np.where(near, n_sectors, span)
                base = np.where(near, 0, s_lo)
                n_out = int(span.sum())
                if n_out == 0:
                    continue
                idx = np.repeat(np.arange(len(gx)), span)
                starts = np.concatenate(([0], np.cumsum(span)[:-1]))
                off = np.arange(n_out) - np.repeat(starts, span)
                sec = (np.repeat(base, span) + off) % n_sectors
                # run-length rows instead of one row per (cell, sector):
                # sort by (sector, gy, gx); maximal gx-consecutive runs
                # collapse to one (sector, gy, gx0, f32 bytes) row —
                # is_target is recomputed in the scan from (gx, gy) and
                # the broadcast observer, so runs carry only elevation
                egx, egy, ez = gx[idx], gy[idx], z[idx].astype("<f4")
                rord = np.lexsort((egx, egy, sec))
                s2, y2, x2, z2 = sec[rord], egy[rord], egx[rord], ez[rord]
                newrun = np.r_[True, (s2[1:] != s2[:-1])
                               | (y2[1:] != y2[:-1])
                               | (x2[1:] != x2[:-1] + 1)]
                rstarts = np.flatnonzero(newrun)
                rends = np.r_[rstarts[1:], len(s2)]
                sid = row.scene_id
                for i in range(len(rstarts)):
                    ap["scene_id"](sid)
                    ap["sector"](int(s2[rstarts[i]]))
                    ap["gy"](int(y2[rstarts[i]]))
                    ap["gx0"](int(x2[rstarts[i]]))
                    ap["z_bytes"](z2[rstarts[i]:rends[i]].tobytes())
            if cols["scene_id"]:
                yield batch_from_cols(cols, _CELL_SCHEMA)

    src = tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col) \
        .join(F.broadcast(obs), on="scene_id", how="left")
    return src.mapInArrow(fn, _CELL_SCHEMA)


def _observer_terrain(tiles: DataFrame, obs_df: DataFrame, nom_w: int,
                      nom_h: int, src_col: str) -> DataFrame:
    """(scene_id, z) at each scene's observer cell, decoding only the tile
    that contains it (an observer outside the raster yields no row)."""
    hit = (tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col)
           .join(F.broadcast(obs_df), on="scene_id")
           .filter((F.col("tile_x")
                    == F.floor(F.col("ox") / nom_w).cast("int"))
                   & (F.col("tile_y")
                      == F.floor(F.col("oy") / nom_h).cast("int"))))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {"scene_id": [], "z": []}
            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                lx = int(row.ox) - int(row.tile_x) * nom_w
                ly = int(row.oy) - int(row.tile_y) * nom_h
                if not (0 <= lx < w and 0 <= ly < h):
                    continue
                plane = codecs.decode_f32bt(getattr(row, src_col), w, h)
                cols["scene_id"].append(row.scene_id)
                cols["z"].append(float(plane[ly, lx]))
            if cols["scene_id"]:
                yield batch_from_cols(cols, _EYE_SCHEMA)

    return hit.mapInArrow(fn, _EYE_SCHEMA)


def viewshed_tiles(tiles: DataFrame, observers, obs_height: float = 1.75,
                   max_dist: float | None = None, n_sectors: int = 256,
                   src_col: str = "lst_bytes") -> DataFrame:
    """r.viewshed: per-scene visibility plane from one observer per scene.

    ``observers``: pandas or Spark frame (scene_id, ox, oy) in scene
    pixel-CENTER coordinates (integers address cell centers). ``obs_height``
    is added to the observer cell's terrain (GRASS observer_elevation);
    a NaN observer cell raises. ``max_dist`` bounds rays in cell units
    (GRASS max_distance); cells beyond it — and NaN cells — are 255 in the
    output plane. Returns one row per input tile with a u8 plane.
    """
    spark = tiles.sparkSession
    if isinstance(observers, pd.DataFrame):
        obs_df = spark.createDataFrame(observers)
    else:
        obs_df = observers
    obs_df = obs_df.select("scene_id", F.col("ox").cast("double"),
                           F.col("oy").cast("double"))

    nom_w, nom_h = nominal_dims(tiles)

    cells = _sector_pass(tiles, obs_df, n_sectors, max_dist,
                         nom_w, nom_h, src_col)
    two_pi = 2.0 * math.pi

    # per-sector exact R3 over the sector-local sparse map — targets are
    # recomputed from (gx, gy) + the broadcast observer with the emit
    # pass's own formulas (deterministic elementwise fp), the march is
    # the vectorized spec kernel, and results leave as per-tile bitmaps.
    # One task hosts a BUCKET of sectors; each sector still marches over
    # exactly its own membership (a cell's center sector is unique, so
    # targets are disjoint across sectors and bitmaps merge exactly)
    def run_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(columns=[f.name for f in _VMASK_SCHEMA])
        scene = pdf.scene_id.iloc[0]
        o = obs_b.value.get(scene)
        if o is None:
            return empty
        ox, oy, eye = o
        tgx_l, tgy_l, vis_l = [], [], []
        for sector, g in pdf.groupby("sector", sort=False):
            zs = [np.frombuffer(b, dtype="<f4") for b in g.z_bytes]
            lens = np.fromiter((len(a) for a in zs), dtype=np.int64,
                               count=len(zs))
            z = np.concatenate(zs).astype(np.float64)
            gx = (np.repeat(g.gx0.to_numpy(np.int64), lens)
                  + _runs_arange(lens))
            gy = np.repeat(g.gy.to_numpy(np.int64), lens)
            rx = gx - ox
            ry = gy - oy
            r = np.hypot(rx, ry)
            ang = np.arctan2(ry, rx)
            ctr = (np.floor((ang + math.pi) / two_pi * n_sectors)
                   .astype(np.int64) % n_sectors)
            tgt = ctr == sector
            if max_dist is not None:
                tgt &= r <= max_dist
            if not tgt.any():
                continue
            tgx_l.append(gx[tgt])
            tgy_l.append(gy[tgt])
            vis_l.append(_march_targets(ox, oy, eye, gx[tgt], gy[tgt],
                                        z[tgt], gx, gy, z))
        if not tgx_l:
            return empty
        tgx = np.concatenate(tgx_l)
        tgy = np.concatenate(tgy_l)
        vis = np.concatenate(vis_l)
        # pack evaluated/visible sets as one bitmap row pair per tile
        tx = tgx // nom_w
        ty = tgy // nom_h
        bit = (tgy - ty * nom_h) * nom_w + (tgx - tx * nom_w)
        torder = np.lexsort((bit, ty, tx))
        tx, ty, bit, vis = tx[torder], ty[torder], bit[torder], vis[torder]
        tstarts = np.flatnonzero(
            np.r_[True, (tx[1:] != tx[:-1]) | (ty[1:] != ty[:-1])])
        tends = np.r_[tstarts[1:], len(tx)]
        nbits = nom_w * nom_h
        out_tx, out_ty, out_ev, out_vi = [], [], [], []
        for a, b in zip(tstarts, tends):
            ev = np.zeros(nbits, dtype=np.uint8)
            ev[bit[a:b]] = 1
            vi = np.zeros(nbits, dtype=np.uint8)
            vi[bit[a:b][vis[a:b]]] = 1
            out_tx.append(int(tx[a]))
            out_ty.append(int(ty[a]))
            out_ev.append(np.packbits(ev).tobytes())
            out_vi.append(np.packbits(vi).tobytes())
        return pd.DataFrame({
            "scene_id": np.full(len(out_tx), scene, dtype=object),
            "tile_x": np.array(out_tx, dtype=np.int32),
            "tile_y": np.array(out_ty, dtype=np.int32),
            "eval_bytes": out_ev, "vis_bytes": out_vi})

    # observer eye heights: terrain at the observer cell + obs_height.
    # Decode ONLY the one tile per scene that contains the observer —
    # O(scenes) tiles touched, never a scan of the raster.
    opdf = obs_df.toPandas()
    if opdf.scene_id.duplicated().any():
        raise ValueError("one observer per scene")
    oz = _observer_terrain(tiles, obs_df, nom_w, nom_h, src_col).toPandas()
    eyes = {}
    for r in opdf.itertuples():
        zrow = oz[oz.scene_id == r.scene_id]
        if len(zrow) == 0 or not np.isfinite(zrow.z.iloc[0]):
            raise ValueError(
                f"observer cell for scene {r.scene_id!r} is NaN or outside "
                "the raster")
        eyes[r.scene_id] = (float(r.ox), float(r.oy),
                            float(zrow.z.iloc[0]) + float(obs_height))
    obs_b = spark.sparkContext.broadcast(eyes)

    # explicit-count repartition on the group key: the RLE rows are so
    # much smaller than the old per-cell rows that AQE coalesces the
    # scan exchange to 1-2 partitions and serializes the march; an
    # explicit count (REPARTITION_BY_NUM) is not coalescible and the
    # groupBy below reuses the clustering — still ONE exchange
    par = max(spark.sparkContext.defaultParallelism, 1)
    skey = F.floor(F.col("sector") / _VS_BKT)
    masks = cells.repartition(par, F.col("scene_id"), skey).groupBy(
        "scene_id", skey.alias("sector_bkt")
    ).applyInPandas(lambda _k, pdf: run_bucket(pdf), _VMASK_SCHEMA)

    # regroup to tile planes: the per-tile bitmaps collapse to one short
    # list per tile (a cell is evaluated by exactly ONE sector, so eval
    # masks are disjoint and vis is a subset — OR-merge is exact)
    layout = tiles.select("scene_id", "tile_x", "tile_y", "w", "h")
    agg = masks.groupBy("scene_id", "tile_x", "tile_y").agg(
        F.collect_list("eval_bytes").alias("ev_masks"),
        F.collect_list("vis_bytes").alias("vi_masks"))
    joined = layout.join(agg, on=["scene_id", "tile_x", "tile_y"],
                         how="left")

    def build(batches: Iterator[pa.RecordBatch]) \
            -> Iterator[pa.RecordBatch]:
        nbits = nom_w * nom_h
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in VIEWSHED_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}
            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                plane = np.full((h, w), 255, dtype=np.uint8)
                if row.ev_masks is not None and len(row.ev_masks):
                    acc_ev = np.frombuffer(row.ev_masks[0], dtype=np.uint8)
                    for mb in row.ev_masks[1:]:
                        acc_ev = acc_ev | np.frombuffer(mb, dtype=np.uint8)
                    acc_vi = np.frombuffer(row.vi_masks[0], dtype=np.uint8)
                    for mb in row.vi_masks[1:]:
                        acc_vi = acc_vi | np.frombuffer(mb, dtype=np.uint8)
                    ev = np.unpackbits(acc_ev, count=nbits) \
                        .reshape(nom_h, nom_w)[:h, :w]
                    vi = np.unpackbits(acc_vi, count=nbits) \
                        .reshape(nom_h, nom_w)[:h, :w]
                    plane[ev == 1] = 0
                    plane[vi == 1] = 1
                ap["scene_id"](row.scene_id)
                ap["tile_x"](int(row.tile_x))
                ap["tile_y"](int(row.tile_y))
                ap["w"](w); ap["h"](h)
                ap["vis_bytes"](plane.tobytes())
                ap["n_visible"](int((plane == 1).sum()))
                ap["n_evaluated"](int((plane != 255).sum()))
            if cols["scene_id"]:
                yield batch_from_cols(cols, VIEWSHED_SCHEMA)

    return joined.mapInArrow(build, VIEWSHED_SCHEMA)


# --------------------------------------------------------------------------
# Solar irradiance with cast shadows (r.sun analog, instantaneous mode)
# --------------------------------------------------------------------------

_SUN_SEG_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("bkt", LongType()),            # floor(strip / _SUN_BKT)
    StructField("gy", IntegerType()),
    StructField("gx0", IntegerType()),
    StructField("z_bytes", BinaryType()),      # f32 LE elevation row segment
])

# strips per scan bucket: one task hosts a contiguous band of strips (a
# scene-width raster has O(w + h) strips, far fewer buckets)
_SUN_BKT = 64

_SHADOW_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    # np.packbits bitmap over the nominal tile grid (ly * nom_w + lx),
    # set = shaded: with a low sun half the raster can be shaded, so
    # per-shaded-CELL rows out of the strip scan were the next row
    # explosion (4.8M rows measured at the 8.4 Mpx bench block) — a tile's
    # shaded set is <= 2 KB as a bitmap, one row per (tile, bucket)
    StructField("mask_bytes", BinaryType()),
])

SUN_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("glob_bytes", BinaryType()),   # f32 W/m^2, NaN where NULL
    StructField("n_shaded", LongType()),
    StructField("n_valid", LongType()),
])

SOLAR_CONSTANT = 1367.0      # W/m^2
_DIFFUSE_FRAC = 0.10         # clear-sky isotropic diffuse fraction


def _runs_arange(lens: np.ndarray) -> np.ndarray:
    """Concatenated [0..len) ranges: [2, 3] -> [0, 1, 0, 1, 2]."""
    total = int(lens.sum())
    idx = np.arange(total, dtype=np.int64)
    off = np.repeat(np.cumsum(lens) - lens, lens)
    return idx - off


def _sun_vectors(azimuth_deg: float, altitude_deg: float):
    """(s-axis, tan alt, trig) for a sun at compass azimuth (0=N, CW) and
    altitude above the horizon. Pixel axes: u east (+x), v south (+y);
    the unit vector TOWARD the sun is (sin A, -cos A) in (u, v)."""
    a = math.radians(azimuth_deg % 360.0)
    alt = math.radians(altitude_deg)
    return math.sin(a), -math.cos(a), math.tan(alt)


def shadow_plane(plane: np.ndarray, azimuth_deg: float,
                 altitude_deg: float) -> np.ndarray:
    """Whole-plane cast-shadow reference (and the documented SPEC the
    distributed kernel implements): cells are grouped into UNIT-WIDTH
    STRIPS parallel to the sun azimuth (strip = floor(u*cosA + v*sinA));
    within a strip, cell c is shadowed iff some cell b strictly closer to
    the sun (s_b > s_c, s = u*sinA - v*cosA) has
    z_b - (s_b - s_c) * tan(alt) > z_c — i.e. running strict max of
    q = z - s*tan(alt) over descending s. The strip discretization is the
    classic parallel-ray grid-marching approximation (r.sun's own shadow
    walk is grid-stepped too); NaN cells never shade and are not targets.
    Ties in s never shade each other. Returns u8: 1 shaded, 0 lit,
    255 NaN."""
    h, w = plane.shape
    du, dv, tanalt = _sun_vectors(azimuth_deg, altitude_deg)
    a = math.radians(azimuth_deg % 360.0)
    vv, uu = np.mgrid[0:h, 0:w]
    s = uu * du + vv * dv
    p = uu * math.cos(a) + vv * math.sin(a)
    strip = np.floor(p).astype(np.int64)
    q = plane - s * tanalt
    out = np.full((h, w), 255, dtype=np.uint8)
    finite = np.isfinite(plane)
    out[finite] = 0
    for st in np.unique(strip):
        m = (strip == st) & finite
        if not m.any():
            continue
        ss, qq = s[m], q[m]
        order = np.argsort(-ss, kind="mergesort")
        ss, qq = ss[order], qq[order]
        runmax = -np.inf
        i = 0
        shaded = np.zeros(len(ss), dtype=bool)
        while i < len(ss):
            j = i
            while j < len(ss) and ss[j] == ss[i]:
                j += 1
            shaded[i:j] = qq[i:j] < runmax  # strict: block needs q_b > q_c
            runmax = max(runmax, float(qq[i:j].max()))
            i = j
        idx = np.flatnonzero(m)
        out.ravel()[idx[order]] = shaded.astype(np.uint8)
    return out


def sun_tiles(tiles: DataFrame, sun: DataFrame | pd.DataFrame,
              obs_height: float = 0.0,
              src_col: str = "lst_bytes") -> DataFrame:
    """r.sun analog, instantaneous clear-sky global irradiance with cast
    shadows, per scene. ``sun``: (scene_id, azimuth_deg, altitude_deg),
    one row per scene; altitude must be in (0, 90].

    Radiometric model (a documented SIMPLIFICATION of r.sun's Linke-
    turbidity model — the distributed geometry, not the atmosphere, is the
    point here): beam normal B = S0 * 0.75^(m^0.678) with air mass
    m = 1/sin(alt) (Meinel clear-sky); direct on the surface =
    B * max(cos i, 0) * lit, cos i from the Horn slope/aspect (exact
    cross-tile via the 1-px halo exchange); diffuse = S0 * 0.10 * sin(alt)
    * (1 + cos slope)/2 (isotropic sky). Output NaN wherever the 3x3
    gradient is NULL-poisoned (scene edges / NaN neighbors), matching
    gradient_tiles semantics.

    Distributed shape: ONE decode pass emits run-length ROW SEGMENTS —
    one (bkt, gy, gx0, f32 bytes) row per maximal run of raster-row cells
    whose strip falls in the same bucket of ``_SUN_BKT`` strips (strip is
    monotone in gx along a row, so runs are contiguous; a 128-px row spans
    <= 3 buckets). groupBy(scene, bkt) rebuilds the per-cell (gx, gy, z)
    arrays executor-side and runs the running-max scan of `shadow_plane`'s
    spec per strip, fully vectorized (tie groups of equal s via reduceat +
    accumulate — the same group-atomic comparisons as the serial walk),
    emitting ONLY shaded cells; the 1-px halo exchange carries the
    elevation planes; a final equi join + grouped kernel computes
    irradiance per tile. The segment exchange moves ~1x plane bytes in
    O(rows x buckets-per-row) rows — never one row per pixel (that emit
    was measured at ~5x plane bytes of small rows and dominated the whole
    operator: 0.49 Mpx/s).
    """
    spark = tiles.sparkSession
    if isinstance(sun, pd.DataFrame):
        sun_df = spark.createDataFrame(sun)
    else:
        sun_df = sun
    sun_pdf = sun_df.select("scene_id", "azimuth_deg", "altitude_deg") \
                    .toPandas()
    if sun_pdf.scene_id.duplicated().any():
        raise ValueError("one sun position per scene")
    if ((sun_pdf.altitude_deg <= 0) | (sun_pdf.altitude_deg > 90)).any():
        raise ValueError("altitude_deg must be in (0, 90]")
    sun_b = spark.sparkContext.broadcast(
        {r.scene_id: (float(r.azimuth_deg), float(r.altitude_deg))
         for r in sun_pdf.itertuples()})

    nom_w, nom_h = nominal_dims(tiles)

    def emit_segments(batches: Iterator[pa.RecordBatch]) \
            -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in _SUN_SEG_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}
            for row in batch_rows(batch):
                pos = sun_b.value.get(row.scene_id)
                if pos is None:
                    continue
                ca = math.cos(math.radians(pos[0] % 360.0))
                sa = math.sin(math.radians(pos[0] % 360.0))
                w, h = int(row.w), int(row.h)
                tx0 = int(row.tile_x) * nom_w
                ty0 = int(row.tile_y) * nom_h
                plane = codecs.decode_f32bt(getattr(row, src_col), w, h)
                sid = row.scene_id
                # per-cell bucket exactly as the scan recomputes it:
                # strip = floor(gx*ca + gy*sa), bkt = strip // _SUN_BKT
                # (floor-div of the int strip == floor(strip/_SUN_BKT));
                # the outer-sum form below produces the same per-cell
                # gx*ca + gy*sa values elementwise. Strip is monotone in
                # gx along a row, so equal-bkt runs are contiguous; one
                # row-major cut pass finds every (row, bkt) segment.
                gx = tx0 + np.arange(w, dtype=np.int64)
                gy = ty0 + np.arange(h, dtype=np.int64)
                p = gy[:, None] * sa + gx[None, :] * ca
                bkt = np.floor(p).astype(np.int64) // _SUN_BKT
                flat = bkt.ravel()
                rowid = np.repeat(np.arange(h), w)
                row_ok = np.isfinite(plane).any(axis=1)
                newseg = np.r_[True, (flat[1:] != flat[:-1])
                               | (rowid[1:] != rowid[:-1])]
                starts = np.flatnonzero(newseg)
                keepseg = row_ok[rowid[starts]]
                starts = starts[keepseg]
                if not len(starts):
                    continue
                ends_all = np.r_[np.flatnonzero(newseg)[1:], h * w]
                ends = ends_all[keepseg]
                seg_bkt = flat[starts]
                seg_gy = gy[rowid[starts]]
                seg_gx0 = gx[starts % w]
                zflat = plane.ravel()
                for i in range(len(starts)):
                    ap["scene_id"](sid)
                    ap["bkt"](int(seg_bkt[i]))
                    ap["gy"](int(seg_gy[i]))
                    ap["gx0"](int(seg_gx0[i]))
                    ap["z_bytes"](
                        zflat[starts[i]:ends[i]].astype("<f4").tobytes())
            if cols["scene_id"]:
                yield batch_from_cols(cols, _SUN_SEG_SCHEMA)

    segs = tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col) \
        .mapInArrow(emit_segments, _SUN_SEG_SCHEMA)

    def scan_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=[f.name for f in _SHADOW_SCHEMA])
        sid = pdf.scene_id.iloc[0]
        pos = sun_b.value.get(sid)
        du, dv, tanalt = _sun_vectors(*pos)
        ca = math.cos(math.radians(pos[0] % 360.0))
        sa = math.sin(math.radians(pos[0] % 360.0))
        # rebuild the per-cell arrays from the row segments
        zs = [np.frombuffer(b, dtype="<f4") for b in pdf.z_bytes]
        lens = np.array([len(a) for a in zs])
        z = np.concatenate(zs).astype(np.float64)
        gx = (np.repeat(pdf.gx0.to_numpy(np.int64), lens)
              + _runs_arange(lens))
        gy = np.repeat(pdf.gy.to_numpy(np.int64), lens)
        keep = np.isfinite(z)
        gx, gy, z = gx[keep], gy[keep], z[keep]
        if not len(z):
            return pd.DataFrame(columns=[f.name for f in _SHADOW_SCHEMA])
        # same formulas/dtypes as the whole-plane spec: int64 coords into
        # float64 products
        s = gx * du + gy * dv
        q = z - s * tanalt
        strip = np.floor(gx * ca + gy * sa).astype(np.int64)
        # ONE stable lexsort for the whole bucket: strip ascending, s
        # descending within a strip — each strip then scans as its own
        # contiguous slice, exactly the per-strip argsort(-s, mergesort)
        # of the serial spec
        order = np.lexsort((-s, strip))
        st_o, s_o, q_o = strip[order], s[order], q[order]
        # tie groups = runs of equal s within a strip; the serial walk
        # treats them atomically (group members never shade each other),
        # so the vectorized form compares each group against the running
        # max of STRICTLY-PRIOR groups — identical comparisons, no fp
        # accumulation anywhere (max and < are exact)
        new_strip = np.r_[True, st_o[1:] != st_o[:-1]]
        new_group = new_strip | np.r_[True, s_o[1:] != s_o[:-1]]
        starts = np.flatnonzero(new_group)
        gmax = np.maximum.reduceat(q_o, starts)
        runbefore = np.empty(len(starts))
        gs = np.flatnonzero(new_strip[starts])   # first group of each strip
        bounds = np.r_[gs, len(starts)]
        for a, b in zip(bounds[:-1], bounds[1:]):
            runbefore[a] = -np.inf
            if b - a > 1:
                runbefore[a + 1:b] = np.maximum.accumulate(gmax[a:b - 1])
        sizes = np.diff(np.r_[starts, len(q_o)])
        shaded = q_o < np.repeat(runbefore, sizes)
        sel = np.flatnonzero(shaded)
        if not len(sel):
            return pd.DataFrame(columns=[f.name for f in _SHADOW_SCHEMA])
        sgx, sgy = gx[order][sel], gy[order][sel]
        # pack the shaded set as one bitmap row per tile (nom grid, row-
        # major ly * nom_w + lx, np.packbits bit order) — the per-cell
        # row form was O(shaded) small rows through collect_list and a
        # Python list per cell in the assembly kernel
        tx = sgx // nom_w
        ty = sgy // nom_h
        bit = (sgy - ty * nom_h) * nom_w + (sgx - tx * nom_w)
        torder = np.lexsort((bit, ty, tx))
        tx, ty, bit = tx[torder], ty[torder], bit[torder]
        tstarts = np.flatnonzero(
            np.r_[True, (tx[1:] != tx[:-1]) | (ty[1:] != ty[:-1])])
        tends = np.r_[tstarts[1:], len(tx)]
        out_tx, out_ty, out_mask = [], [], []
        nbits = nom_w * nom_h
        for a, b in zip(tstarts, tends):
            m = np.zeros(nbits, dtype=np.uint8)
            m[bit[a:b]] = 1
            out_tx.append(int(tx[a]))
            out_ty.append(int(ty[a]))
            out_mask.append(np.packbits(m).tobytes())
        return pd.DataFrame({
            "scene_id": np.full(len(out_tx), sid, dtype=object),
            "tile_x": np.array(out_tx, dtype=np.int32),
            "tile_y": np.array(out_ty, dtype=np.int32),
            "mask_bytes": out_mask})

    shadows = segs.groupBy("scene_id", "bkt").applyInPandas(
        lambda key, pdf: scan_bucket(pdf), _SHADOW_SCHEMA)

    src = tiles
    if "image_id" not in tiles.columns:
        src = tiles.withColumn("image_id", F.lit(""))
    pad = halo_plane_tiles(src, r=1, src_col=src_col) \
        .select("scene_id", "tile_x", "tile_y", "w", "h", "pad_bytes")
    # shaded bitmaps collapse to ONE short list per tile (<= one 2 KB mask
    # per strip bucket the tile intersects) BEFORE meeting the plane bytes
    sh_tile = shadows.groupBy("scene_id", "tile_x", "tile_y").agg(
        F.collect_list("mask_bytes").alias("sh_masks"))
    # the join output is already exactly one row per tile, so the assembly
    # kernel is a mapInArrow — the old groupBy+applyInPandas re-shuffled
    # the pad planes a second time for nothing
    joined = pad.join(sh_tile, on=["scene_id", "tile_x", "tile_y"],
                      how="left")

    def build(batches: Iterator[pa.RecordBatch]) \
            -> Iterator[pa.RecordBatch]:
        from .kernels import slope_aspect

        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in SUN_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}
            for row in batch_rows(batch):
                pos = sun_b.value.get(row.scene_id)
                w, h = int(row.w), int(row.h)
                ap["scene_id"](row.scene_id)
                ap["tile_x"](int(row.tile_x)); ap["tile_y"](int(row.tile_y))
                ap["w"](w); ap["h"](h)
                if pos is None:
                    glob = np.full((h, w), np.nan, dtype=np.float32)
                    ap["glob_bytes"](glob.tobytes())
                    ap["n_shaded"](0); ap["n_valid"](0)
                    continue
                az, altd = pos
                alt = math.radians(altd)
                pad_p = np.frombuffer(row.pad_bytes, dtype="<f4") \
                    .reshape(h + 2, w + 2).astype(np.float64)
                g = slope_aspect(pad_p)
                sl = np.radians(g["slope_deg"][1:-1, 1:-1])
                asp = np.radians(np.nan_to_num(g["aspect_deg"][1:-1, 1:-1]))
                lit = np.ones((h, w), dtype=bool)
                masks = row.sh_masks
                if masks is not None and len(masks):
                    acc = np.frombuffer(masks[0], dtype=np.uint8)
                    for mb in masks[1:]:
                        acc = acc | np.frombuffer(mb, dtype=np.uint8)
                    shaded = np.unpackbits(acc, count=nom_w * nom_h) \
                        .reshape(nom_h, nom_w)[:h, :w]
                    lit &= shaded == 0
                m = 1.0 / math.sin(alt)                      # air mass
                beam = SOLAR_CONSTANT * 0.75 ** (m ** 0.678)  # Meinel
                azr = math.radians(az % 360.0)
                with np.errstate(invalid="ignore"):
                    cosi = (math.sin(alt) * np.cos(sl)
                            + math.cos(alt) * np.sin(sl) * np.cos(azr - asp))
                    direct = beam * np.clip(cosi, 0.0, None) * lit
                    diffuse = (SOLAR_CONSTANT * _DIFFUSE_FRAC
                               * math.sin(alt) * (1.0 + np.cos(sl)) / 2.0)
                    glob = (direct + diffuse).astype(np.float32)
                glob[np.isnan(sl)] = np.nan
                valid = np.isfinite(glob)
                ap["glob_bytes"](glob.tobytes())
                ap["n_shaded"](int((~lit & valid).sum()))
                ap["n_valid"](int(valid.sum()))
            if cols["scene_id"]:
                yield batch_from_cols(cols, SUN_SCHEMA)

    return joined.mapInArrow(build, SUN_SCHEMA)


# --------------------------------------------------------------------------
# Cumulative multi-observer viewshed (visibility coverage counts)
# --------------------------------------------------------------------------

_MCELL_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("obs_id", StringType()),
    StructField("sector", IntegerType()),
    StructField("gy", IntegerType()),
    StructField("gx0", IntegerType()),
    StructField("z_bytes", BinaryType()),      # f32 LE elevation row run
])

_CMASK_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    # packbits bitmap of cells THIS (observer, sector) sees; per-cell
    # counts are the sum of set bits across masks at assembly
    StructField("vis_bytes", BinaryType()),
])

VIEWSHED_COUNT_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("count_bytes", BinaryType()),  # f32: observers seeing the
    StructField("n_covered", LongType()),      # cell; NaN = NaN terrain
    StructField("n_evaluated", LongType()),
])


def viewshed_count_tiles(tiles: DataFrame, observers,
                         obs_height: float = 1.75,
                         max_dist: float | None = None,
                         n_sectors: int = 256,
                         src_col: str = "lst_bytes") -> DataFrame:
    """Cumulative viewshed over MANY observers per scene (the r.viewshed
    coverage-analysis composite, GRASS addon r.viewshed.cva): per cell, how
    many observers see it, under exactly `viewshed_tiles`' R3 semantics per
    observer. ``observers``: (scene_id, obs_id, ox, oy).

    Work is inherently O(sum over observers of their in-radius cells) —
    every observer needs its own rays — so ``max_dist`` is the scale knob
    exactly as in GRASS CVA studies; the sector decomposition bounds the
    per-task state the same way as the single-observer path. Cells travel
    as run-length row segments (one (obs, sector, gy, gx0, f32 bytes) row
    per maximal gx run — never one row per cell), and visible sets return
    as <= 2 KB per-(tile, observer, sector) bitmaps whose set bits SUM to
    the per-cell counts at assembly.

    Output planes are f32 counts (0 = evaluated, never seen; NaN = NaN
    terrain). A cell outside every observer's radius counts 0 — it is
    still evaluated terrain (n_evaluated counts finite cells, matching
    the sum over observers' n_evaluated only when radii cover the scene).
    """
    spark = tiles.sparkSession
    if isinstance(observers, pd.DataFrame):
        obs_pdf = observers
    else:
        obs_pdf = observers.toPandas()
    if obs_pdf[["scene_id", "obs_id"]].duplicated().any():
        raise ValueError("duplicate (scene_id, obs_id)")
    two_pi = 2.0 * math.pi

    nom_w, nom_h = nominal_dims(tiles)

    by_scene: dict[str, list] = {}
    for r in obs_pdf.itertuples():
        by_scene.setdefault(r.scene_id, []).append(
            (str(r.obs_id), float(r.ox), float(r.oy)))
    obs_b = spark.sparkContext.broadcast(by_scene)

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in _MCELL_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}
            for row in batch_rows(batch):
                olist = obs_b.value.get(row.scene_id)
                if not olist:
                    continue
                w, h = int(row.w), int(row.h)
                tx0, ty0 = int(row.tile_x) * nom_w, int(row.tile_y) * nom_h
                plane = codecs.decode_f32bt(
                    getattr(row, src_col), w, h).astype(np.float64)
                yy, xx = np.mgrid[0:h, 0:w]
                gxa = (tx0 + xx).ravel()
                gya = (ty0 + yy).ravel()
                za = plane.ravel()
                fin = np.isfinite(za)      # NaN cells: see _sector_pass
                gx0_, gy0_, z0 = gxa[fin], gya[fin], za[fin]
                for obs_id, oxx, oyy in olist:
                    rx = gx0_ - oxx
                    ry = gy0_ - oyy
                    r = np.hypot(rx, ry)
                    if max_dist is not None:
                        keep = r <= max_dist + 1.5
                        if not keep.any():
                            continue
                        gx, gy, z, rxx, ryy, rr = (a[keep] for a in
                                                   (gx0_, gy0_, z0,
                                                    rx, ry, r))
                    else:
                        gx, gy, z, rxx, ryy, rr = gx0_, gy0_, z0, rx, ry, r
                    ang = np.arctan2(ryy, rxx)
                    near = rr <= 2.5
                    with np.errstate(invalid="ignore", divide="ignore"):
                        half = np.arcsin(np.clip(
                            1.5 * math.sqrt(2.0) / np.maximum(rr, 1e-9),
                            0, 1.0))
                    s_lo = np.floor((ang - half + math.pi) / two_pi
                                    * n_sectors).astype(np.int64)
                    s_hi = np.floor((ang + half + math.pi) / two_pi
                                    * n_sectors).astype(np.int64)
                    span = np.minimum(s_hi - s_lo + 1, n_sectors)
                    span = np.where(near, n_sectors, span)
                    base = np.where(near, 0, s_lo)
                    n_out = int(span.sum())
                    if n_out == 0:
                        continue
                    idx = np.repeat(np.arange(len(gx)), span)
                    starts = np.concatenate(([0], np.cumsum(span)[:-1]))
                    off = np.arange(n_out) - np.repeat(starts, span)
                    sec = (np.repeat(base, span) + off) % n_sectors
                    egx, egy, ez = gx[idx], gy[idx], z[idx].astype("<f4")
                    rord = np.lexsort((egx, egy, sec))
                    s2, y2, x2, z2 = sec[rord], egy[rord], egx[rord], \
                        ez[rord]
                    newrun = np.r_[True, (s2[1:] != s2[:-1])
                                   | (y2[1:] != y2[:-1])
                                   | (x2[1:] != x2[:-1] + 1)]
                    rstarts = np.flatnonzero(newrun)
                    rends = np.r_[rstarts[1:], len(s2)]
                    sid = row.scene_id
                    for i in range(len(rstarts)):
                        ap["scene_id"](sid)
                        ap["obs_id"](obs_id)
                        ap["sector"](int(s2[rstarts[i]]))
                        ap["gy"](int(y2[rstarts[i]]))
                        ap["gx0"](int(x2[rstarts[i]]))
                        ap["z_bytes"](z2[rstarts[i]:rends[i]].tobytes())
            if cols["scene_id"]:
                yield batch_from_cols(cols, _MCELL_SCHEMA)

    cells = tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col) \
        .mapInArrow(emit, _MCELL_SCHEMA)

    # eye heights per (scene, observer): decode only the containing tiles
    obs_df = spark.createDataFrame(obs_pdf[["scene_id", "obs_id",
                                            "ox", "oy"]])
    eye_schema = StructType([
        StructField("scene_id", StringType()),
        StructField("obs_id", StringType()),
        StructField("z", DoubleType()),
    ])
    hit = (tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col)
           .join(F.broadcast(obs_df), on="scene_id")
           .filter((F.col("tile_x")
                    == F.floor(F.col("ox") / nom_w).cast("int"))
                   & (F.col("tile_y")
                      == F.floor(F.col("oy") / nom_h).cast("int"))))

    def eye_fn(batches: Iterator[pa.RecordBatch]) \
            -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {"scene_id": [], "obs_id": [], "z": []}
            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                lx = int(row.ox) - int(row.tile_x) * nom_w
                ly = int(row.oy) - int(row.tile_y) * nom_h
                if not (0 <= lx < w and 0 <= ly < h):
                    continue
                plane = codecs.decode_f32bt(getattr(row, src_col), w, h)
                cols["scene_id"].append(row.scene_id)
                cols["obs_id"].append(row.obs_id)
                cols["z"].append(float(plane[ly, lx]))
            if cols["scene_id"]:
                yield batch_from_cols(cols, eye_schema)

    oz = hit.mapInArrow(eye_fn, eye_schema).toPandas()
    eyes = {}
    for r in obs_pdf.itertuples():
        zr = oz[(oz.scene_id == r.scene_id) & (oz.obs_id == str(r.obs_id))]
        if len(zr) == 0 or not np.isfinite(zr.z.iloc[0]):
            raise ValueError(
                f"observer {r.obs_id!r} of scene {r.scene_id!r} is NaN or "
                "outside the raster")
        eyes[(r.scene_id, str(r.obs_id))] = (
            float(r.ox), float(r.oy), float(zr.z.iloc[0]) + float(obs_height))
    eyes_b = spark.sparkContext.broadcast(eyes)

    def run_bucket(key, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(columns=[f.name for f in _CMASK_SCHEMA])
        scene, obs_id = key[0], key[1]
        o = eyes_b.value.get((scene, obs_id))
        if o is None:
            return empty
        ox, oy, eye = o
        vgx_l, vgy_l = [], []
        for sector, g in pdf.groupby("sector", sort=False):
            zs = [np.frombuffer(b, dtype="<f4") for b in g.z_bytes]
            lens = np.fromiter((len(a) for a in zs), dtype=np.int64,
                               count=len(zs))
            z = np.concatenate(zs).astype(np.float64)
            gx = (np.repeat(g.gx0.to_numpy(np.int64), lens)
                  + _runs_arange(lens))
            gy = np.repeat(g.gy.to_numpy(np.int64), lens)
            rx = gx - ox
            ry = gy - oy
            r = np.hypot(rx, ry)
            ang = np.arctan2(ry, rx)
            ctr = (np.floor((ang + math.pi) / two_pi * n_sectors)
                   .astype(np.int64) % n_sectors)
            tgt = ctr == sector
            if max_dist is not None:
                tgt &= r <= max_dist
            if not tgt.any():
                continue
            tgx, tgy = gx[tgt], gy[tgt]
            vis = _march_targets(ox, oy, eye, tgx, tgy, z[tgt], gx, gy, z)
            if vis.any():
                vgx_l.append(tgx[vis])
                vgy_l.append(tgy[vis])
        if not vgx_l:
            return empty
        vgx = np.concatenate(vgx_l)
        vgy = np.concatenate(vgy_l)
        tx = vgx // nom_w
        ty = vgy // nom_h
        bit = (vgy - ty * nom_h) * nom_w + (vgx - tx * nom_w)
        torder = np.lexsort((bit, ty, tx))
        tx, ty, bit = tx[torder], ty[torder], bit[torder]
        tstarts = np.flatnonzero(
            np.r_[True, (tx[1:] != tx[:-1]) | (ty[1:] != ty[:-1])])
        tends = np.r_[tstarts[1:], len(tx)]
        nbits = nom_w * nom_h
        out_tx, out_ty, out_vi = [], [], []
        for a, b in zip(tstarts, tends):
            vi = np.zeros(nbits, dtype=np.uint8)
            vi[bit[a:b]] = 1
            out_tx.append(int(tx[a]))
            out_ty.append(int(ty[a]))
            out_vi.append(np.packbits(vi).tobytes())
        return pd.DataFrame({
            "scene_id": np.full(len(out_tx), scene, dtype=object),
            "tile_x": np.array(out_tx, dtype=np.int32),
            "tile_y": np.array(out_ty, dtype=np.int32),
            "vis_bytes": out_vi})

    # per-(observer, sector) visible sets leave as per-tile bitmaps; the
    # per-cell count is the SUM of set bits across masks (each observer
    # contributes a cell through exactly one sector), so the regroup is
    # one collect_list of <= 2 KB rows per tile — never per-cell rows
    # explicit-count repartition: see viewshed_tiles — keeps AQE from
    # coalescing the small RLE exchange into a serial scan task
    par = max(spark.sparkContext.defaultParallelism, 1)
    skey = F.floor(F.col("sector") / _VS_BKT)
    masks = (cells.repartition(par, F.col("scene_id"), F.col("obs_id"),
                               skey)
             .groupBy("scene_id", "obs_id", skey.alias("sector_bkt"))
             .applyInPandas(run_bucket, _CMASK_SCHEMA))
    keyed = masks.groupBy("scene_id", "tile_x", "tile_y").agg(
        F.collect_list("vis_bytes").alias("vi_masks"))
    layout = tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col)
    joined = layout.join(keyed, on=["scene_id", "tile_x", "tile_y"],
                         how="left")

    def build(batches: Iterator[pa.RecordBatch]) \
            -> Iterator[pa.RecordBatch]:
        nbits = nom_w * nom_h
        for batch in batches:
            cols: dict[str, list] = {f.name: []
                                     for f in VIEWSHED_COUNT_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}
            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                plane = codecs.decode_f32bt(getattr(row, src_col), w, h)
                cnt = np.where(np.isfinite(plane), 0.0, np.nan) \
                    .astype(np.float32)
                masks_ = row.vi_masks
                if masks_ is not None and len(masks_):
                    acc = np.zeros(nbits, dtype=np.int64)
                    for mb in masks_:
                        acc += np.unpackbits(
                            np.frombuffer(mb, dtype=np.uint8), count=nbits)
                    add = acc.reshape(nom_h, nom_w)[:h, :w]
                    sel = add > 0
                    cnt[sel] = add[sel].astype(np.float32)
                valid = np.isfinite(cnt)
                ap["scene_id"](row.scene_id)
                ap["tile_x"](int(row.tile_x))
                ap["tile_y"](int(row.tile_y))
                ap["w"](w); ap["h"](h)
                ap["count_bytes"](cnt.tobytes())
                ap["n_covered"](int((cnt > 0).sum()))
                ap["n_evaluated"](int(valid.sum()))
            if cols["scene_id"]:
                yield batch_from_cols(cols, VIEWSHED_COUNT_SCHEMA)

    return joined.mapInArrow(build, VIEWSHED_COUNT_SCHEMA)


# --------------------------------------------------------------------------
# Horizon angle maps (r.horizon analog): per-cell elevation angle of the
# horizon toward each requested azimuth
# --------------------------------------------------------------------------

_HCELL_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("azimuth", DoubleType()),
    StructField("bkt", LongType()),            # floor(strip / 64)
    StructField("gy", IntegerType()),
    StructField("gx0", IntegerType()),
    StructField("z_bytes", BinaryType()),      # f32 LE elevation row run
])

_HVAL_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("azimuth", DoubleType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    # packed per-tile results: bit positions (ly * nom_w + lx, int32 LE)
    # and f32 horizon degrees — one row per (tile, scan bucket) instead
    # of one row per cell
    StructField("idx_bytes", BinaryType()),
    StructField("val_bytes", BinaryType()),
])

HORIZON_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("azimuth", DoubleType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("horizon_bytes", BinaryType()),  # f32 deg; NaN = NaN cell
    StructField("n_valid", LongType()),          #        or no sunward cell
])


def _horizon_strip_scan(s: np.ndarray, z: np.ndarray) -> np.ndarray:
    """Exact per-cell max elevation angle toward the azimuth within one
    strip: for each cell c, max over cells b with s_b > s_c of
    (z_b - z_c) / (s_b - s_c), as DEGREES of atan; NaN when no strictly
    azimuth-ward cell exists. O(n log n): cells processed in descending s
    keep an upper convex hull of seen points; the slope from a query point
    to hull vertices is unimodal, found by ternary search. Equal-s cells
    never obstruct each other (the sun-shadow convention)."""
    order = np.argsort(-s, kind="mergesort")
    ss, zz = s[order], z[order]
    n = len(ss)
    out = np.full(n, np.nan)
    hx: list[float] = []   # hull s (descending)
    hz: list[float] = []

    def query(sc: float, zc: float) -> float:
        lo, hi = 0, len(hx) - 1
        while hi - lo > 2:
            m1 = lo + (hi - lo) // 3
            m2 = hi - (hi - lo) // 3
            f1 = (hz[m1] - zc) / (hx[m1] - sc)
            f2 = (hz[m2] - zc) / (hx[m2] - sc)
            if f1 < f2:
                lo = m1 + 1
            else:
                hi = m2
        return max((hz[i] - zc) / (hx[i] - sc) for i in range(lo, hi + 1))

    i = 0
    while i < n:
        j = i
        while j < n and ss[j] == ss[i]:
            j += 1
        if hx:
            for k in range(i, j):
                out[k] = math.degrees(math.atan(query(ss[k], zz[k])))
        for k in range(i, j):           # add the group to the upper hull
            sk, zk = float(ss[k]), float(zz[k])
            if hx and hx[-1] == sk:     # same s: keep only the higher point
                if zk <= hz[-1]:
                    continue
                hx.pop(); hz.pop()
            while len(hx) >= 2:
                # pop while the last vertex is under the (prev, new) chord
                # (s descends along the hull, so the cross test flips sign)
                x1, y1, x2, y2 = hx[-2], hz[-2], hx[-1], hz[-1]
                if (y2 - y1) * (sk - x1) >= (zk - y1) * (x2 - x1):
                    hx.pop(); hz.pop()
                else:
                    break
            hx.append(sk); hz.append(zk)
        i = j
    res = np.full(n, np.nan)
    res[order] = out
    return res


def horizon_tiles(tiles: DataFrame, azimuths, src_col: str = "lst_bytes"
                  ) -> DataFrame:
    """r.horizon analog: per-cell horizon ELEVATION ANGLE (signed degrees,
    atan of the max slope to any strictly azimuth-ward cell in the cell's
    parallel-ray strip; NaN for NaN cells and for cells with nothing
    azimuth-ward — the scene-edge cells of that direction) for each
    requested compass azimuth. One output plane row per (scene, azimuth,
    tile).

    Same distributed shape as `sun_tiles`' shadow pass, once per azimuth:
    one decode pass emits (azimuth, strip, cell) small rows, each strip
    runs the exact convex-hull scan, one equi regroup rebuilds planes —
    pixel planes never hash-shuffle. Work is O(azimuths x cells) rows, the
    honest cost of independent directions (GRASS iterates the whole raster
    per direction too)."""
    azs = [float(a) % 360.0 for a in azimuths]
    if len(azs) == 0:
        raise ValueError("horizon_tiles needs at least one azimuth")
    if len(set(azs)) != len(azs):
        raise ValueError("duplicate azimuths")
    nom_w, nom_h = nominal_dims(tiles)

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in _HCELL_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}
            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                tx0, ty0 = int(row.tile_x) * nom_w, int(row.tile_y) * nom_h
                plane = codecs.decode_f32bt(
                    getattr(row, src_col), w, h).astype(np.float64)
                vv, uu = np.mgrid[0:h, 0:w]
                gx = (tx0 + uu).ravel()
                gy = (ty0 + vv).ravel()
                z = plane.ravel().astype("<f4")   # exact f32 round-trip
                keep = np.isfinite(z)
                if not keep.any():
                    continue
                gx, gy, z = gx[keep], gy[keep], z[keep]
                rowid = gy                         # runs never span rows
                sid = row.scene_id
                for az in azs:
                    a = math.radians(az)
                    ca, sa = math.cos(a), math.sin(a)
                    # strip = floor(gx cosA + gy sinA) is monotone in gx
                    # along a raster row -> equal-BUCKET runs of a row
                    # are gx-contiguous; one cut pass per azimuth
                    bkt = np.floor(gx * ca + gy * sa).astype(np.int64) // 64
                    newrun = np.r_[True, (bkt[1:] != bkt[:-1])
                                   | (rowid[1:] != rowid[:-1])
                                   | (gx[1:] != gx[:-1] + 1)]
                    rstarts = np.flatnonzero(newrun)
                    rends = np.r_[rstarts[1:], len(gx)]
                    for i in range(len(rstarts)):
                        ap["scene_id"](sid)
                        ap["azimuth"](az)
                        ap["bkt"](int(bkt[rstarts[i]]))
                        ap["gy"](int(gy[rstarts[i]]))
                        ap["gx0"](int(gx[rstarts[i]]))
                        ap["z_bytes"](z[rstarts[i]:rends[i]].tobytes())
            if cols["scene_id"]:
                yield batch_from_cols(cols, _HCELL_SCHEMA)

    cells = tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col) \
        .mapInArrow(emit, _HCELL_SCHEMA)

    def scan(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # strip-BUCKET task hosting many strips (see sun_tiles: one group
        # per strip drowned in per-group overhead); per-strip results are
        # unchanged — `_horizon_strip_scan` sorts internally and tie
        # groups are order-independent
        az = float(key[1])
        a = math.radians(az)
        du, dv = math.sin(a), -math.cos(a)
        ca, sa = math.cos(a), math.sin(a)
        zs = [np.frombuffer(b, dtype="<f4") for b in pdf.z_bytes]
        lens = np.fromiter((len(x) for x in zs), dtype=np.int64,
                           count=len(zs))
        z = np.concatenate(zs).astype(np.float64)
        gx = (np.repeat(pdf.gx0.to_numpy(np.int64), lens)
              + _runs_arange(lens))
        gy = np.repeat(pdf.gy.to_numpy(np.int64), lens)
        s = gx * du + gy * dv
        strip = np.floor(gx * ca + gy * sa).astype(np.int64)
        order = np.argsort(strip, kind="stable")
        st_o = strip[order]
        bounds = np.r_[np.flatnonzero(np.r_[True, st_o[1:] != st_o[:-1]]),
                       len(st_o)]
        ang = np.empty(len(s))
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            sel = order[lo:hi]
            ang[sel] = _horizon_strip_scan(s[sel], z[sel])
        # pack per-tile (idx, f32 value) arrays — the f64->f32 cast is
        # the same one the plane assembly applied per cell before
        scene = pdf.scene_id.iloc[0]
        tx = gx // nom_w
        ty = gy // nom_h
        bit = ((gy - ty * nom_h) * nom_w + (gx - tx * nom_w)) \
            .astype(np.int32)
        val = ang.astype(np.float32)
        torder = np.lexsort((bit, ty, tx))
        tx, ty, bit, val = tx[torder], ty[torder], bit[torder], val[torder]
        tstarts = np.flatnonzero(
            np.r_[True, (tx[1:] != tx[:-1]) | (ty[1:] != ty[:-1])])
        tends = np.r_[tstarts[1:], len(tx)]
        out_tx, out_ty, out_idx, out_val = [], [], [], []
        for a_, b_ in zip(tstarts, tends):
            out_tx.append(int(tx[a_]))
            out_ty.append(int(ty[a_]))
            out_idx.append(bit[a_:b_].astype("<i4").tobytes())
            out_val.append(val[a_:b_].astype("<f4").tobytes())
        return pd.DataFrame({
            "scene_id": np.full(len(out_tx), scene, dtype=object),
            "azimuth": np.full(len(out_tx), az),
            "tile_x": np.array(out_tx, dtype=np.int32),
            "tile_y": np.array(out_ty, dtype=np.int32),
            "idx_bytes": out_idx, "val_bytes": out_val})

    par = max(tiles.sparkSession.sparkContext.defaultParallelism, 1)
    vals = (cells.repartition(par, "scene_id", "azimuth", "bkt")
            .groupBy("scene_id", "azimuth", "bkt")
            .applyInPandas(scan, _HVAL_SCHEMA))

    layout = tiles.select("scene_id", "tile_x", "tile_y", "w", "h")
    keyed = vals.groupBy("scene_id", "azimuth", "tile_x", "tile_y").agg(
        F.collect_list("idx_bytes").alias("idx_l"),
        F.collect_list("val_bytes").alias("val_l"))
    az_df = tiles.sparkSession.createDataFrame(
        pd.DataFrame({"azimuth": azs}))
    grid = layout.crossJoin(F.broadcast(az_df))
    joined = grid.join(keyed, on=["scene_id", "azimuth", "tile_x", "tile_y"],
                       how="left")

    def build(batches: Iterator[pa.RecordBatch]) \
            -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in HORIZON_SCHEMA}
            ap = {k: v.append for k, v in cols.items()}
            for row in batch_rows(batch):
                w, h = int(row.w), int(row.h)
                plane = np.full((nom_h, nom_w), np.nan, dtype=np.float32)
                if row.idx_l is not None and len(row.idx_l):
                    for ib, vb in zip(row.idx_l, row.val_l):
                        plane.ravel()[np.frombuffer(ib, dtype="<i4")] = \
                            np.frombuffer(vb, dtype="<f4")
                plane = plane[:h, :w]
                ap["scene_id"](row.scene_id)
                ap["azimuth"](float(row.azimuth))
                ap["tile_x"](int(row.tile_x))
                ap["tile_y"](int(row.tile_y))
                ap["w"](w); ap["h"](h)
                ap["horizon_bytes"](np.ascontiguousarray(plane).tobytes())
                ap["n_valid"](int(np.isfinite(plane).sum()))
            if cols["scene_id"]:
                yield batch_from_cols(cols, HORIZON_SCHEMA)

    return joined.mapInArrow(build, HORIZON_SCHEMA)
