"""Seeded input generator for the benchmark workloads.

Every table the program reads is built here from ``--seed``: scene ids carry
the seed (``LC08_s<seed>_<i>``), and tile pixels, captions and the 25 % DCT
rule come from the engine's own fixture code (``synth.gen_tile``,
``synth.caption_for``, ``codecs.encode_tile``), which is keyed on the scene
id. Scene footprints, the zipf tile-count profile's scene order, the AOI
polygons and the station catalog are drawn from a numpy generator seeded
with ``(seed, workload)``. The same seed therefore gives byte-identical
tables.

Tables are cached under ``perfbench/.cache/<workload>-s<seed>-g<version>/``;
a run with a cached key skips generation. Tiles are generated by one
subprocess per core (``python3 gen.py <keys.json> <part.parquet>``), each
writing one parquet file, because the DCT encoder is pure numpy.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from dataclasses import dataclass, replace
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when anything below changes the generated bytes: it is part of the
# cache key, so a stale cache can never be read by a newer generator.
GEN_VERSION = 1

TILE = 128  # px per tile side, the engine's bench tile size


@dataclass(frozen=True)
class Profile:
    """Fixed size and skew profile of one workload's raster table."""

    n_scenes: int
    total_pairs: int    # band-10/band-11 tile pairs over all scenes
    zipf: float         # tile count of the scene at rank r ~ 1/r**zipf
    catalog_scenes: int  # scenes the AOI layer and station catalog cover


# zipf 0.74 over 12 scenes puts the largest scene at ~4x the median scene.
# tiles_skewed stores ~75 MB, above the engine's 64 MiB broadcast threshold
# (by 10 %, ~25x the seed-to-seed spread of the size), so its band pairing
# is a shuffled join. Sizes keep a pass near 2-3 s on 4 cores.
PROFILES = {
    "tiles_skewed": Profile(n_scenes=12, total_pairs=1300, zipf=0.74, catalog_scenes=12),
    # one small scene, vector layers for a 48-scene catalog: 96 AOIs and
    # the full 288-station catalog, so brute-force kNN cost shows
    "pixels_enrich": Profile(n_scenes=1, total_pairs=6, zipf=0.0, catalog_scenes=48),
}

AOI_PER_SCENE = 2
STATIONS_PER_SCENE = 6


def scene_id(seed: int, i: int) -> str:
    return f"LC08_s{seed}_{i:03d}"


def scene_grids(p: Profile) -> list[tuple[int, int]]:
    """(ntx, nty) tile grid per scene rank, largest first; the tile counts
    follow the zipf profile and sum to about ``p.total_pairs``."""
    w = np.array([1.0 / (r + 1) ** p.zipf for r in range(p.n_scenes)])
    grids = []
    for c in p.total_pairs * w / w.sum():
        nty = max(1, round(math.sqrt(c)))
        grids.append((max(1, round(c / nty)), nty))
    return grids


@dataclass(frozen=True)
class Tables:
    """Paths and sizes of one generated input set."""

    root: Path
    scenes: str         # parquet dir: image_id, bytes, w, h, fmt, caption, phash
    scene_meta: str     # parquet file: scene_id, MTL constants, bbox, acquired_at
    aoi: str            # parquet file: aoi_id, ring, category
    stations: str       # parquet file: station_id, lon, lat, cwv_obs, observed_at
    info: dict          # pairs, pixels, per-scene tile counts


def _draw_vectors(seed: int, workload: str, p: Profile):
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    t0 = datetime(2024, 1, 1, 10, 30, tzinfo=timezone.utc)
    meta, aois, stations = [], [], []
    from i_landsat8_swlst_spark import constants as C

    for i in range(p.catalog_scenes):
        lon0 = float(rng.uniform(-178.0, 176.0))
        lat0 = float(rng.uniform(-58.0, 56.5))
        lon1, lat1 = lon0 + 1.5, lat0 + 1.5
        acquired = t0 + timedelta(days=int(rng.integers(0, 365)))
        sid = scene_id(seed, i)
        if i < p.n_scenes:
            meta.append({
                "scene_id": sid,
                "ml_b10": C.ML_DEFAULT, "al_b10": C.AL_DEFAULT,
                "ml_b11": C.ML_DEFAULT, "al_b11": C.AL_DEFAULT,
                "k1_b10": C.K1_B10, "k2_b10": C.K2_B10,
                "k1_b11": C.K1_B11, "k2_b11": C.K2_B11,
                "lon0": lon0, "lat0": lat0, "lon1": lon1, "lat1": lat1,
                "acquired_at": acquired,
            })
        cx0, cy0 = lon0 + 0.75, lat0 + 0.75
        for j in range(AOI_PER_SCENE):
            cx, cy = cx0 + rng.uniform(-0.5, 0.5), cy0 + rng.uniform(-0.5, 0.5)
            n_vert = int(rng.integers(5, 10))
            angles = np.sort(rng.uniform(0, 2 * np.pi, n_vert))
            radii = rng.uniform(0.15, 0.6, n_vert)
            star = j % 2 == 1
            if star:  # alternate radii -> non-convex ring
                radii[::2] *= 0.35
            ring = [{"lon": float(cx + r * np.cos(a)), "lat": float(cy + r * np.sin(a))}
                    for a, r in zip(angles, radii)]
            ring.append(ring[0])
            aois.append({"aoi_id": f"aoi_s{seed}_{i:03d}_{j}", "ring": ring,
                         "category": "star" if star else "convex"})
        for j in range(STATIONS_PER_SCENE):
            stations.append({
                "station_id": f"st_s{seed}_{i:03d}_{j}",
                "lon": float(rng.uniform(lon0 - 0.3, lon1 + 0.3)),
                "lat": float(rng.uniform(lat0 - 0.3, lat1 + 0.3)),
                "cwv_obs": float(rng.uniform(0.0, 6.3)),
                "observed_at": acquired,
            })
    return meta, aois, stations


def write_tiles(keys: list, out_file: str) -> None:
    """Generate tile rows (both bands) for (scene_id, tx, ty, date) keys and
    write them as one parquet file."""
    from i_landsat8_swlst_spark import codecs, synth

    rows = []
    for sid, tx, ty, date in keys:
        t = synth.gen_tile(sid, tx, ty, TILE, TILE)
        lossy = synth.stable_hash(sid, tx, ty, "fmt") % 4 == 0
        fmt = codecs.FMT_DCT if lossy else codecs.FMT_RAW
        for band in (10, 11):
            data = codecs.encode_tile(t[f"dn{band}"], fmt)
            rows.append({
                "image_id": synth.image_id(sid, band, tx, ty),
                "bytes": data,
                "w": TILE, "h": TILE,
                "fmt": fmt,
                "caption": synth.caption_for(sid, band, tx, ty, date, t["landcover"]),
                "phash": codecs.phash64(codecs.decode_tile(data, TILE, TILE, fmt)),
            })
    schema = pa.schema([("image_id", pa.string()), ("bytes", pa.binary()),
                        ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
                        ("caption", pa.string()), ("phash", pa.int64())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), out_file)


def generate(workload: str, seed: int, cache_root: Path, workers: int) -> Tables:
    """Return the cached tables for (workload, seed), generating on a miss."""
    p = PROFILES[workload]
    root = cache_root / f"{workload}-s{seed}-g{GEN_VERSION}"
    t = Tables(root, str(root / "scenes"), str(root / "scene_meta.parquet"),
               str(root / "aoi.parquet"), str(root / "stations.parquet"), {})
    done = root / "info.json"
    if done.is_file():
        return replace(t, info=json.loads(done.read_text()))
    shutil.rmtree(root, ignore_errors=True)
    (root / "scenes").mkdir(parents=True)

    meta, aois, stations = _draw_vectors(seed, workload, p)
    order = np.random.default_rng([seed, 7]).permutation(p.n_scenes)
    grids = scene_grids(p)
    keys, per_scene = [], {}
    for rank, i in enumerate(order):
        sid = meta[i]["scene_id"]
        ntx, nty = grids[rank]
        per_scene[sid] = ntx * nty
        date = meta[i]["acquired_at"].strftime("%Y-%m-%d")
        keys += [(sid, tx, ty, date) for ty in range(nty) for tx in range(ntx)]

    # one file per worker: a scan split for every core
    (root / "keys").mkdir()
    procs = []
    for k in range(max(1, min(len(keys), workers))):
        key_file = root / "keys" / f"{k:03d}.json"
        key_file.write_text(json.dumps(keys[k::workers]))
        procs.append(subprocess.Popen([sys.executable, __file__, str(key_file),
                                       str(root / "scenes" / f"part-{k:03d}.parquet")]))
    codes = [proc.wait() for proc in procs]
    if any(codes):
        raise RuntimeError(f"tile generation failed: exit codes {codes}")
    shutil.rmtree(root / "keys")

    for rows, path in ((meta, t.scene_meta), (aois, t.aoi), (stations, t.stations)):
        # microsecond timestamps: Spark does not read parquet TIMESTAMP(NANOS)
        pq.write_table(pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False),
                       path, coerce_timestamps="us")
    info = {"pairs": len(keys), "pixels": len(keys) * TILE * TILE,
            "tile": TILE, "scene_pairs": per_scene,
            "aois": len(aois), "stations": len(stations)}
    done.write_text(json.dumps(info))
    return replace(t, info=info)


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    write_tiles([tuple(k) for k in json.loads(Path(sys.argv[1]).read_text())], sys.argv[2])
