"""The benchmark workloads: what one pass runs, the prefixes the traced
run materializes, and the output checks that count into ``failed``.

Every pass ends in the noop sink, so a pass executes the whole plan without
a driver collect. Checks recompute a sample of the output in this
process with the engine's numpy kernels and compare.
"""

from __future__ import annotations

import math
import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, IntegerType, StringType

from i_landsat8_swlst_spark import (
    checkpoint, codecs, constants as C, kernels as K, pipeline, spatial, synth,
)

WINDOW = C.DEFAULT_CWV_WINDOW
KNN_K = 3          # full_pixel_pipeline's default station fan-out
N_SLICES = 16      # jobs/job_lst.py default
PSNR_MIN_DB = 40.0


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def arrow_bytes_expr(df: DataFrame):
    """Sum over rows of each row's Arrow payload: byte length of string and
    binary values plus the fixed width of numeric columns."""
    parts = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (StringType, BinaryType)):
            parts.append(F.coalesce(F.octet_length(f.name), F.lit(0)))
        else:
            parts.append(F.lit(4 if isinstance(f.dataType, IntegerType) else 8))
    return F.sum(sum(parts[1:], parts[0]).cast("long"))


def knn_topk(px: np.ndarray, py: np.ndarray, ids: np.ndarray,
             slon: np.ndarray, slat: np.ndarray, k: int):
    """Brute-force k nearest stations with the (distance, station_id)
    tie-break ``spatial.enrich_pixels`` documents -> (idx, km), (n, k)."""
    id_rank = np.argsort(np.argsort(ids, kind="stable"))
    d = spatial.haversine_km(px[:, None], py[:, None], slon[None, :], slat[None, :])
    key = d + id_rank[None, :] * 1e-12
    top = np.argpartition(key, k - 1, axis=1)[:, :k]
    rowi = np.arange(len(px))[:, None]
    top = top[rowi, np.argsort(key[rowi, top], axis=1)]
    return top, d[rowi, top]


class Check:
    """Output checks of one run. Each named check is one attempt; it fails
    when any of its samples fails, and keeps the first failing detail."""

    def __init__(self):
        self.results: dict[str, tuple[bool, str]] = {}

    def expect(self, name: str, ok: bool, detail: str = "") -> None:
        was_ok, was_detail = self.results.get(name, (True, ""))
        self.results[name] = (was_ok and bool(ok), was_detail if not was_ok else detail)

    @property
    def failed(self) -> int:
        return sum(not ok for ok, _ in self.results.values())


class Workload:
    """Shared raster inputs: scenes, scene_meta, emissivities."""

    name = ""

    def __init__(self, tables):
        self.t = tables
        self.pixels = tables.info["pixels"]
        self.pairs = tables.info["pairs"]
        # the in-process reference side's copies of the inputs
        self.input = pq.read_table(tables.scenes)
        self.meta_by_id = pq.read_table(tables.scene_meta).to_pandas().set_index("scene_id")
        self.emis_by_class = {e.landcover_class: (e.emissivity_b10, e.emissivity_b11)
                              for e in C.load_emissivities()}

    def open(self, spark) -> None:
        self.spark = spark
        self.scenes = spark.read.parquet(self.t.scenes)
        self.meta = spark.read.parquet(self.t.scene_meta)
        self.emis = spark.createDataFrame(
            pd.DataFrame([e._asdict() for e in C.load_emissivities()]))

    def enriched(self) -> DataFrame:
        return pipeline.build_enriched(self.scenes, self.meta, self.emis)

    # --- in-process reference side -------------------------------------

    def pair_arrays(self, image_id_b10: str):
        """Decoded DN pair + metadata of one tile, straight from the input."""
        iid11 = image_id_b10.replace("/B10/", "/B11/")
        rows = self.input.filter(pc.is_in(self.input["image_id"],
                                          value_set=pa.array([image_id_b10, iid11])))
        by_id = {r["image_id"]: r for r in rows.to_pylist()}
        r10, r11 = by_id[image_id_b10], by_id[iid11]
        sid, _, tx, ty = synth.parse_image_id(image_id_b10)
        w, h = r10["w"], r10["h"]
        return {
            "sid": sid, "tx": tx, "ty": ty, "w": w, "h": h,
            "fmt": r10["fmt"], "caption": r10["caption"],
            "bytes10": r10["bytes"], "bytes11": r11["bytes"],
            "dn10": codecs.decode_tile_dn(r10["bytes"], w, h, r10["fmt"]),
            "dn11": codecs.decode_tile_dn(r11["bytes"], w, h, r11["fmt"]),
            "landcover": r10["caption"].split("landcover=")[1],
        }

    def kernel(self, p: dict) -> dict:
        """fused_lst_kernel on one decoded pair, as the dispatcher calls it."""
        meta = self.meta_by_id.loc[p["sid"]]
        e10, e11 = self.emis_by_class[p["landcover"]]
        r = K.fused_lst_kernel(p["dn10"][None], p["dn11"][None],
                               {k: float(meta[k]) for k in pipeline.META_COLS},
                               e10=e10, e11=e11, window=WINDOW)
        return {k: v[0] for k, v in r.items()}

    def check_fixture(self, chk: Check, p: dict) -> None:
        """Lossy inputs keep PSNR >= 40 dB against the synthesized DNs, and
        the stored caption equals the fixture's caption."""
        truth = synth.gen_tile(p["sid"], p["tx"], p["ty"], p["w"], p["h"])
        if p["fmt"] != codecs.FMT_RAW:
            for band in (10, 11):
                dec = codecs.decode_tile(p[f"bytes{band}"], p["w"], p["h"], p["fmt"])
                db = codecs.psnr(dec, truth[f"dn{band}"].astype(np.float64))
                chk.expect(f"psnr_b{band}", db >= PSNR_MIN_DB, f"{p['sid']} {db:.1f} dB")
        meta = self.meta_by_id.loc[p["sid"]]
        date = pd.Timestamp(meta["acquired_at"]).strftime("%Y-%m-%d")
        want = synth.caption_for(p["sid"], 10, p["tx"], p["ty"], date, truth["landcover"])
        chk.expect("caption", p["caption"] == want, p["sid"])

    def sample_ids(self, n: int) -> list[str]:
        """Deterministic, evenly spaced sample of band-10 image ids."""
        ids = sorted(i for i in self.input["image_id"].to_pylist() if "/B10/" in i)
        step = max(1, len(ids) // n)
        return ids[::step][:n]

    # --- kernel-layer micro timings (single-threaded, own tiles) --------

    def kernel_micro(self, n_pairs: int = 24, reps: int = 5) -> dict:
        """Decode and kernel cost on a sample of this workload's tiles, in
        this process on one core. Kernel stages run on stacks of up to 4
        tiles of one fmt, as the dispatcher builds them."""
        pairs = [self.pair_arrays(i) for i in self.sample_ids(n_pairs)]
        by_fmt = {f: [p for p in pairs if p["fmt"] == f]
                  for f in (codecs.FMT_RAW, codecs.FMT_DCT)}
        dec_us = {f: _median_wall(
            lambda i, g=g: codecs.decode_tile_dn(g[i]["bytes10"], g[i]["w"],
                                                 g[i]["h"], g[i]["fmt"]),
            len(g), reps) / max(1, len(g)) * 1e6 for f, g in by_fmt.items()}

        stack = pipeline._KERNEL_STACK
        stacks = []
        for g in by_fmt.values():
            for s in range(0, len(g), stack):
                meta = self.meta_by_id.loc[g[s]["sid"]]
                stacks.append({
                    "dn10": np.stack([p["dn10"] for p in g[s:s + stack]]),
                    "dn11": np.stack([p["dn11"] for p in g[s:s + stack]]),
                    "meta": {k: float(meta[k]) for k in pipeline.META_COLS},
                    "e": self.emis_by_class[g[s]["landcover"]]})
        mpx = sum(s["dn10"].size for s in stacks) / 1e6

        def bt(s):
            m = s["meta"]
            return (K.dn_to_bt(s["dn10"], m["ml_b10"], m["al_b10"], m["k1_b10"], m["k2_b10"]),
                    K.dn_to_bt(s["dn11"], m["ml_b11"], m["al_b11"], m["k1_b11"], m["k2_b11"]))

        bts = [bt(s) for s in stacks]
        cws = [K.cwv(*b, WINDOW) for b in bts]

        def ms_per_mpx(fn) -> float:
            return _median_wall(fn, len(stacks), reps) * 1e3 / mpx

        fused = ms_per_mpx(lambda i: K.fused_lst_kernel(
            stacks[i]["dn10"], stacks[i]["dn11"], stacks[i]["meta"],
            *stacks[i]["e"], window=WINDOW))
        fmts = self.input["fmt"].to_pylist()
        n_dct = sum(f == codecs.FMT_DCT for f in fmts)
        return {
            "codecs.decode_raw_us": dec_us[codecs.FMT_RAW],
            "codecs.decode_dct_us": dec_us[codecs.FMT_DCT],
            "codecs.tiles_decoded": float(len(fmts)),
            "codecs.dct_share": n_dct / len(fmts),
            "kernels.fused_ms_per_mpx": fused,
            "kernels.dn_to_bt_ms_per_mpx": ms_per_mpx(lambda i: bt(stacks[i])),
            "kernels.cwv_ms_per_mpx": ms_per_mpx(lambda i: K.cwv(*bts[i], WINDOW)),
            "kernels.lst_from_bt_ms_per_mpx": ms_per_mpx(
                lambda i: K.lst_from_bt(*bts[i], cws[i], *stacks[i]["e"])),
            "kernels.calls": float(self.modelled_kernel_calls()),
            # decode + kernel core-seconds one pass spends
            "kernels.core_s": ((len(fmts) - n_dct) * dec_us[codecs.FMT_RAW]
                               + n_dct * dec_us[codecs.FMT_DCT]) / 1e6
                              + self.pixels / 1e6 * fused / 1e3,
        }

    def modelled_kernel_calls(self) -> int:
        """Fused-kernel calls per pass if every Arrow batch held
        ``ARROW_BATCH_ROWS`` pairs in key order: per batch, one call per
        started stack of 4 within each (fmt, landcover) group."""
        from i_landsat8_swlst_spark.session import ARROW_BATCH_ROWS

        b10 = sorted((i, f, c.split("landcover=")[1]) for i, f, c in zip(
            self.input["image_id"].to_pylist(), self.input["fmt"].to_pylist(),
            self.input["caption"].to_pylist()) if "/B10/" in i)
        calls = 0
        for s in range(0, len(b10), ARROW_BATCH_ROWS):
            groups: dict[tuple, int] = {}
            for _, fmt, lc in b10[s:s + ARROW_BATCH_ROWS]:
                groups[(fmt, lc)] = groups.get((fmt, lc), 0) + 1
            calls += sum(math.ceil(n / pipeline._KERNEL_STACK) for n in groups.values())
        return calls


def _median_wall(fn, n: int, reps: int) -> float:
    """Median over ``reps`` of the wall time of fn(0) .. fn(n-1)."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for i in range(n):
            fn(i)
        walls.append(time.perf_counter() - t0)
    return float(np.median(walls))


class TilesSkewed(Workload):
    """The engine's core product on a zipf-skewed multi-scene table:
    build_enriched -> lst_tiles with arrays emitted. Scan, the band-pair
    shuffle, codecs and kernels do the work; spatial does none."""

    name = "tiles_skewed"

    def product(self, emit: bool = True) -> DataFrame:
        return pipeline.lst_tiles(self.enriched(), window=WINDOW, emit_arrays=emit)

    def run_pass(self) -> None:
        noop(self.product())

    def prefixes(self) -> list[tuple[str, callable]]:
        """Cumulative plan prefixes; each layer's time is its prefix minus
        the previous one."""
        return [("scan", lambda: noop(self.scenes)),
                ("pair", lambda: noop(self.enriched())),
                ("stats", lambda: noop(self.product(emit=False))),
                ("emit", lambda: noop(self.product()))]

    def check(self, chk: Check, sample: int = 16) -> dict:
        """One output row per band pair; sampled tiles byte-equal to the
        in-process kernel; lossy inputs PSNR >= 40 dB; captions equal."""
        ids = self.sample_ids(sample)
        out = self.product()
        hit = F.col("image_id").isin(ids)
        agg = out.agg(
            F.count(F.lit(1)).alias("rows"), arrow_bytes_expr(out).alias("bytes"),
            F.collect_list(F.when(hit, F.struct("image_id", "caption", "lst_bytes",
                                                "cwv_bytes"))).alias("sample"),
        ).collect()[0]
        chk.expect("rows_eq_pairs", agg["rows"] == self.pairs,
                   f"{agg['rows']} rows for {self.pairs} pairs")
        got = {r["image_id"]: r for r in agg["sample"]}
        chk.expect("sample_present", sorted(got) == sorted(ids), f"{len(got)}/{len(ids)}")
        for iid in ids:
            if iid not in got:
                continue
            p = self.pair_arrays(iid)
            r = self.kernel(p)
            chk.expect("lst_bytes_equal",
                       r["lst_k"].astype("<f4").tobytes() == bytes(got[iid]["lst_bytes"]), iid)
            chk.expect("cwv_bytes_equal",
                       r["cwv"].astype("<f4").tobytes() == bytes(got[iid]["cwv_bytes"]), iid)
            chk.expect("caption_out", got[iid]["caption"] == p["caption"], iid)
            self.check_fixture(chk, p)
        return {"rows_out": agg["rows"], "bytes_per_px": agg["bytes"] / self.pixels}


class PixelsEnrich(Workload):
    """The north-star raster->vector flow on one small scene:
    full_pixel_pipeline (lst_pixels, then cells, left PIP and kNN over the
    full station catalog). Geo and spatial do the work; the kernel little."""

    name = "pixels_enrich"

    def __init__(self, tables):
        super().__init__(tables)
        self.aoi_pdf = pq.read_table(tables.aoi).to_pandas()
        self.stations_pdf = pq.read_table(tables.stations).to_pandas()
        self.pp = spatial.PackedPolygons.from_pdf(self.aoi_pdf)
        self._points = None

    def with_grid(self) -> DataFrame:
        return pipeline.build_enriched_with_grid(self.scenes, self.meta, self.emis)

    def product_pixels(self) -> DataFrame:
        return pipeline.lst_pixels(self.with_grid(), window=WINDOW)

    def product(self) -> DataFrame:
        return pipeline.full_pixel_pipeline(self.scenes, self.meta, self.emis,
                                            self.aoi_pdf, self.stations_pdf,
                                            window=WINDOW, knn_k=KNN_K)

    def run_pass(self) -> None:
        noop(self.product())

    def prefixes(self):
        return [("scan", lambda: noop(self.scenes)),
                ("pair", lambda: noop(self.with_grid())),
                ("pixels", lambda: noop(self.product_pixels())),
                ("enrich", lambda: noop(self.product()))]

    def points(self) -> pd.DataFrame:
        """Every valid output pixel of lst_pixels, computed in process:
        image_id, px, py and the geocoded centroid."""
        if self._points is not None:
            return self._points
        ids = sorted(i for i in self.input["image_id"].to_pylist() if "/B10/" in i)
        ntx = {}
        for i in ids:
            sid, _, tx, ty = synth.parse_image_id(i)
            ntx[sid] = (max(ntx.get(sid, (0, 0))[0], tx + 1),
                        max(ntx.get(sid, (0, 0))[1], ty + 1))
        meta = self.meta_by_id
        parts = []
        for i in ids:
            p = self.pair_arrays(i)
            lst = self.kernel(p)["lst_k"].ravel()
            keep = np.flatnonzero(np.isfinite(lst))
            py, px = np.divmod(keep, p["w"])
            m = meta.loc[p["sid"]]
            gx, gy = ntx[p["sid"]]
            dlon, dlat = (m["lon1"] - m["lon0"]) / gx, (m["lat1"] - m["lat0"]) / gy
            parts.append(pd.DataFrame({
                "image_id": i, "px": px.astype(np.int32), "py": py.astype(np.int32),
                "lon": m["lon0"] + (p["tx"] + (px + 0.5) / p["w"]) * dlon,
                "lat": m["lat1"] - (p["ty"] + (py + 0.5) / p["h"]) * dlat}))
        self._points = pd.concat(parts, ignore_index=True)
        return self._points

    def check(self, chk: Check, every: int = 211) -> dict:
        """Row count equals sum over pixels of max(1, AOI hits) x k; sampled
        pixels' rows agree with in-process query_polygons and kNN."""
        pts = self.points()
        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        pi, gi = spatial.query_polygons(self.pp, lon, lat)
        hits = np.bincount(pi, minlength=len(pts))
        want_rows = int(np.maximum(1, hits).sum()) * KNN_K

        out = self.product()
        hit = F.pmod(F.xxhash64("image_id", "px", "py"), F.lit(every)) == 0
        agg = out.agg(
            F.count(F.lit(1)).alias("rows"), arrow_bytes_expr(out).alias("bytes"),
            F.collect_list(F.when(hit, F.struct(
                "image_id", "px", "py", "lon", "lat", "aoi_id", "station_id",
                "station_rank", "station_km"))).alias("sample"),
        ).collect()[0]
        chk.expect("rows_eq_fanout", agg["rows"] == want_rows,
                   f"{agg['rows']} rows, expected {want_rows}")
        st = self.stations_pdf
        ids = st["station_id"].to_numpy(object)
        sample = pd.DataFrame([r.asDict() for r in agg["sample"]])
        chk.expect("sample_nonempty", len(sample) > 0, f"{len(sample)} rows")
        if len(sample):
            key = pts.set_index(["image_id", "px", "py"])
            for (iid, x, y), g in sample.groupby(["image_id", "px", "py"]):
                ref = key.loc[(iid, x, y)]
                p_lon, p_lat = np.array([ref["lon"]]), np.array([ref["lat"]])
                chk.expect("centroid", np.allclose(g[["lon", "lat"]].to_numpy(),
                                                   [[ref["lon"], ref["lat"]]], atol=1e-9),
                           f"{iid} {x} {y}")
                _, gq = spatial.query_polygons(self.pp, p_lon, p_lat)
                aois = sorted(self.pp.aoi_ids[gq]) or [None]
                got_aois = sorted(g["aoi_id"].drop_duplicates(), key=lambda a: (a is None, a))
                chk.expect("pip", got_aois == aois, f"{iid} {x} {y}")
                top, km = knn_topk(p_lon, p_lat, ids, st["lon"].to_numpy(),
                                   st["lat"].to_numpy(), KNN_K)
                for _, ga in g.groupby(g["aoi_id"].fillna("")):
                    ga = ga.sort_values("station_rank")
                    chk.expect("knn", list(ga["station_id"]) == list(ids[top[0]])
                               and np.allclose(ga["station_km"], km[0], rtol=1e-12),
                               f"{iid} {x} {y}")
        return {"rows_out": agg["rows"], "pixel_rows": len(pts),
                "pip_matches": int(pi.size), "bytes_per_px": agg["bytes"] / self.pixels}

    def spatial_micro(self, n_points: int = 20000, reps: int = 5) -> dict:
        """Per-point cost of cells, PIP and kNN on this workload's pixel
        centroids, single-threaded, with the functions enrich_pixels calls."""
        from i_landsat8_swlst_spark import geo

        pts = self.points()
        sel = pts.iloc[np.linspace(0, len(pts) - 1, min(n_points, len(pts))).astype(int)]
        px, py = sel["lon"].to_numpy(), sel["lat"].to_numpy()
        n = len(px)
        st = self.stations_pdf
        ns = lambda fn: _median_wall(lambda _: fn(), 1, reps) / n * 1e9
        pi, _ = spatial.query_polygons(self.pp, pts["lon"].to_numpy(), pts["lat"].to_numpy())
        return {
            "geo.hexcell_ns_per_pt": ns(lambda: geo.hexcell(px, py, 8)),
            "geo.s2_cell_ns_per_pt": ns(lambda: geo.s2_cell(px, py, 14)),
            "spatial.pip_ns_per_pt": ns(lambda: spatial.query_polygons(self.pp, px, py)),
            "spatial.pip_match_ratio": pi.size / len(pts),
            "spatial.knn_ns_per_pt": ns(lambda: knn_topk(
                px, py, st["station_id"].to_numpy(object), st["lon"].to_numpy(),
                st["lat"].to_numpy(), KNN_K)),
            "spatial.knn_dist_evals_per_pt": float(len(st)),
        }


class DurableJob:
    """``checkpoint.run_lst_job`` (16 slices, auto slice batch) over a tile
    workload's input, writing parquet plus per-slice manifests, and a resume
    after a failure injected at half the slices. tiles_skewed's traced run
    drives it, so the checkpoint layer is measured on the skewed table."""

    def __init__(self, wl: Workload, out: Path):
        self.wl, self.out = wl, out

    def job(self, **kw) -> dict:
        wl = self.wl
        return checkpoint.run_lst_job(wl.spark, wl.scenes, wl.meta, wl.emis,
                                      str(self.out), n_slices=N_SLICES, window=WINDOW,
                                      slice_batch="auto", **kw)

    def fresh(self) -> dict:
        shutil.rmtree(self.out, ignore_errors=True)
        return self.job()

    def fail_half(self) -> list[int]:
        """Fresh run with a failure injected after half the slices -> the
        slices finished before the failure."""
        shutil.rmtree(self.out, ignore_errors=True)
        try:
            self.job(fail_after=N_SLICES // 2)
            raise RuntimeError("fail_after did not raise")
        except checkpoint.InjectedFailure:
            pass
        return sorted(checkpoint.read_manifest(str(self.out)))

    def written_bytes(self) -> int:
        return sum(f.stat().st_size for f in (self.out / "data").rglob("*.parquet"))

    def check(self, chk: Check, resumed: dict, done: list[int]) -> None:
        """After a resume: it re-executed exactly the unfinished slices,
        manifests equal slices, sum of rows_out equals pairs, and
        read_result has one row per pair."""
        all_slices = set(resumed["skipped"]) | set(resumed["executed"])
        chk.expect("resume_executes_unfinished",
                   len(all_slices) == resumed["slices"]
                   and sorted(resumed["executed"]) == sorted(all_slices - set(done))
                   and sorted(resumed["skipped"]) == done,
                   f"executed {resumed['executed']} after {done}")
        chk.expect("no_unverified_slices", not resumed["unverified"],
                   f"unverified {resumed['unverified']}")
        man = checkpoint.read_manifest(str(self.out))
        chk.expect("manifests_eq_slices", len(man) == resumed["slices"],
                   f"{len(man)} manifests, {resumed['slices']} slices")
        rows = sum(m["rows_out"] for m in man.values())
        chk.expect("rows_out_eq_pairs", rows == self.wl.pairs, f"{rows} vs {self.wl.pairs}")
        n = checkpoint.read_result(self.wl.spark, str(self.out)).count()
        chk.expect("read_result_rows", n == self.wl.pairs, f"{n} vs {self.wl.pairs}")


WORKLOADS = {w.name: w for w in (TilesSkewed, PixelsEnrich)}
