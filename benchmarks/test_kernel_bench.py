"""Per-kernel micro-benchmarks (pytest-benchmark) — the harness BASELINE.md
promises: decode, BT, CWV window, full fused LST, cell-encode, PIP, kNN.

Run (kept OUT of tests/ so the correctness suite stays fast):

    python -m pytest benchmarks/ -q --benchmark-min-rounds=5 \
        --benchmark-columns=mean,ops

Numbers recorded per round in BENCH/MICRO.md. Single-threaded numby numbers;
multiply by worker count for fan-out ceilings (BENCH/BASELINE.md measures the
actual pool/Spark scaling).
"""

import numpy as np
import pytest

from i_landsat8_swlst_spark import codecs, geo, kernels as K, synth

RNG = np.random.default_rng(42)
TILE = RNG.integers(1, 65535, (128, 128)).astype(np.uint16)
TILE2 = RNG.integers(1, 65535, (128, 128)).astype(np.uint16)
META = dict(ml_b10=3.342e-4, al_b10=0.1, ml_b11=3.342e-4, al_b11=0.1,
            k1_b10=774.8853, k2_b10=1321.0789, k1_b11=480.8883, k2_b11=1201.1442)
RAW = codecs.encode_u16le(TILE)
DCT = codecs.encode_u16dct(TILE)
PNG = codecs.encode_png16(TILE)
BT10 = K.dn_to_bt(TILE, META["ml_b10"], META["al_b10"], META["k1_b10"], META["k2_b10"])
BT11 = K.dn_to_bt(TILE2, META["ml_b11"], META["al_b11"], META["k1_b11"], META["k2_b11"])
LON = RNG.uniform(-178, -176.5, 10_000)
LAT = RNG.uniform(-58, -56.5, 10_000)


def test_decode_u16le(benchmark):
    benchmark(codecs.decode_tile_dn, RAW, 128, 128, codecs.FMT_RAW)


def test_decode_u16dct(benchmark):
    benchmark(codecs.decode_tile, DCT, 128, 128, codecs.FMT_DCT)


def test_decode_png16(benchmark):
    benchmark(codecs.decode_png, PNG)


def test_encode_png16(benchmark):
    benchmark(codecs.encode_png16, TILE)


def test_bt_lut_gather(benchmark):
    K.dn_to_bt(TILE, **{k: META[f"{k}_b10"] for k in ("ml", "al", "k1", "k2")})  # warm LUT
    benchmark(K.dn_to_bt, TILE, META["ml_b10"], META["al_b10"],
              META["k1_b10"], META["k2_b10"])


@pytest.mark.parametrize("win", [5, 7])
def test_cwv_window(benchmark, win):
    benchmark(K.cwv, BT10, BT11, win)


def test_lst_from_bt(benchmark):
    cwv = K.cwv(BT10, BT11, 5)
    benchmark(K.lst_from_bt, BT10, BT11, cwv, 0.98, 0.97)


def test_fused_kernel_single(benchmark):
    benchmark(K.fused_lst_kernel, TILE, TILE2, META, 0.98, 0.97, 5)


def test_fused_kernel_stack8(benchmark):
    dn10 = np.stack([TILE] * 8)
    dn11 = np.stack([TILE2] * 8)
    benchmark(K.fused_lst_kernel, dn10, dn11, META, 0.98, 0.97, 5)


def test_s2_encode_10k(benchmark):
    benchmark(geo.s2_cell, LON, LAT, 14)


def test_hexcell_encode_10k(benchmark):
    benchmark(geo.hexcell, LON, LAT, 8)


def test_pip_query_10k(benchmark):
    from i_landsat8_swlst_spark import spatial

    pp = spatial.PackedPolygons.from_pdf(synth.aoi_pdf("tiny"))
    benchmark(spatial.query_polygons, pp, LON, LAT)


def test_knn_kernel_10k(benchmark):
    from i_landsat8_swlst_spark.spatial import knn_topk

    st = synth.stations_pdf("tiny")
    id_rank = np.argsort(np.argsort(st["station_id"].to_numpy(object), kind="stable"))
    benchmark(knn_topk, LON, LAT, st["lon"].to_numpy(np.float64),
              st["lat"].to_numpy(np.float64), id_rank, 3)


# --- round-4 tile kernels ----------------------------------------------------

_PLANE = BT10.astype(np.float64)  # 128x128 Kelvin-ish plane


def test_glcm_texture_tile(benchmark):
    """GLCM Haralick features, window=5, levels=8 — G(G+1)/2+1 box filters."""
    from i_landsat8_swlst_spark import texture

    r = 5 // 2 + 1
    pad = np.pad(_PLANE, r, constant_values=np.nan)
    benchmark(texture.glcm_features, pad, 128, 128, r, 5, (1, 0), 8,
              float(np.nanmin(_PLANE)), float(np.nanmax(_PLANE)))


def test_series_stack_stats8(benchmark):
    """r.series nan-stats over an 8-revisit 128x128 stack."""
    from i_landsat8_swlst_spark.series import series_stack_stats

    stack = np.stack([_PLANE + i for i in range(8)])
    stack[0, :4, :4] = np.nan
    benchmark(series_stack_stats, stack)


def test_landscape_label_tile(benchmark):
    """Per-class run-union labeling, 4 classes on a 128x128 plane."""
    from i_landsat8_swlst_spark.regions import label_tile
    from i_landsat8_swlst_spark.texture import _quantize

    q = _quantize(_PLANE, float(np.nanmin(_PLANE)), float(np.nanmax(_PLANE)), 4)

    def run():
        return [label_tile(q == c)[1] for c in range(4)]

    benchmark(run)
