"""Property-based tests (hypothesis): codec round-trips over arbitrary
shapes/values, subrange selection totality, S2/hex encoder stability,
border-stitch triples of a labelled tile."""

import numpy as np
from hypothesis import given, settings, strategies as st

import oracle_ref as oracle
from i_landsat8_swlst_spark import codecs, geo, kernels as K, regions


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 70), w=st.integers(1, 70),
    seed=st.integers(0, 2**31 - 1),
)
def test_u16le_roundtrip_any_shape(h, w, seed):
    img = np.random.default_rng(seed).integers(0, 65536, (h, w)).astype(np.uint16)
    out = codecs.decode_u16le(codecs.encode_u16le(img), w, h)
    np.testing.assert_array_equal(out, img.astype(np.float64))


@settings(max_examples=15, deadline=None)
@given(h=st.integers(8, 80), w=st.integers(8, 80), seed=st.integers(0, 2**31 - 1))
def test_u16dct_psnr_any_shape(h, w, seed):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.clip(
        20000 + 9000 * np.sin(xx / 9.0) * np.cos(yy / 7.0) + rng.normal(0, 400, (h, w)),
        1, 65535,
    ).astype(np.uint16)
    out = codecs.decode_u16dct(codecs.encode_u16dct(img), w, h)
    assert out.shape == (h, w)
    assert codecs.psnr(img, out) >= 40.0


@settings(max_examples=50, deadline=None)
@given(cwv=st.one_of(st.floats(min_value=-2.0, max_value=8.0), st.just(float("nan"))))
def test_subrange_total_and_matches_oracle(cwv):
    idx = K.select_subrange(np.array([cwv]))[0]
    name = oracle.select_subrange(cwv)
    if name is None:
        assert idx == -1
    else:
        from i_landsat8_swlst_spark import constants as C
        assert C.SUBRANGE_ORDER[idx] == name


@settings(max_examples=25, deadline=None)
@given(
    lon=st.floats(min_value=-179.99, max_value=179.99),
    lat=st.floats(min_value=-89.0, max_value=89.0),
    level=st.integers(1, 30),
)
def test_s2_center_reencodes_to_same_cell(lon, lat, level):
    c = geo.s2_cell(np.array([lon]), np.array([lat]), level)
    clon, clat = geo.s2_cell_center(c)
    c2 = geo.s2_cell(clon, clat, level)
    assert c2[0] == c[0]
    assert geo.s2_level(c)[0] == level


@settings(max_examples=25, deadline=None)
@given(
    lon=st.floats(min_value=-170.0, max_value=170.0),
    lat=st.floats(min_value=-80.0, max_value=80.0),
    res=st.sampled_from([7, 8, 9]),
)
def test_hexcell_center_distance_bound(lon, lat, res):
    c = geo.hexcell(np.array([lon]), np.array([lat]), res)
    clon, clat = geo.hexcell_center(c)
    assert np.hypot(clon[0] - lon, clat[0] - lat) <= geo.HEX_EDGE_DEG[res] * 1.0001


@given(h=st.integers(8, 64), w=st.integers(8, 64), seed=st.integers(0, 2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_png16_roundtrip_any_shape(h, w, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 65536, (h, w)).astype(np.uint16)
    np.testing.assert_array_equal(codecs.decode_png(codecs.encode_png16(img)), img)


@given(
    k=st.integers(1, 5), h=st.integers(8, 40), w=st.integers(8, 40),
    win=st.sampled_from([3, 5, 7]), seed=st.integers(0, 2**31 - 1),
    with_nan=st.booleans(),
)
@settings(max_examples=25, deadline=None)
def test_stacked_kernel_bit_identical_to_per_tile(k, h, w, win, seed, with_nan):
    """The batched mapInArrow path rests on this: a (k, h, w) stacked call of
    the full fused kernel must be BIT-identical to k separate 2-D calls."""
    if win >= min(h, w):
        return
    rng = np.random.default_rng(seed)
    dn10 = rng.integers(5000, 45000, (k, h, w)).astype(np.uint16)
    dn11 = rng.integers(5000, 45000, (k, h, w)).astype(np.uint16)
    qa = None
    cloud = None
    if with_nan:
        qa = np.zeros((k, h, w), dtype=np.uint16)
        qa[rng.random((k, h, w)) < 0.05] = 1
        cloud = np.array([1.0])
    meta = dict(ml_b10=3.342e-4, al_b10=0.1, ml_b11=3.342e-4, al_b11=0.1,
                k1_b10=774.8853, k2_b10=1321.0789, k1_b11=480.8883, k2_b11=1201.1442)
    stacked = K.fused_lst_kernel(dn10, dn11, meta, 0.98, 0.97, window=win,
                                 qa=qa, cloud_values=cloud)
    for i in range(k):
        single = K.fused_lst_kernel(
            dn10[i].copy(), dn11[i].copy(), meta, 0.98, 0.97, window=win,
            qa=None if qa is None else qa[i].copy(), cloud_values=cloud)
        for key in stacked:
            np.testing.assert_array_equal(stacked[key][i], single[key], err_msg=key)


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 9), w=st.integers(1, 9),
    ragged_w=st.integers(0, 3), ragged_h=st.integers(0, 3),
    tx=st.integers(0, 5), ty=st.integers(0, 5),
    n_labels=st.integers(1, 6), density=st.floats(0.0, 1.0),
    seed=st.integers(0, 2**31 - 1),
)
def test_border_triples_match_per_pixel_enumeration(
        h, w, ragged_w, ragged_h, tx, ty, n_labels, density, seed):
    """`border_triples` == a per-pixel walk: every labelled pixel on each
    tile border it touches gives (node, cell, probe one step outward),
    once per border — 1-px-wide tiles and corners included. The scene
    origin comes from NOMINAL dims >= the tile's (ragged edge tiles)."""
    rng = np.random.default_rng(seed)
    labels = np.where(rng.random((h, w)) < density,
                      rng.integers(0, n_labels, (h, w)), -1)
    ox, oy = tx * (w + ragged_w), ty * (h + ragged_h)
    want = []
    for y in range(h):
        for x in range(w):
            if labels[y, x] < 0:
                continue
            node = int(regions._pack_node(tx, ty, np.array([labels[y, x]]))[0])
            for on_border, dx, dy in ((y == 0, 0, -1), (y == h - 1, 0, 1),
                                      (x == 0, -1, 0), (x == w - 1, 1, 0)):
                if on_border:
                    want.append((node, ox + x, oy + y, ox + x + dx, oy + y + dy))
    got = list(zip(*(a.tolist() for a in
                     regions.border_triples(labels, tx, ty, ox, oy))))
    assert sorted(got) == sorted(want)


_LON = st.floats(min_value=-180.0, max_value=180.0)
_LAT = st.floats(min_value=-90.0, max_value=90.0)


@st.composite
def _knn_case(draw):
    """Stations and one block of points for knn_topk: blocks straddling
    ±180°, latitudes near the poles, near-antipodal stations, duplicate
    station coordinates, k >= m, 1-point blocks and blocks past _KNN_BLOCK."""
    from i_landsat8_swlst_spark.spatial import _KNN_BLOCK

    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    n = draw(st.sampled_from([1, 2, 37, _KNN_BLOCK + 3]))
    m = draw(st.integers(1, 30))
    k = draw(st.one_of(st.integers(1, 3), st.integers(m, m + 2)))
    cx = draw(st.one_of(_LON, st.sampled_from([-179.999, 179.999])))
    cy = draw(st.one_of(_LAT, st.sampled_from([-89.9, 89.9])))
    spread = draw(st.sampled_from([0.0, 1e-7, 1e-3, 0.5, 30.0]))
    px = (cx + rng.uniform(-spread, spread, n) + 180.0) % 360.0 - 180.0
    py = np.clip(cy + rng.uniform(-spread, spread, n), -90.0, 90.0)
    where = draw(st.sampled_from(["anywhere", "antipode", "around"]))
    if where == "anywhere":
        slon, slat = rng.uniform(-180, 180, m), rng.uniform(-90, 90, m)
    else:
        # around the block, or around its antipode, at the block's scale
        ox, oy = (cx, cy) if where == "around" else ((cx + 360.0) % 360.0 - 180.0, -cy)
        jitter = draw(st.sampled_from([0.0, 1e-9, 1e-5])) + 2.0 * spread
        slon = (ox + rng.uniform(-jitter, jitter, m) + 180.0) % 360.0 - 180.0
        slat = np.clip(oy + rng.uniform(-jitter, jitter, m), -90.0, 90.0)
    dup = draw(st.integers(0, m - 1))
    slon[:dup], slat[:dup] = slon[m - dup:], slat[m - dup:]
    ids = np.array([f"S{i:03d}" for i in rng.permutation(m)], dtype=object)
    return px, py, slon, slat, ids, k


@settings(max_examples=150, deadline=None)
@given(case=_knn_case())
def test_knn_topk_matches_sorted_oracle(case):
    from i_landsat8_swlst_spark.spatial import haversine_km, knn_topk

    px, py, slon, slat, ids, k = case
    d = haversine_km(px[:, None], py[:, None], slon[None, :], slat[None, :])
    top, km = knn_topk(px, py, slon, slat, np.argsort(np.argsort(ids, kind="stable")), k)
    kk = min(k, len(ids))
    assert top.shape == km.shape == (len(px), kk)
    for i in range(len(px)):
        exp = sorted(range(len(ids)), key=lambda j: (d[i, j], ids[j]))[:kk]
        assert list(ids[top[i]]) == list(ids[exp]), i
        assert km[i].tobytes() == d[i, exp].tobytes(), i
