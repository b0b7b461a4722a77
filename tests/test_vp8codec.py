"""Lossy VP8 (key-frame) decoder: bit-exact parity vs libwebp.

VP8 decoding is exact by construction (RFC 6386 §2): every conformant
decoder reconstructs identical YUV420 planes.  libwebp is present in this
environment (ctypes binding), so parity here is an EXECUTED assertion on
two corpora:

1. libwebp-encoded streams (real encoder output: segmentation, B_PRED,
   all intra modes, normal loop filter) across sizes/contents/qualities.
2. Crafted streams (tests/vp8_writer.py) for header features libwebp's
   simple encoder never emits: simple filter, 2/4/8 token partitions,
   loop-filter deltas, absolute segment quantizers, sharpness, skip flags.

Reference parity anchor: the gdalcubes scan decodes anything GDAL reads
(image_collection_cube.cpp:446-552); lossy WebP is the dominant real-world
webp flavor.
"""

import numpy as np
import pytest

from gdalcubes_spark import codecs, libwebp
from gdalcubes_spark.vp8codec import VP8Error, decode_vp8_yuv, yuv_to_rgb
from vp8_writer import checkerboard_dc, write_stream

pytestmark = pytest.mark.skipif(
    not libwebp.available(), reason="no system libwebp to verify against")


def _payload(d: bytes) -> bytes:
    i = 12
    while i + 8 <= len(d):
        tag, sz = d[i:i + 4], int.from_bytes(d[i + 4:i + 8], "little")
        if tag == b"VP8 ":
            return d[i + 8:i + 8 + sz]
        i += 8 + sz + (sz & 1)
    raise AssertionError("no VP8 chunk")


def _assert_parity(webp_bytes: bytes) -> None:
    ry, ru, rv = libwebp.decode_yuv(webp_bytes)
    y, u, v = decode_vp8_yuv(_payload(webp_bytes))
    np.testing.assert_array_equal(y, ry)
    np.testing.assert_array_equal(u, ru)
    np.testing.assert_array_equal(v, rv)


def _synth(rng, kind, h, w):
    if kind == "noise":
        return rng.integers(0, 256, (3, h, w), np.uint8)
    if kind == "grad":
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack([(yy * 3 + xx) % 256, (xx * 2) % 256,
                         (yy + xx * 5) % 256]).astype(np.uint8)
    if kind == "flat":
        return np.full((3, h, w), 137, np.uint8)
    if kind == "blocks":
        im = rng.integers(0, 256, (3, (h + 7) // 8, (w + 7) // 8), np.uint8)
        return np.repeat(np.repeat(im, 8, axis=1), 8, axis=2)[:, :h, :w]
    raise AssertionError(kind)


@pytest.mark.parametrize("kind", ["noise", "grad", "flat", "blocks"])
@pytest.mark.parametrize("dims", [(16, 16), (32, 48), (17, 31), (80, 48),
                                  (33, 49), (15, 13)])
def test_parity_encoder_corpus(kind, dims):
    rng = np.random.default_rng(hash((kind, dims)) % (2 ** 31))
    h, w = dims
    for q in (10, 50, 75, 95):
        _assert_parity(libwebp.encode_lossy_rgb(_synth(rng, kind, h, w),
                                                float(q)))


def test_parity_large():
    rng = np.random.default_rng(3)
    yy, xx = np.mgrid[0:192, 0:256]
    img = ((np.stack([(yy * 3 + xx) % 256, (xx * 2) % 256,
                      (yy + xx * 5) % 256]).astype(int)
            + rng.integers(0, 64, (3, 192, 256))) // 2).astype(np.uint8)
    _assert_parity(libwebp.encode_lossy_rgb(img, 80.0))


@pytest.mark.parametrize("name,kw", [
    ("simple_filter", dict(simple_filter=1, filter_level=30)),
    ("simple_lv63", dict(simple_filter=1, filter_level=63)),
    ("sharpness3", dict(sharpness=3, filter_level=40)),
    ("sharpness7", dict(sharpness=7, filter_level=63)),
    ("parts2", dict(n_parts=2)),
    ("parts4", dict(n_parts=4)),
    ("parts8", dict(n_parts=8)),
    ("lf_delta", dict(lf_delta=([6, 0, 0, 0], [-4, 0, 0, 0]))),
    ("no_filter", dict(filter_level=0)),
    ("odd_dims", dict(width=52, height=38)),
])
def test_parity_crafted_features(name, kw):
    _assert_parity(write_stream(4, 3, dc_plan=checkerboard_dc(12), **kw))


def test_parity_crafted_skip_and_segments():
    _assert_parity(write_stream(
        4, 3, dc_plan=checkerboard_dc(8), use_skip=1,
        skip_plan=lambda my, mx: (my + mx) % 3 == 0))
    _assert_parity(write_stream(
        4, 3, dc_plan=checkerboard_dc(8),
        segmentation=dict(quant=[0, 10, -10, 20], lf=[0, 8, -8, 16], abs=0,
                          map=lambda my, mx: (my * 4 + mx) % 4)))
    _assert_parity(write_stream(
        4, 3, dc_plan=checkerboard_dc(20),
        segmentation=dict(quant=[30, 60, 90, 120], lf=[10, 30, 50, 63],
                          abs=1, map=lambda my, mx: (my + mx) % 4)))


def test_codecs_dispatch_lossy():
    """codecs.decode('webp') dispatches VP8 containers to the new decoder."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (3, 24, 40), np.uint8)
    b = libwebp.encode_lossy_rgb(img, 75.0)
    out = codecs.decode(b, "webp")
    assert out.shape == (3, 24, 40)
    # nb=3 pins RGB; nb=1 returns the spec-exact luma plane
    assert codecs.decode(b, "webp", nb=3).shape == (3, 24, 40)
    y1 = codecs.decode(b, "webp", nb=1)
    ry, _, _ = libwebp.decode_yuv(b)
    np.testing.assert_array_equal(y1[0], ry)
    with pytest.raises(ValueError):
        codecs.decode(b, "webp", nb=4)
    # lossless containers still take the VP8L path
    lossless = libwebp.encode_lossless_rgba(img)
    np.testing.assert_array_equal(
        codecs.decode(lossless, "webp", nb=3), img)


def test_scan_over_lossy_webp_inventory(spark):
    """The flagship scan path decodes external lossy-webp inventories:
    inventory-declared nb pins the decode (band-ambiguity guard), and the
    cube mean tracks the per-image decoded mean."""
    import datetime

    from gdalcubes_spark import synth
    from gdalcubes_spark.grid import CubeView
    from gdalcubes_spark.sources.raster_cube import raster_cube

    lay = synth.ImageLayout(nb=1)
    rows = []
    for i in range(6):
        p = lay.params(i)
        b = libwebp.encode_lossy_rgb(lay.pixels(i), 90.0)
        epsg, L, R, B, T = synth.native_bbox(lay, i)
        rows.append(dict(
            image_id=f"img{i}", bytes=bytearray(b), w=lay.tile_w,
            h=lay.tile_h, fmt="webp", caption=f"c{i}", phash=0,
            left=float(p["left"]), right=float(p["right"]),
            bottom=float(p["bottom"]), top=float(p["top"]),
            datetime=datetime.datetime.utcfromtimestamp(p["epoch"]),
            epsg=epsg, nleft=float(L), nright=float(R),
            nbottom=float(B), ntop=float(T)))
    df = spark.createDataFrame(rows, synth.IMAGE_SCHEMA)
    cv = CubeView.create(
        srs="EPSG:4326", left=lay.left0,
        right=lay.left0 + lay.gx * lay.tile_dx,
        bottom=lay.top0 - lay.gy * lay.tile_dy, top=lay.top0,
        t0="2021-01-01", t1="2021-01-02", dt="P1D",
        nx=lay.gx * 8, ny=lay.gy * 8)
    arr = raster_cube(df, cv, bands=["B01"]).reduce_time("mean(B01)") \
        .collect_array()
    got = float(np.nanmean(arr))
    ref = float(np.mean([
        np.mean(codecs.decode(bytes(r["bytes"]), "webp", nb=1).astype(float))
        for r in rows]))
    assert abs(got - ref) < 3.0


def test_native_fastpath_identical(monkeypatch):
    """GDALCUBES_SPARK_USE_LIBWEBP=1 swaps the decode engine, not the
    result: VP8 YUV reconstruction is spec-exact in both."""
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, (3, 33, 49), np.uint8)
    b = libwebp.encode_lossy_rgb(img, 70.0)
    pure = codecs.decode(b, "webp", nb=3)
    pure1 = codecs.decode(b, "webp", nb=1)
    monkeypatch.setenv("GDALCUBES_SPARK_USE_LIBWEBP", "1")
    np.testing.assert_array_equal(codecs.decode(b, "webp", nb=3), pure)
    np.testing.assert_array_equal(codecs.decode(b, "webp", nb=1), pure1)


def _rebuild_with_alpha(b: bytes, alph_payload: bytes) -> bytes:
    j = 12
    chunks = []
    while j + 8 <= len(b):
        tag, sz = b[j:j + 4], int.from_bytes(b[j + 4:j + 8], "little")
        chunks.append((tag, b[j + 8:j + 8 + sz]))
        j += 8 + sz + (sz & 1)
    body = bytearray(b"WEBP")
    for tag, pl in chunks:
        if tag == b"ALPH":
            pl = alph_payload
        body += tag + len(pl).to_bytes(4, "little") + pl
        if len(pl) & 1:
            body += b"\x00"
    return b"RIFF" + len(body).to_bytes(4, "little") + bytes(body)


def _forward_alpha_filter(alpha: np.ndarray, method: int) -> np.ndarray:
    h, w = alpha.shape
    A = alpha.astype(np.int32)
    R = np.zeros_like(A)
    for y in range(h):
        for x in range(w):
            if method == 1:
                p = A[y - 1, 0] if x == 0 and y > 0 else \
                    (0 if x == 0 else A[y, x - 1])
            elif method == 2:
                p = (0 if x == 0 else A[0, x - 1]) if y == 0 else A[y - 1, x]
            else:
                if y == 0:
                    p = 0 if x == 0 else A[0, x - 1]
                else:
                    left = A[y, x - 1] if x > 0 else A[y - 1, 0]
                    tl = A[y - 1, x - 1] if x > 0 else A[y - 1, 0]
                    g = left + A[y - 1, x] - tl
                    p = 0 if g < 0 else (255 if g > 255 else g)
            R[y, x] = (A[y, x] - p) & 0xFF
    return R.astype(np.uint8)


def test_alph_chunk_lossy_alpha():
    """Lossy WebP + ALPH alpha (VP8X container): alpha is lossless, so the
    decoded plane must equal libwebp's bit-for-bit — raw AND
    VP8L-compressed alpha, plus the nb pinning and opaque-collapse rules."""
    rng = np.random.default_rng(5)
    a = rng.integers(0, 256, (4, 24, 40), np.uint8)  # noisy → raw alpha
    yy, xx = np.mgrid[0:24, 0:40]
    smooth = a.copy()
    smooth[0] = np.clip(yy * 5 + xx * 2, 0, 255).astype(np.uint8)
    for planes in (a, smooth):
        b = libwebp.encode_lossy_rgba(planes, 75.0)
        ref = libwebp.decode_rgba(b)  # (4,h,w) RGBA plane order
        got = codecs.decode(b, "webp")
        assert got.shape[0] == 4  # non-opaque alpha → ARGB kept
        np.testing.assert_array_equal(got[0], ref[3])
        np.testing.assert_array_equal(codecs.decode(b, "webp", nb=4)[0],
                                      ref[3])
        assert codecs.decode(b, "webp", nb=3).shape[0] == 3
    # fully-opaque alpha: libwebp drops the ALPH chunk, we collapse to RGB
    opaque = a.copy()
    opaque[0] = 255
    got = codecs.decode(libwebp.encode_lossy_rgba(opaque, 75.0), "webp")
    assert got.shape[0] == 3


@pytest.mark.parametrize("method", [1, 2, 3])
def test_alph_filter_modes(method):
    """Crafted raw-compression ALPH chunks exercising the horizontal /
    vertical / gradient unfilters; libwebp decodes the spliced container
    as the oracle (and round-trips the crafted residuals to the original
    alpha, validating the forward filter used to craft them)."""
    rng = np.random.default_rng(9)
    base = libwebp.encode_lossy_rgba(
        rng.integers(0, 256, (4, 24, 40), np.uint8), 75.0)
    alpha = rng.integers(0, 256, (24, 40), np.uint8)
    payload = bytes([method << 2]) + \
        _forward_alpha_filter(alpha, method).tobytes()
    spliced = _rebuild_with_alpha(base, payload)
    ref = libwebp.decode_rgba(spliced)
    np.testing.assert_array_equal(ref[3], alpha)
    np.testing.assert_array_equal(codecs.decode(spliced, "webp", nb=4)[0],
                                  alpha)


def test_rgb_conversion_properties():
    """Documented fixed-point YUV→RGB: monotone in Y, exact on greys."""
    y = np.full((2, 2), 128, np.uint8)
    u = np.full((1, 1), 128, np.uint8)
    v = np.full((1, 1), 128, np.uint8)
    rgb = yuv_to_rgb(y, u, v)
    # neutral chroma → r=g=b
    assert (rgb[0] == rgb[1]).all() and (rgb[1] == rgb[2]).all()
    lum = []
    for val in (16, 100, 200, 235):
        lum.append(
            int(yuv_to_rgb(np.full((1, 1), val, np.uint8), u, v)[1, 0, 0]))
    assert lum == sorted(lum)


def test_y2ac_scale_forms_agree():
    """libwebp's *101581>>16 equals the RFC's *155/100 for every index
    (the decoder relies on either form being parity-safe)."""
    from gdalcubes_spark.vp8tables import AC_QLOOKUP
    for q in AC_QLOOKUP:
        assert (q * 101581) >> 16 == (q * 155) // 100


def test_rejects_non_keyframe_and_garbage():
    with pytest.raises(VP8Error):
        decode_vp8_yuv(b"\x01\x00\x00" + b"\x9d\x01\x2a" + b"\x00" * 16)
    with pytest.raises(VP8Error):
        decode_vp8_yuv(b"\x00" * 4)
    good = write_stream(1, 1, dc_plan=checkerboard_dc(4))
    payload = bytearray(_payload(good))
    payload[3] = 0xAA  # corrupt start code
    with pytest.raises(VP8Error):
        decode_vp8_yuv(bytes(payload))


def test_public_clip_fallback_decodes_identically(monkeypatch):
    """Without numpy.core (NumPy 2 drops the private module) vp8codec falls
    back to np.clip and decodes every plane bit-identically."""
    import importlib.util
    import sys

    import gdalcubes_spark.vp8codec as vp8

    spec = importlib.util.spec_from_file_location("vp8codec_public_clip", vp8.__file__)
    fallback = importlib.util.module_from_spec(spec)
    with monkeypatch.context() as m:
        m.setitem(sys.modules, "numpy.core.umath", None)  # import → ImportError
        spec.loader.exec_module(fallback)
    assert fallback._uclip is np.clip

    rng = np.random.default_rng(5)
    streams = [_payload(libwebp.encode_lossy_rgb(_synth(rng, kind, 40, 56), 60.0))
               for kind in ("noise", "grad", "blocks")]
    streams.append(_payload(write_stream(4, 3, dc_plan=checkerboard_dc(12), simple_filter=1)))
    for s in streams:
        for got, want in zip(fallback.decode_vp8_yuv(s), decode_vp8_yuv(s)):
            np.testing.assert_array_equal(got, want)
        np.testing.assert_array_equal(fallback.yuv_to_rgb(*fallback.decode_vp8_yuv(s)),
                                      yuv_to_rgb(*decode_vp8_yuv(s)))
