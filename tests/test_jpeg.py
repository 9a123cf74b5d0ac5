"""Baseline JPEG codec (multimodal/jpeg.py): DCT identity vs the
textbook definition, lossy round-trip bounds per quality/subsampling,
restart-marker invariance, abbreviated-tables streams (the TIFF
``JPEGTables`` convention), strict rejection of unsupported processes,
and the corrupt-dimension allocation guard."""

import struct

import numpy as np
import pytest
from pyspark.sql import Row

from compute_histogram_spark.multimodal.jpeg import (
    _A,
    decode_jpeg,
    encode_jpeg_baseline,
    jpeg_info,
)


def smooth_gray(h=40, w=56):
    yy, xx = np.mgrid[0:h, 0:w]
    return (128 + 80 * np.sin(xx / 9.0) * np.cos(yy / 7.0)).astype(np.uint8)


def smooth_rgb(h=40, w=56):
    g = smooth_gray(h, w)
    rgb = np.zeros((h, w, 3), np.uint8)
    rgb[..., 0] = g
    rgb[..., 1] = 255 - g
    rgb[..., 2] = g // 2 + 60
    return rgb


# ------------------------------------------------------------------ DCT


def test_dct_matrix_matches_textbook_definition():
    # T.81 A.3.3: S(v,u) = 1/4 C(v)C(u) sum_y sum_x s(y,x)
    #             cos((2y+1)v pi/16) cos((2x+1)u pi/16)
    rng = np.random.default_rng(7)
    f = rng.uniform(-128, 127, size=(8, 8))
    F = _A @ f @ _A.T
    ref = np.zeros((8, 8))
    for v in range(8):
        for u in range(8):
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            s = 0.0
            for y in range(8):
                for x in range(8):
                    s += (
                        f[y, x]
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                    )
            ref[v, u] = 0.25 * cv * cu * s
    assert np.allclose(F, ref, atol=1e-9)
    # orthonormal: IDCT(DCT(f)) == f
    assert np.allclose(_A.T @ F @ _A, f, atol=1e-9)
    assert np.allclose(_A @ _A.T, np.eye(8), atol=1e-12)


# ----------------------------------------------------------- round trips


@pytest.mark.parametrize("quality,tol", [(95, 6), (85, 10), (60, 20)])
def test_gray_round_trip_bounded_error(quality, tol):
    img = smooth_gray()
    blob = encode_jpeg_baseline(img, quality=quality)
    assert jpeg_info(blob) == (56, 40, 1)
    out = decode_jpeg(blob)
    assert out.shape == img.shape and out.dtype == np.uint8
    assert np.abs(out.astype(int) - img.astype(int)).max() <= tol


def test_rgb_444_round_trip():
    img = smooth_rgb()
    blob = encode_jpeg_baseline(img, quality=92, subsampling="4:4:4")
    assert jpeg_info(blob) == (56, 40, 3)
    out = decode_jpeg(blob)
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 12


def test_rgb_420_subsampling_luma_tight_chroma_loose():
    img = smooth_rgb(48, 64)
    blob = encode_jpeg_baseline(img, quality=92, subsampling="4:2:0")
    out = decode_jpeg(blob)
    assert out.shape == img.shape
    # luma must survive subsampling almost untouched; chroma is averaged
    # 2x2 so only a loose bound holds on raw channels
    def luma(a):
        return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]

    assert np.abs(luma(out) - luma(img)).max() <= 10
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 40


def test_rgb_422_mixed_sampling_factors():
    """4:2:2 (Y h=2,v=1) exercises the MCU geometry where horizontal and
    vertical sampling differ — the path 4:4:4/4:2:0 can't reach."""
    img = smooth_rgb(41, 57)
    blob = encode_jpeg_baseline(img, quality=92, subsampling="4:2:2")
    out = decode_jpeg(blob)
    assert out.shape == img.shape

    def luma(a):
        return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]

    assert np.abs(luma(out) - luma(img)).max() <= 10
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 40


def test_flat_image_near_exact():
    flat = np.full((17, 23), 131, np.uint8)
    out = decode_jpeg(encode_jpeg_baseline(flat, quality=90))
    assert out.shape == (17, 23)
    assert np.abs(out.astype(int) - 131).max() <= 1


@pytest.mark.parametrize("h,w", [(1, 1), (8, 8), (9, 17), (16, 15), (33, 1)])
def test_odd_sizes_crop_exactly(h, w):
    rng = np.random.default_rng(h * 100 + w)
    img = np.clip(
        rng.normal(120, 20, size=(h, w)), 0, 255
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_baseline(img, quality=95))
    assert out.shape == (h, w)


def test_restart_markers_do_not_change_pixels():
    img = smooth_gray(41, 59)
    plain = decode_jpeg(encode_jpeg_baseline(img, quality=88))
    rst = decode_jpeg(encode_jpeg_baseline(img, quality=88, restart_interval=2))
    # identical quantized coefficients -> bit-identical pixels; DRI only
    # re-segments the entropy stream and resets predictors
    assert np.array_equal(plain, rst)


def test_420_restart_markers_round_trip():
    img = smooth_rgb(24, 40)
    out = decode_jpeg(
        encode_jpeg_baseline(img, quality=90, subsampling="4:2:0",
                             restart_interval=1)
    )
    assert out.shape == img.shape


# ------------------------------------------------- abbreviated streams


def split_tables(blob: bytes) -> tuple[bytes, bytes]:
    """Strip DQT/DHT/DRI segments out of a full interchange stream into a
    separate abbreviated table stream (SOI <tables> EOI) — the layout TIFF
    compression 7 stores in its JPEGTables tag."""
    tables = bytearray(b"\xff\xd8")
    image = bytearray(b"\xff\xd8")
    pos = 2
    while pos < len(blob):
        m = blob[pos + 1]
        if m == 0xD9:
            break
        ln = struct.unpack_from(">H", blob, pos + 2)[0]
        seg = blob[pos : pos + 2 + ln]
        if m in (0xDB, 0xC4, 0xDD):
            tables += seg
        else:
            image += seg
        pos += 2 + ln
        if m == 0xDA:  # rest is entropy data + EOI
            image += blob[pos:]
            break
    tables += b"\xff\xd9"
    return bytes(tables), bytes(image)


def test_abbreviated_tables_stream_decodes_identically():
    img = smooth_gray(24, 24)
    blob = encode_jpeg_baseline(img, quality=85)
    tables, image = split_tables(blob)
    full = decode_jpeg(blob)
    abbr = decode_jpeg(image, tables=tables)
    assert np.array_equal(full, abbr)
    # without the tables the abbreviated stream must be diagnosed
    with pytest.raises(ValueError):
        decode_jpeg(image)


# ------------------------------------------------------- strictness


def patch_marker(blob: bytes, old: int, new: int) -> bytes:
    b = bytearray(blob)
    pos = 2
    while pos < len(b):
        if b[pos + 1] == old:
            b[pos + 1] = new
            return bytes(b)
        pos += 2 + struct.unpack_from(">H", b, pos + 2)[0]
    raise AssertionError("marker not found")


def test_arithmetic_and_lossless_rejected():
    blob = encode_jpeg_baseline(smooth_gray(16, 16), quality=80)
    with pytest.raises(ValueError, match="process"):
        decode_jpeg(patch_marker(blob, 0xC0, 0xC9))  # arithmetic sequential
    with pytest.raises(ValueError, match="process"):
        decode_jpeg(patch_marker(blob, 0xC0, 0xC3))  # lossless


def test_progressive_rejected():
    """Progressive (SOF2) is outside the baseline subset TIFF uses: a
    minimal hand-built SOI + SOF2 + SOS stream raises, it never decodes."""
    sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + b"\x01\x11\x00"
    sos = b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00\x00\x3f\x00"
    blob = b"\xff\xd8" + sof2 + sos + b"\x00" * 8 + b"\xff\xd9"
    with pytest.raises(ValueError, match="unsupported JPEG: SOF2"):
        decode_jpeg(blob)


def test_not_a_jpeg_and_truncation_rejected():
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg at all")
    blob = encode_jpeg_baseline(smooth_gray(16, 16), quality=80)
    with pytest.raises(ValueError):
        decode_jpeg(blob[: len(blob) // 2])
    with pytest.raises(ValueError):
        jpeg_info(b"\xff\xd8\xff")


def test_corrupt_dimensions_rejected_before_allocation():
    """The geotiff.py lesson applied to JPEG: a bit-flipped SOF dimension
    must not buy a giant allocation — the declared block count is checked
    against the entropy byte budget first."""
    blob = bytearray(encode_jpeg_baseline(smooth_gray(16, 16), quality=80))
    pos = 2
    while blob[pos + 1] != 0xC0:
        pos += 2 + struct.unpack_from(">H", blob, pos + 2)[0]
    # SOF0 payload: len(2) prec(1) h(2) w(2) — patch h and w to 60000
    struct.pack_into(">HH", blob, pos + 5, 60000, 60000)
    with pytest.raises(ValueError, match="inconsistent"):
        decode_jpeg(bytes(blob))


# ----------------------------------------------------- spark integration


def test_pixel_stats_and_features_decode_jpeg_for_real(spark):
    from compute_histogram_spark.multimodal import binary as MM

    img = smooth_gray(32, 48)
    blob = encode_jpeg_baseline(img, quality=95)
    assets = spark.createDataFrame(
        [
            Row(asset_id=0, kind="image", content=blob, source="s0"),
            Row(asset_id=1, kind="image", content=b"\xff\xd8garbage", source="s1"),
        ]
    )
    stats = {r["asset_id"]: r for r in MM.extract_pixel_stats(assets).collect()}
    assert stats[0]["decoded"] is True
    assert (stats[0]["width"], stats[0]["height"]) == (48, 32)
    assert abs(stats[0]["mean_luma"] - float(img.mean())) <= 2.0
    assert stats[1]["decoded"] is False

    feats = {r["asset_id"]: r for r in MM.extract_features(assets).collect()}
    assert (feats[0]["width"], feats[0]["height"], feats[0]["n_channels"]) == (
        48,
        32,
        1,
    )
    # header-only metadata decode agrees with the driver-side parse
    assert MM.decode_image(blob) == (48, 32, 1)


def test_multi_scan_sequential_bit_exact():
    """A spec-valid SOF0 3-component file coded as THREE successive
    single-component scans (libjpeg can emit this shape) must decode
    bit-identically to the interleaved coding of the same blocks."""
    from compute_histogram_spark.multimodal import jpeg as J

    rgb = smooth_rgb(24, 32)
    ql, qc = J._quality_tables(90)
    rf = rgb.astype(np.float64)
    y = np.clip(np.round(0.299 * rf[..., 0] + 0.587 * rf[..., 1]
                         + 0.114 * rf[..., 2]), 0, 255)
    cb = np.clip(np.round(128 - 0.168736 * rf[..., 0]
                          - 0.331264 * rf[..., 1] + 0.5 * rf[..., 2]), 0, 255)
    cr = np.clip(np.round(128 + 0.5 * rf[..., 0] - 0.418688 * rf[..., 1]
                          - 0.081312 * rf[..., 2]), 0, 255)
    planes, qids = [y, cb, cr], [0, 1, 1]
    dc_l = J._build_encode_table(J.DC_LUMA_BITS, J.DC_LUMA_VALS)
    ac_l = J._build_encode_table(J.AC_LUMA_BITS, J.AC_LUMA_VALS)
    dc_c = J._build_encode_table(J.DC_CHROMA_BITS, J.DC_CHROMA_VALS)
    ac_c = J._build_encode_table(J.AC_CHROMA_BITS, J.AC_CHROMA_VALS)
    dcs, acs = [dc_l, dc_c, dc_c], [ac_l, ac_c, ac_c]

    def seg(m, body):
        return bytes([0xFF, m]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    zz_l = np.zeros(64, np.uint8); zz_l[:] = ql[J.ZIGZAG]
    zz_c = np.zeros(64, np.uint8); zz_c[:] = qc[J.ZIGZAG]
    out += seg(0xDB, b"\x00" + zz_l.tobytes())
    out += seg(0xDB, b"\x01" + zz_c.tobytes())
    sof = bytearray(struct.pack(">BHHB", 8, 24, 32, 3))
    for i in range(3):
        sof += bytes([i + 1, 0x11, qids[i]])
    out += seg(0xC0, bytes(sof))
    out += seg(0xC4, bytes([0x00] + J.DC_LUMA_BITS + J.DC_LUMA_VALS))
    out += seg(0xC4, bytes([0x10] + J.AC_LUMA_BITS + J.AC_LUMA_VALS))
    out += seg(0xC4, bytes([0x01] + J.DC_CHROMA_BITS + J.DC_CHROMA_VALS))
    out += seg(0xC4, bytes([0x11] + J.AC_CHROMA_BITS + J.AC_CHROMA_VALS))
    for ci in range(3):
        blocks = J._plane_blocks(planes[ci], [ql, qc][qids[ci]])
        wtr = J._EntropyWriter()
        pred = 0
        for r in range(blocks.shape[0]):
            for c in range(blocks.shape[1]):
                pred = J._encode_blocks(wtr, blocks[r, c], pred,
                                        dcs[ci], acs[ci])
        wtr.align()
        out += seg(0xDA, bytes([1, ci + 1, 0x00 if ci == 0 else 0x11,
                                0, 63, 0]))
        out += wtr.out
    out += b"\xff\xd9"

    got = decode_jpeg(bytes(out))
    base = decode_jpeg(
        encode_jpeg_baseline(rgb, quality=90, subsampling="4:4:4")
    )
    assert np.array_equal(got, base)


# -------------------------------------------- fill bytes + TEM (B.1.1.2)


def inject_after_soi(blob: bytes, extra: bytes) -> bytes:
    assert blob[:2] == b"\xff\xd8"
    return blob[:2] + extra + blob[2:]


@pytest.mark.parametrize(
    "extra",
    [
        b"\xff",  # one fill byte before the next marker's 0xFF
        b"\xff\xff\xff",  # a run of fill bytes
        b"\xff\x01",  # standalone TEM marker (no length field)
        b"\xff\xff\x01\xff",  # fills + TEM + fill
    ],
)
def test_fill_bytes_and_tem_tolerated(extra):
    """T.81 B.1.1.2: any marker may be preceded by any number of 0xFF
    fill bytes; TEM (0x01) is standalone like RSTn. Spec-valid streams
    carrying either must decode identically (ADVICE r7)."""
    blob = encode_jpeg_baseline(smooth_gray(24, 32), quality=85)
    padded = inject_after_soi(blob, extra)
    assert jpeg_info(padded) == jpeg_info(blob)
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(blob))


def test_fill_bytes_before_eoi_in_entropy_data():
    # fills may precede the terminating marker inside the ECS walk too
    blob = encode_jpeg_baseline(smooth_gray(16, 16), quality=85)
    assert blob[-2:] == b"\xff\xd9"
    padded = blob[:-2] + b"\xff\xff" + blob[-2:]
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(blob))


def test_fill_bytes_in_abbreviated_tables_stream():
    blob = encode_jpeg_baseline(smooth_gray(16, 16), quality=80)
    tables, image = split_tables(blob)
    tables_padded = inject_after_soi(tables, b"\xff\xff\x01")
    image_padded = inject_after_soi(image, b"\xff\x01\xff")
    assert np.array_equal(
        decode_jpeg(image_padded, tables=tables_padded),
        decode_jpeg(image, tables=tables),
    )


def test_trailing_fill_bytes_still_diagnosed():
    # a stream that ENDS in bare fill bytes (no marker follows) is
    # malformed, not an index error
    blob = encode_jpeg_baseline(smooth_gray(16, 16), quality=80)
    # strip EOI, append fills only
    with pytest.raises(ValueError):
        decode_jpeg(blob[:-2] + b"\xff\xff\xff")
