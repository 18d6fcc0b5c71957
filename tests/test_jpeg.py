"""Baseline JPEG codec (functions/jpeg.py): round trips, markers,
restart intervals, subsampling, and the flat-block exactness property
the q22 oracle depends on."""

import hashlib
import time

import numpy as np
import pytest

from computer_vision_foundations_spark.functions import png as P
from computer_vision_foundations_spark.functions.jpeg import decode_jpeg, encode_jpeg


def test_flat_blocks_exact_at_q100():
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 256, 9, dtype=np.uint8)
    img = np.repeat(np.repeat(vals.reshape(3, 3), 8, 0), 8, 1)
    d = decode_jpeg(encode_jpeg(img, quality=100))
    assert d["mode"] == "L"
    assert np.array_equal(d["pixels"], img)


def test_gray_noise_q100_within_rounding():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    d = decode_jpeg(encode_jpeg(img, quality=100))
    err = np.abs(d["pixels"].astype(int) - img.astype(int))
    assert err.max() <= 1  # all-ones quant: only float/round noise


def test_gray_gradient_q90_close():
    x = np.linspace(0, 255, 64)
    img = (np.add.outer(x, x) / 2).astype(np.uint8)
    d = decode_jpeg(encode_jpeg(img, quality=90))
    err = np.abs(d["pixels"].astype(int) - img.astype(int))
    assert err.max() <= 4 and err.mean() < 1


def test_rgb_444_roundtrip():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
    d = decode_jpeg(encode_jpeg(img, quality=100))
    assert d["mode"] == "RGB" and d["pixels"].shape == img.shape
    err = np.abs(d["pixels"].astype(int) - img.astype(int))
    assert err.max() <= 3  # color-convert rounding both ways


def test_rgb_420_subsampled_smooth():
    img = np.zeros((32, 48, 3), np.uint8)
    img[..., 0] = np.linspace(0, 255, 48).astype(np.uint8)[None, :]
    img[..., 1] = 120
    img[..., 2] = np.linspace(255, 0, 32).astype(np.uint8)[:, None]
    d = decode_jpeg(encode_jpeg(img, quality=92, subsampling="420"))
    err = np.abs(d["pixels"].astype(int) - img.astype(int))
    assert d["pixels"].shape == img.shape
    assert err.mean() < 4  # chroma replicated 2x2; smooth image


def test_restart_interval_roundtrip():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (48, 64), dtype=np.uint8)
    b = encode_jpeg(img, quality=100, restart_interval=3)
    assert b"\xff\xdd" in b  # DRI emitted
    d = decode_jpeg(b)
    err = np.abs(d["pixels"].astype(int) - img.astype(int))
    assert err.max() <= 1


def test_non_multiple_of_8_dims():
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (13, 21), dtype=np.uint8)
    d = decode_jpeg(encode_jpeg(img, quality=100))
    assert d["pixels"].shape == (13, 21)
    assert np.abs(d["pixels"].astype(int) - img.astype(int)).max() <= 1


def test_header_and_exif_interop_with_png_module():
    exif = {"Make": "CamCo", "Model": "X1", "GPSInfo": {"GPSLatitudeRef": "N"}}
    app1 = P.build_exif_app1(exif)
    img = np.full((16, 24), 40, np.uint8)
    b = encode_jpeg(img, quality=95, app1=app1, dpi=(72, 72))
    hdr = P.parse_jpeg_header(b)
    assert hdr == {"height": 16, "width": 24, "layers": 1, "mode": "L"}
    parsed = P.parse_jpeg_exif(b)
    assert parsed["Make"] == "CamCo"
    assert parsed["GPSInfo"] == {"GPSLatitudeRef": "N"}


def test_progressive_stub_without_scan_rejected():
    # SOF2 is decodable since round 4, but a stub with no SOS must
    # still raise, not mis-decode
    blob = b"\xff\xd8\xff\xc2" + b"\x00\x0b" + bytes(9) + b"\xff\xd9"
    with pytest.raises(ValueError):
        decode_jpeg(blob)


def test_not_a_jpeg_rejected():
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")


def test_image_udf_internals_use_real_jpeg_decode():
    from computer_vision_foundations_spark.functions import image as I

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    b = encode_jpeg(img, quality=100)
    s = I._statistics_one(b)
    # q100 decode is within ±1 per pixel: mean must track the true mean
    assert abs(s["mean"][0] - img.mean()) < 0.2
    assert s["extrema"][0][0] >= int(img.min()) - 1
    assert len(s["histogram"]) == 256
    m = I._metadata_one(b)
    assert m["format"] == "JPEG" and (m["height"], m["width"]) == (24, 24)
    assert I._dhash_one(b) is not None


def test_rgb_statistics_three_bands():
    from computer_vision_foundations_spark.functions import image as I

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    s = I._statistics_one(encode_jpeg(img, quality=100))
    assert len(s["mean"]) == 3 and len(s["histogram"]) == 768
    for band in range(3):
        assert abs(s["mean"][band] - img[..., band].mean()) < 1.5


def test_rgb_422_subsampled_smooth():
    img = np.zeros((24, 40, 3), np.uint8)
    img[..., 0] = np.linspace(0, 255, 40).astype(np.uint8)[None, :]
    img[..., 1] = 80
    img[..., 2] = 160
    d = decode_jpeg(encode_jpeg(img, quality=92, subsampling="422"))
    err = np.abs(d["pixels"].astype(int) - img.astype(int))
    assert d["pixels"].shape == img.shape
    assert err.mean() < 3  # chroma halved horizontally only


def test_non_interleaved_scan_rejected():
    # craft: valid gray encode, then rewrite SOF to claim 3 components
    # while SOS still declares 1 -> decoder must raise, not return Y
    img = np.full((8, 8), 50, np.uint8)
    b = bytearray(encode_jpeg(img, quality=90))
    i = bytes(b).find(b"\xff\xc0")
    # SOF0 payload: len(2) prec(1) h(2) w(2) nf(1) comps...
    nf_pos = i + 2 + 2 + 1 + 2 + 2
    b[nf_pos] = 3
    b[i + 3] = 8 + 3 * 3  # new segment length
    # append two fake component specs after the existing one
    comp_end = nf_pos + 1 + 3
    b[comp_end:comp_end] = bytes([2, 0x11, 0, 3, 0x11, 0])
    with pytest.raises(ValueError, match="multi-scan"):
        decode_jpeg(bytes(b))


def test_dhash_returns_none_on_undeclared_table_ids():
    from computer_vision_foundations_spark.functions.image import _dhash_one

    img = np.full((8, 8), 90, np.uint8)
    b = bytearray(encode_jpeg(img, quality=90))
    # point the SOS at Huffman table id 3 (never declared) -> KeyError
    # path. SOS layout: FF DA len(2) ns(1) cid(1) TABS(1) ...
    i = bytes(b).find(b"\xff\xda")
    b[i + 6] = 0x33
    assert _dhash_one(bytes(b)) is None


def test_progressive_roundtrip_equals_baseline():
    """Progressive transmission reorders the SAME quantized
    coefficients, so decode(progressive) must equal decode(baseline)
    bit-for-bit — across shapes, modes, and subsampling (exercises
    spectral selection, EOB runs, ZRL-in-refinement, and both DC/AC
    successive-approximation passes)."""
    import numpy as np

    rng = np.random.default_rng(7)
    cases = [
        ((8, 8), "444"),
        ((24, 17), "444"),
        ((33, 29, 3), "444"),
        ((24, 24, 3), "420"),
        ((37, 23, 3), "420"),
        ((48, 31, 3), "422"),
    ]
    for shape, sub in cases:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        kw = {"quality": 85}
        if len(shape) == 3:
            kw["subsampling"] = sub
        base = decode_jpeg(encode_jpeg(px, **kw))
        prog = decode_jpeg(encode_jpeg(px, progressive=True, **kw))
        assert prog["mode"] == base["mode"]
        assert np.array_equal(prog["pixels"], base["pixels"]), (shape, sub)


def test_progressive_sparse_and_flat_blocks():
    """Mostly-flat images drive long EOB runs and zero bands; a single
    hot block drives ZRL paths in both first and refinement passes."""
    import numpy as np

    px = np.full((40, 40), 128, dtype=np.uint8)
    px[8:16, 8:16] = np.arange(64, dtype=np.uint8).reshape(8, 8) * 3
    base = decode_jpeg(encode_jpeg(px, quality=60))
    prog = decode_jpeg(encode_jpeg(px, quality=60, progressive=True))
    assert np.array_equal(prog["pixels"], base["pixels"])


def test_progressive_quality_sweep():
    import numpy as np

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(19, 26, 3), dtype=np.uint8)
    for q in (35, 75, 95, 100):
        base = decode_jpeg(encode_jpeg(px, quality=q))
        prog = decode_jpeg(encode_jpeg(px, quality=q, progressive=True))
        assert np.array_equal(prog["pixels"], base["pixels"]), q


def test_progressive_with_exif_metadata_chain():
    """image_statistics/image_metadata must treat a progressive JPEG as
    a real decode now (no fake fallback) and still read its EXIF."""
    import numpy as np

    from computer_vision_foundations_spark.functions import png as P

    px = np.arange(48 * 48, dtype=np.uint8).reshape(48, 48) % 251
    app1 = P.build_exif_app1({"Make": "ProgCam", "Model": "P1"})
    blob = encode_jpeg(px, quality=90, progressive=True, app1=app1)
    out = decode_jpeg(blob)
    assert out["pixels"].shape == (48, 48)
    assert P.parse_jpeg_exif(blob)["Make"] == "ProgCam"


def test_progressive_restart_rejected_in_encoder():
    import numpy as np

    with pytest.raises(ValueError):
        encode_jpeg(
            np.zeros((8, 8), dtype=np.uint8),
            restart_interval=2,
            progressive=True,
        )


# ------------------------------------------------ golden pixel digests
#
# sha256 of the decoded pixels, recorded with the bit-serial decoder the
# table-driven one replaced. Any change to entropy decoding, dequantize,
# IDCT, upsampling or color conversion moves a digest.


def _smooth_noise(rng, shape, sigma):
    """A diagonal gradient plus seeded Gaussian noise, like camera JPEGs."""
    h, w = shape[:2]
    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    base = 255.0 * (x + y) / (h + w)
    if len(shape) == 3:
        base = np.stack([(base + 60 * b) % 256 for b in range(3)], axis=-1)
    return np.clip(base + rng.normal(0.0, sigma, shape), 0, 255).astype(np.uint8)


def _golden_payloads() -> dict:
    rng = np.random.default_rng(20261017)
    return {
        "444_q80": encode_jpeg(_smooth_noise(rng, (40, 56, 3), 25), quality=80),
        "420": encode_jpeg(_smooth_noise(rng, (48, 64, 3), 15), quality=85, subsampling="420"),
        "422": encode_jpeg(_smooth_noise(rng, (40, 48, 3), 15), quality=85, subsampling="422"),
        "gray": encode_jpeg(_smooth_noise(rng, (48, 40), 30), quality=75),
        "odd_37x53": encode_jpeg(_smooth_noise(rng, (37, 53, 3), 20), quality=90, subsampling="420"),
        "restart_3": encode_jpeg(
            _smooth_noise(rng, (64, 80, 3), 20), quality=80, subsampling="420", restart_interval=3
        ),
        "progressive": encode_jpeg(
            _smooth_noise(rng, (40, 56, 3), 20), quality=85, subsampling="420", progressive=True
        ),
        "256_sigma20": encode_jpeg(_smooth_noise(rng, (256, 256, 3), 20), quality=80),
    }


GOLDEN_DIGESTS = {
    "444_q80": ((40, 56, 3), "259dda2d7426f7d4dded04d92064e548938bec81ea20ae0e46822bb7574b4710"),
    "420": ((48, 64, 3), "0f2953710e0ba44edb47e6833d8a0b206867a2fd9cc33575c1e3a2843539ff99"),
    "422": ((40, 48, 3), "13b241f2d9545b65b1c5bcf6d844450c1bb2b79b1e6ca918b411296883fbfaed"),
    "gray": ((48, 40), "b8ae19a03554c744d012b3931ac02f1fcac915f0c479ea4077197ff4cc0fddbc"),
    "odd_37x53": ((37, 53, 3), "d3e87157555798bdfa0f42c06a620a5cce44b9199291e8328378ec049f56f376"),
    "restart_3": ((64, 80, 3), "62fca5fbd71c80a393ba33b3c8690d3600876430ffde64fae5eadf28f6caab55"),
    "progressive": ((40, 56, 3), "eeeaac84c83c173c2e54d457eee7ac510985ac2f0be51f055533a8e0cc8c03b8"),
    "256_sigma20": ((256, 256, 3), "3f263fa07d5cb8e8de323530f32fcc0b48fd7cce8ebc38a90cc3f777ad5c9218"),
}


def test_golden_pixel_digests():
    for name, data in _golden_payloads().items():
        px = decode_jpeg(data)["pixels"]
        shape, digest = GOLDEN_DIGESTS[name]
        assert px.shape == shape, name
        assert hashlib.sha256(px.tobytes()).hexdigest() == digest, name


# ---------------------------------------------------- truncation contract


def _scan_data_ranges(data: bytes) -> list[tuple[int, int]]:
    """[start, end) of every scan's entropy-coded data: from the end of
    its SOS header to the marker that ends it (RST markers included)."""
    ranges = []
    pos = data.find(b"\xff\xda")
    while pos != -1:
        start = pos + 2 + int.from_bytes(data[pos + 2 : pos + 4], "big")
        end = start
        while not (data[end] == 0xFF and data[end + 1] not in (0x00, *range(0xD0, 0xD8))):
            end += 1
        ranges.append((start, end))
        pos = data.find(b"\xff\xda", end)
    return ranges


def test_truncation_sweep():
    """Every cut inside the entropy-coded data raises ValueError, whether
    the data then ends at EOF, at a trailing lone 0xFF or at a marker;
    dropping only the EOI still decodes the whole image."""
    rng = np.random.default_rng(5)
    payloads = {
        "baseline": encode_jpeg(_smooth_noise(rng, (16, 24, 3), 40), quality=90),
        "restart": encode_jpeg(_smooth_noise(rng, (24, 24), 60), quality=95, restart_interval=2),
        "progressive": encode_jpeg(_smooth_noise(rng, (16, 16, 3), 40), quality=90, progressive=True),
    }
    for name, data in payloads.items():
        assert data.endswith(b"\xff\xd9")
        full = decode_jpeg(data)["pixels"]
        cut_eoi = decode_jpeg(data[:-2])["pixels"]
        assert np.array_equal(cut_eoi, full), name
        ranges = _scan_data_ranges(data)
        assert ranges[-1][1] == len(data) - 2
        assert any(data[c - 1] == 0xFF for s, e in ranges for c in range(s + 1, e)), name
        for start, end in ranges:
            for cut in range(start, end):
                for blob in (data[:cut], data[:cut] + b"\xff\xd9"):
                    with pytest.raises(ValueError):
                        decode_jpeg(blob)


# ------------------------------------------------------- header budget


def _patch_sof(data: bytes, height: int, width: int) -> bytes:
    i = data.find(b"\xff\xc0")
    return data[: i + 5] + height.to_bytes(2, "big") + width.to_bytes(2, "big") + data[i + 9 :]


def test_forged_dimensions_rejected_before_allocation():
    data = encode_jpeg(np.full((16, 16, 3), 90, np.uint8), quality=90)
    t = time.perf_counter()
    with pytest.raises(ValueError, match="pixel budget"):
        decode_jpeg(_patch_sof(data, 60000, 60000))
    assert time.perf_counter() - t < 1.0
    for h, w in ((0, 16), (16, 0)):
        with pytest.raises(ValueError, match="zero"):
            decode_jpeg(_patch_sof(data, h, w))


def test_forged_frame_fields_raise_value_error():
    """Header fields that would divide by zero, allocate per declared
    component, or name a missing component raise the fallback-able kind."""
    data = encode_jpeg(np.full((16, 16), 90, np.uint8), quality=90)
    sof = data.find(b"\xff\xc0")
    sos = data.find(b"\xff\xda")
    for at, value, match in (
        (sof + 11, 0x00, "sampling"),  # 0x0 sampling factors
        (sof + 11, 0x51, "sampling"),  # horizontal factor 5
        (sof + 9, 4, "component count"),
        (sos + 5, 9, "undeclared component"),
    ):
        forged = data[:at] + bytes([value]) + data[at + 1 :]
        with pytest.raises(ValueError, match=match):
            decode_jpeg(forged)


def test_forged_dimensions_take_fallback():
    from computer_vision_foundations_spark.functions import image as I

    data = _patch_sof(encode_jpeg(np.full((16, 16), 90, np.uint8), quality=90), 60000, 60000)
    assert len(I._statistics_one(data)["mean"]) == 1  # _fake_pixels: one band
    assert I._dhash_one(data) is None
