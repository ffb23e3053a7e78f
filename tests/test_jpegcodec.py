"""Baseline JPEG codec (spider_spark/imagecodec.py, round-5 addition —
VERDICT r4 item 4: real pixel decode for the format a crawl corpus is
mostly made of).

Decode correctness is pinned non-circularly three ways:
1. a JPEG hand-assembled in THIS file from the T.81 spec (own marker
   layout, own trivial huffman table, quant all-ones, chosen quantized
   coefficients) checked against an explicit double-loop IDCT formula —
   independent of the codec's matrix/einsum path AND of jpeg_encode;
2. flat-field exactness: with Annex-K tables at quality 95 the DC quant
   step is 2, so a solid image round-trips bit-exactly (math in the
   module docstring) — any huffman/predictor/upsample/color bug breaks it;
3. encoder→decoder round-trips with tolerance on smooth images, where the
   two sides share only the spec.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from spider_spark import imagecodec as ic


# ------------------------------------------------------------ helpers

def _idct_ref(coef: np.ndarray) -> np.ndarray:
    """Explicit T.81 A.3.3 inverse DCT, scalar double loop — independent
    of the codec's einsum/matrix implementation."""
    out = np.zeros((8, 8), dtype=np.float64)
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (cu * cv / 4.0 * coef[u, v]
                          * np.cos((2 * x + 1) * u * np.pi / 16)
                          * np.cos((2 * y + 1) * v * np.pi / 16))
            out[x, y] = s
    return out


def _handmade_gray_jpeg(coef_zz: list[int]) -> bytes:
    """Assemble a minimal 8x8 grayscale baseline JPEG from the spec: quant
    table all ones, a degenerate-but-legal DHT whose codes we write by
    hand, and one entropy-coded block carrying `coef_zz` (zigzag order,
    already-quantized values). Byte layout follows T.81 B.2 only."""
    # huffman table: categories 0..11 at lengths 2,3,3,4,5,6,7,8,9,10,11,12
    # (canonical: bits = [0,1,2,1,1,1,1,1,1,1,1,1,0,...], vals 0..11)
    bits = [0, 1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0]
    vals = list(range(12))
    # same table serves DC (category) and AC (rs byte) only if every rs we
    # emit is <= 11 — we restrict coefficients so run=0 and category <= 11,
    # and end with EOB (rs=0).
    enc = ic._huff_canonical(bits, vals)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
    out += b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 8, 8)
    out += b"\x01" + bytes([1, 0x11, 0])
    dht = bytes(bits) + bytes(vals)
    out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + b"\x00" + dht
    out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + b"\x10" + dht
    out += b"\xff\xda" + struct.pack(">H", 8) + b"\x01" + bytes([1, 0x00]) + bytes([0, 63, 0])

    bitbuf: list[int] = []

    def put(code: int, ln: int) -> None:
        for i in range(ln - 1, -1, -1):
            bitbuf.append((code >> i) & 1)

    # DC
    dc = coef_zz[0]
    cat = int(abs(dc)).bit_length()
    ln, code = enc[cat]
    put(code, ln)
    if cat:
        put(dc if dc >= 0 else dc + (1 << cat) - 1, cat)
    # ACs: consecutive non-zero from k=1 (run always 0 in our fixtures)
    last = 0
    for k in range(63, 0, -1):
        if coef_zz[k]:
            last = k
            break
    for k in range(1, last + 1):
        v = coef_zz[k]
        assert v != 0, "fixture restriction: no zero runs"
        cat = int(abs(v)).bit_length()
        ln, code = enc[cat]  # rs = (0 << 4) | cat
        put(code, ln)
        put(v if v >= 0 else v + (1 << cat) - 1, cat)
    if last != 63:
        ln, code = enc[0]
        put(code, ln)  # EOB
    while len(bitbuf) % 8:
        bitbuf.append(1)
    for i in range(0, len(bitbuf), 8):
        b = int("".join(map(str, bitbuf[i : i + 8])), 2)
        out.append(b)
        if b == 0xFF:
            out.append(0x00)
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------------ hand-built

def test_jpeg_handbuilt_dc_only_block():
    # DC = 8*(200-128)/1 = 576 → flat 200
    coef = [0] * 64
    coef[0] = 576
    out = ic.jpeg_decode(_handmade_gray_jpeg(coef))
    assert out.shape == (8, 8)
    assert np.all(out == 200)


def test_jpeg_handbuilt_ac_against_loop_idct():
    # DC plus three AC terms; expected pixels from the scalar spec IDCT.
    coef_zz = [0] * 64
    coef_zz[0] = 100
    coef_zz[1] = 37   # zigzag 1 → natural (0,1)
    coef_zz[2] = -25  # zigzag 2 → natural (1,0)
    coef_zz[3] = 11   # zigzag 3 → natural (2,0)
    nat = np.zeros((8, 8))
    for k, v in enumerate(coef_zz):
        nat[divmod(int(ic._ZIGZAG[k]), 8)] = v
    expected = np.clip(np.round(_idct_ref(nat) + 128.0), 0, 255).astype(np.uint8)
    out = ic.jpeg_decode(_handmade_gray_jpeg(coef_zz))
    assert np.array_equal(out, expected)


def test_jpeg_handbuilt_negative_dc_and_saturation():
    coef = [0] * 64
    coef[0] = -2000  # drives well below 0 → clamps to 0
    out = ic.jpeg_decode(_handmade_gray_jpeg(coef))
    assert np.all(out == 0)


# ------------------------------------------------------------ flat exact

@pytest.mark.parametrize("dims", [(8, 8), (17, 24), (19, 22), (1, 1), (9, 33)])
@pytest.mark.parametrize("v", [0, 7, 128, 200, 255])
def test_jpeg_flat_gray_exact(dims, v):
    img = np.full(dims, v, dtype=np.uint8)
    out = ic.jpeg_decode(ic.jpeg_encode(img, quality=95))
    assert out.shape == dims
    assert np.all(out == v)


@pytest.mark.parametrize("ss", ["4:4:4", "4:2:2", "4:2:0"])
@pytest.mark.parametrize("v", [0, 63, 128, 255])
def test_jpeg_flat_rgb_exact_all_subsamplings(ss, v):
    img = np.full((19, 22, 3), v, dtype=np.uint8)
    out = ic.jpeg_decode(ic.jpeg_encode(img, quality=95, subsampling=ss))
    assert out.shape == (19, 22, 3)
    assert np.all(out == v)


def test_jpeg_flat_saturated_color_within_rounding():
    # Pure red stresses both chroma channels; subsampled flat chroma stays
    # flat, so error is only the YCbCr round-trip rounding (≤ 2/channel).
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:, :, 0] = 250
    out = ic.jpeg_decode(ic.jpeg_encode(img, quality=95, subsampling="4:2:0"))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


# ------------------------------------------------------------ roundtrip

def test_jpeg_smooth_gradient_tolerance():
    x = np.linspace(0, 255, 40)
    img = np.clip(np.round(np.add.outer(x, x) / 2), 0, 255).astype(np.uint8)
    out = ic.jpeg_decode(ic.jpeg_encode(img, quality=85))
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 8 and err.mean() < 2.0


def test_jpeg_random_gray_high_quality():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (33, 41), dtype=np.uint8)
    out = ic.jpeg_decode(ic.jpeg_encode(img, quality=95))
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 3.0


@pytest.mark.parametrize("ri", [1, 2, 5])
def test_jpeg_restart_markers_equivalent(ri):
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (50, 70), dtype=np.uint8)
    with_rst = ic.jpeg_decode(ic.jpeg_encode(img, quality=95, restart_interval=ri))
    without = ic.jpeg_decode(ic.jpeg_encode(img, quality=95))
    assert np.array_equal(with_rst, without)


def test_jpeg_restart_markers_color():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (37, 29, 3), dtype=np.uint8)
    a = ic.jpeg_decode(ic.jpeg_encode(img, quality=90, restart_interval=2))
    b = ic.jpeg_decode(ic.jpeg_encode(img, quality=90))
    assert np.array_equal(a, b)


def test_jpeg_dims_parity_with_sniffer():
    img = np.full((21, 34, 3), 99, dtype=np.uint8)
    payload = ic.jpeg_encode(img)
    assert ic.sniff_dims(payload) == (34, 21, "jpeg")
    assert ic.decode_pixels(payload).shape == (21, 34, 3)


# ------------------------------------------------------------ errors

def test_jpeg_progressive_raises():
    img = np.zeros((8, 8), dtype=np.uint8)
    b = bytearray(ic.jpeg_encode(img))
    i = b.find(b"\xff\xc0")
    b[i + 1] = 0xC2  # relabel SOF0 as progressive
    with pytest.raises(ValueError, match="non-baseline"):
        ic.jpeg_decode(bytes(b))


def test_jpeg_truncated_entropy_raises():
    img = np.full((24, 24), 77, dtype=np.uint8)
    b = ic.jpeg_encode(img, quality=50)
    with pytest.raises(ValueError):
        ic.jpeg_decode(b[: len(b) // 2])


def test_jpeg_pixel_cap_guard():
    # SOF claiming 32767x32767 must refuse before allocating anything.
    b = (b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
         + struct.pack(">HH", 32767, 32767) + b"\x01" + bytes([1, 0x11, 0]))
    with pytest.raises(ValueError, match="pixel cap"):
        ic.jpeg_decode(b)


def _split_jpeg(data: bytes) -> tuple[list[tuple[int, bytes]], bytes]:
    """(marker segments up to and including the first SOS, that scan's
    entropy-coded bytes) of a single-scan file that ends in EOI."""
    segs, i = [], 2
    while True:
        m = data[i + 1]
        ln = struct.unpack(">H", data[i + 2 : i + 4])[0]
        segs.append((m, data[i : i + 2 + ln]))
        i += 2 + ln
        if m == 0xDA:
            return segs, data[i:-2]


def _three_scan_jpeg(img: np.ndarray, quality: int = 90) -> tuple[bytes, list[bytes]]:
    """A legal 4:4:4 baseline JPEG with one NON-interleaved scan per
    component (Y, Cb, Cr), assembled from three grayscale encodes of the
    YCbCr planes — they share the luma quant and huffman tables, and a
    1x1-sampled component's block grid is the grayscale one. Returns the
    file and the three single-plane files."""
    ycc = ic._rgb_to_ycbcr(img)
    planes = [ic.jpeg_encode(np.clip(np.round(ycc[:, :, c]), 0, 255).astype(np.uint8),
                             quality=quality) for c in range(3)]
    segs, _ = _split_jpeg(planes[0])
    h, w = img.shape[:2]
    out = bytearray(b"\xff\xd8")
    out += b"".join(seg for m, seg in segs if m in (0xDB, 0xC4))
    out += b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w)
    out += b"\x03" + b"".join(bytes([cid, 0x11, 0]) for cid in (1, 2, 3))
    for cid, plane in zip((1, 2, 3), planes):
        out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, cid, 0x00, 0, 63, 0])
        out += _split_jpeg(plane)[1]
    return bytes(out) + b"\xff\xd9", planes


def test_jpeg_non_interleaved_scans_decode_every_component():
    """One scan per component: every SOS is decoded, so chroma survives
    (stopping after the first scan would return luma with flat chroma)."""
    yy, xx = np.mgrid[0:19, 0:27]
    img = np.stack([xx * 9, yy * 13, 255 - xx * 9], axis=-1).astype(np.uint8)
    data, planes = _three_scan_jpeg(img)
    got = ic.jpeg_decode(data)
    y, cb, cr = (ic.jpeg_decode(p).astype(np.float64) for p in planes)
    assert np.array_equal(got, ic._ycbcr_to_rgb(y, cb, cr))
    assert np.abs(got.astype(int) - img.astype(int)).mean() < 4


def test_jpeg_uncovered_component_raises():
    img = np.full((16, 16, 3), 90, dtype=np.uint8)
    data, _ = _three_scan_jpeg(img)
    first_scan_end = data.find(b"\xff\xda", data.find(b"\xff\xda") + 2)
    with pytest.raises(ValueError, match=r"components \[2, 3\] undecoded"):
        ic.jpeg_decode(data[:first_scan_end] + b"\xff\xd9")


@pytest.mark.parametrize("keep,msg", [
    (lambda m, seg: m != 0xC4, "missing DC huffman table 0"),
    # keep the DC table (class 0), drop the AC one (class 1)
    (lambda m, seg: not (m == 0xC4 and seg[4] >> 4 == 1), "missing AC huffman table 0"),
    (lambda m, seg: m != 0xDB, "missing quantization table 0"),
], ids=["dc", "ac", "quant"])
def test_jpeg_missing_table_raises_value_error(keep, msg):
    segs, entropy = _split_jpeg(ic.jpeg_encode(np.full((8, 8), 50, np.uint8)))
    data = b"\xff\xd8" + b"".join(seg for m, seg in segs if keep(m, seg))
    with pytest.raises(ValueError, match=msg):
        ic.jpeg_decode(data + entropy + b"\xff\xd9")


def test_decode_pixels_cap_for_png():
    # IHDR claiming a huge raster trips the cap without inflating IDAT.
    huge = ic.png_encode(np.zeros((4, 4), np.uint8))
    b = bytearray(huge)
    b[16:24] = struct.pack(">II", 50000, 50000)
    with pytest.raises(ValueError, match="pixel cap"):
        ic.decode_pixels(bytes(b))
