"""Property tests for the stdlib media codecs: PNG and WAV round-trip
identity on arbitrary content and shapes (hypothesis), so every
scanline-filter interaction and chunk-alignment case is exercised, not
just the fixtures'."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from heatmap_spark.operators.multimodal import (
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=70),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_is_identity(h, w, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    hh, ww, _, _, out = png_decode(png_encode(px))
    assert (hh, ww) == (h, w)
    assert np.array_equal(out, px)


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=300),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_is_identity(n, seed, rate):
    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, size=n, dtype=np.int64).astype(np.int16)
    got_rate, out = wav_decode(wav_encode(samples, sample_rate=rate))
    assert got_rate == rate
    assert np.array_equal(out, samples)


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(min_value=2, max_value=8),
    w=st.integers(min_value=2, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    flip=st.integers(min_value=0, max_value=10_000),
)
def test_png_corruption_is_detected(h, w, seed, flip):
    """Flipping any byte of an encoded PNG must either be detected
    (CRC/structure ValueError) or leave the image identical (the flip
    can only hit a redundant byte if it hits nothing at all — with
    CRCs over every chunk there is no silent-corruption window)."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    data = bytearray(png_encode(px))
    pos = flip % len(data)
    data[pos] ^= 0xFF
    try:
        hh, ww, _, _, out = png_decode(bytes(data))
    except Exception:
        return  # detected — the desired outcome (no silent corruption)
    assert (hh, ww) == (h, w) and np.array_equal(out, px)


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=10),
    w=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    rgb=st.booleans(),
    deep=st.booleans(),
)
def test_png_ex_roundtrip_all_modes(h, w, seed, rgb, deep):
    """The PNG codec round-trips gray/RGB at depth 8/16 — all
    five byte-level filters with the bpp-stride 'left' exercised by
    the row cycle."""
    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    if deep:
        px = rng.integers(0, 65536, size=shape, dtype=np.int64).astype(np.uint16)
    else:
        px = rng.integers(0, 256, size=shape, dtype=np.int64).astype(np.uint8)
    hh, ww, ch, depth, out = png_decode(png_encode(px))
    assert (hh, ww, ch, depth) == (h, w, 3 if rgb else 1, 16 if deep else 8)
    assert out.dtype == px.dtype
    assert np.array_equal(out, px)


# SHA-256 of png_encode's output for seeded gray-8 rasters, computed by
# the gray-8-only encoder this codec replaced (it emitted the same
# bytes): ((h, w), seed, digest).  h >= 5 runs all five row filters.
# The digests assume CPython's zlib at its default compression level.
_GRAY8_PNG_SHA256 = [
    ((1, 1), 1000, "03160cdad741c6d454f051c1c3cab39c8889371fdf997fdac1a2c87d2deac476"),
    ((5, 1), 1001, "8209347519189d8ee24be074173218bc1cfa424a264dc52f1200b857eacc4e96"),
    ((5, 7), 1002, "5b9b7698c541c165b7fbc74a5033312461035fa698c5abcbed1f6cb47597a06f"),
    ((6, 13), 1003, "323f2a3ba85b8da16fbd7a0668f69a962bddf28888d6d3ff57fc0cee1000d0b3"),
    ((9, 64), 1004, "da9ca5761111c0096e47fc71f3ee6b2e9e3e5f757d5968dab49836a701e48700"),
    ((12, 3), 1005, "7db9463750d53381f535908d0dab745e2a5a501b54ff95424dde00f1c2116567"),
    ((17, 31), 1006, "36a2a5164ed29ee43148af8759f233de7abd53e78ff311d8212f1806fce00dc1"),
    ((40, 40), 1007, "5dd159852115e36439ef3d1bcdcae6b92a54d3615e7b366e079f826d12f1f544"),
]


def test_png_gray8_bitstream_is_pinned():
    """The gray-8 bitstream that q_media_decode and q_media_phash
    decode stays byte-for-byte what it was: a change to the filter
    cycle, IHDR fields or chunk framing breaks a digest."""
    import hashlib

    for (h, w), seed, want in _GRAY8_PNG_SHA256:
        px = np.random.default_rng(seed).integers(0, 256, size=(h, w), dtype=np.uint8)
        assert hashlib.sha256(png_encode(px)).hexdigest() == want, (h, w)


def test_png_ex_rejects_corruption_and_unsupported():
    import pytest

    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    blob = bytearray(png_encode(px))
    blob[40] ^= 0xFF  # flip a byte inside a chunk
    with pytest.raises(ValueError):
        png_decode(bytes(blob))
    with pytest.raises(ValueError):
        png_decode(b"\x89PNG\r\n\x1a\njunk")
    # sub-byte palette depths are declared unsupported, not mis-decoded
    import struct
    import zlib

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr4 = struct.pack(">IIBBBBB", 2, 2, 4, 3, 0, 0, 0)
    with pytest.raises(ValueError, match="depth 8"):
        png_decode(sig + chunk(b"IHDR", ihdr4) + chunk(b"IEND", b""))
    # a palette image without its PLTE chunk must refuse cleanly
    idx = np.zeros((2, 2), dtype=np.uint8)
    plte = np.array([[1, 2, 3]], dtype=np.uint8)
    blob = png_encode(idx, palette=plte)
    stripped = bytearray()
    pos = 8
    stripped += blob[:8]
    while pos < len(blob):
        (ln,) = struct.unpack(">I", blob[pos : pos + 4])
        if blob[pos + 4 : pos + 8] != b"PLTE":
            stripped += blob[pos : pos + 12 + ln]
        pos += 12 + ln
    with pytest.raises(ValueError, match="missing PLTE"):
        png_decode(bytes(stripped))


def test_decode_real_reports_channels_and_depth():
    from heatmap_spark.operators.multimodal import decode_real

    px = (np.arange(24, dtype=np.int64) * 999 % 65536).astype(np.uint16).reshape(2, 4, 3)
    img = decode_real(png_encode(px))
    assert (img["channels"], img["depth"]) == (3, 16)
    assert np.array_equal(img["pixels"], px)


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    mode=st.sampled_from(["gray8", "gray16", "rgb8", "rgb16", "pal"]),
)
def test_png_ex_adam7_roundtrip_all_modes(h, w, seed, mode):
    """Adam7 round trip across every supported mode, including image
    sizes where late passes are empty (w or h < pass origin) — and the
    interlaced decode equals the sequential decode of the same raster."""
    rng = np.random.default_rng(seed)
    plte = None
    if mode == "pal":
        plte = rng.integers(0, 256, size=(16, 3), dtype=np.int64).astype(np.uint8)
        px = rng.integers(0, 16, size=(h, w), dtype=np.int64).astype(np.uint8)
        expect = plte[px]
    else:
        shape = (h, w, 3) if mode.startswith("rgb") else (h, w)
        hi = 65536 if mode.endswith("16") else 256
        dt = np.uint16 if mode.endswith("16") else np.uint8
        px = rng.integers(0, hi, size=shape, dtype=np.int64).astype(dt)
        expect = px
    il = png_decode(png_encode(px, palette=plte, interlace=1))
    sq = png_decode(png_encode(px, palette=plte, interlace=0))
    assert np.array_equal(il[4], expect)
    assert il[:4] == sq[:4]
    assert np.array_equal(il[4], sq[4])


def test_png_adam7_layout_matches_spec_hand_assembly():
    """One-sided oracle for the Adam7 LAYOUT (a wrong pass order or
    geometry would still round-trip through a matching encoder): an
    interlaced IDAT is assembled BY HAND in this test straight from
    RFC 2083 §8.5 — filter-0 scanlines, passes in spec order, pixel
    (x, y) of pass p at sub-position ((x−x0)/dx, (y−y0)/dy) — and the
    codec must decode it to exactly the intended raster."""
    import struct
    import zlib

    rng = np.random.default_rng(42)
    h, w = 11, 13  # odd sizes: every pass non-trivial, some ragged
    px = rng.integers(0, 256, size=(h, w), dtype=np.int64).astype(np.uint8)

    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        ys = range(y0, h, dy)
        xs = range(x0, w, dx)
        if not ys or not xs:
            continue
        for y in ys:
            raw.append(0)  # filter type None
            for x in xs:
                raw.append(int(px[y, x]))

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    hh, ww, ch, depth, out = png_decode(blob)
    assert (hh, ww, ch, depth) == (h, w, 1, 8)
    assert np.array_equal(out, px)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    rgb=st.booleans(),
)
@example(h=8, w=17, seed=16892, rgb=True)  # worst observed: diff 4
def test_jpeg_roundtrip_near_lossless_at_unit_quant(h, w, seed, rgb):
    """With all-ones quantization the only loss is DCT-coefficient
    rounding (plus the YCbCr round trip for color): gray must land
    within ±1 of the original on EVERY pixel, RGB within ±5 — the
    coefficient roundings (±0.5 each) can constructively stack in
    pixel space and the Cb→B / Cr→R conversion amplifies them ×1.77,
    so the practical tail reaches 4 (seed 16892 above); 5 leaves the
    honest margin.  For arbitrary noise images and non-multiple-of-8
    shapes."""
    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    px = rng.integers(0, 256, size=shape, dtype=np.int64).astype(np.uint8)
    hh, ww, ch, out = jpeg_decode(jpeg_encode(px))
    assert (hh, ww, ch) == (h, w, 3 if rgb else 1)
    got = out if rgb else out.reshape(h, w)
    diff = np.abs(got.astype(np.int64) - px.astype(np.int64)).max()
    assert diff <= (5 if rgb else 1), diff


def test_jpeg_decode_matches_hand_assembled_spec_stream():
    """One-sided oracle for the DECODER: a minimal baseline JPEG is
    assembled BY HAND from T.81 (known Huffman tables, known
    coefficients), so a decoder bug cannot hide behind a matching
    encoder.  Block 1: DC-only (diff category 4, amplitude 8) → every
    pixel 128 + 8·(1/8) = 129.  Block 2 adds AC(0,1) = zigzag k=1
    coefficient 3 → expected raster computed here from the closed-form
    IDCT, independently of the codec's matrices."""
    import struct

    from heatmap_spark.operators.multimodal import jpeg_decode

    def chunkhdr(marker, payload):
        return marker + struct.pack(">H", len(payload) + 2) + payload

    # DHT: DC table 0 = {0: '00', 4: '01'}; AC table 0 = {EOB(0x00):
    # '00', 0x01: '01'} — two-bit uniform canonical codes
    dht_dc = chunkhdr(b"\xff\xc4", bytes([0x00]) + bytes(
        [0, 2] + [0] * 14) + bytes([0, 4]))
    dht_ac = chunkhdr(b"\xff\xc4", bytes([0x10]) + bytes(
        [0, 2] + [0] * 14) + bytes([0x00, 0x02]))
    dqt = chunkhdr(b"\xff\xdb", b"\x00" + bytes([1] * 64))
    sof = chunkhdr(b"\xff\xc0", struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
    sos = chunkhdr(b"\xff\xda", bytes([1, 1, 0x00]) + b"\x00\x3f\x00")

    # scan bits — block 1: DC sym 4 ('01') + amplitude 8 ('1000'),
    # EOB ('00'); block 2: DC sym 0 ('00') [diff 0], AC sym 0x02
    # ('01', run 0 / size 2) + amplitude 3 ('11'), EOB ('00')
    bits = "01" + "1000" + "00" + "00" + "01" + "11" + "00"
    bits += "1" * (-len(bits) % 8)  # pad with 1s
    scan = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))

    blob = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + scan + b"\xff\xd9"
    h, w, ch, out = jpeg_decode(blob)
    assert (h, w, ch) == (8, 16, 1)

    # independent IDCT: f(x, y) = sum_u,v a(u)a(v) F(u,v) cos((2x+1)uπ/16)cos((2y+1)vπ/16)
    def idct_block(F):
        out = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        au = np.sqrt(1 / 8) if u == 0 else 0.5
                        av = np.sqrt(1 / 8) if v == 0 else 0.5
                        s += (
                            au * av * F[u, v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16)
                        )
                out[x, y] = s
        return out

    F1 = np.zeros((8, 8)); F1[0, 0] = 8
    F2 = np.zeros((8, 8)); F2[0, 0] = 8; F2[0, 1] = 3  # zigzag k=1 is (row 0, col 1)
    exp1 = np.clip(np.floor(idct_block(F1) + 128.0 + 0.5), 0, 255)
    exp2 = np.clip(np.floor(idct_block(F2) + 128.0 + 0.5), 0, 255)
    got = out.reshape(8, 16)
    assert np.array_equal(got[:, :8], exp1.astype(np.uint8))
    assert np.array_equal(got[:, 8:], exp2.astype(np.uint8))
    assert got[0, 0] == 129  # the DC-only block is flat 129


def test_jpeg_rejects_unsupported_and_corrupt():
    import pytest

    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    blob = jpeg_encode(px)
    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"not a jpeg")
    with pytest.raises(ValueError):
        jpeg_decode(blob[: len(blob) // 2] )
    # a baseline scan inside an SOF2 frame is malformed (progressive
    # never codes DC and AC in one scan) — refused, not mis-decoded
    prog = bytearray(blob)
    i = prog.index(b"\xff\xc0")
    prog[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive|Se=0"):
        jpeg_decode(bytes(prog))
    # genuinely unsupported frame types still refuse: SOF3 (lossless),
    # SOF9 (arithmetic-coded)
    for sof in (0xC3, 0xC9):
        other = bytearray(blob)
        other[i + 1] = sof
        with pytest.raises(ValueError, match="SOF0"):
            jpeg_decode(bytes(other))
    # a single-component frame's sampling factors are ratios against
    # themselves — flipping them to 2x2 decodes identically (the old
    # codec refused; the subsampling-aware one must not)
    sub = bytearray(blob)
    sof_at = sub.index(b"\xff\xc0")
    sub[sof_at + 11] = 0x22  # H=2, V=2 for component 1
    h, w, ch, out = jpeg_decode(bytes(sub))
    assert (h, w, ch) == (8, 8, 1)
    ref = jpeg_decode(blob)
    assert np.array_equal(out, ref[3])
    # fractional sampling ratios (Hmax % Hi != 0) refuse cleanly:
    # force component 1 to 3x1 in a color stream whose chroma is 2x1
    cpx = (np.arange(192, dtype=np.int64) % 256).astype(np.uint8).reshape(8, 8, 3)
    frac = bytearray(jpeg_encode(cpx, subsampling="4:2:2"))
    fat = frac.index(b"\xff\xc0")
    frac[fat + 11] = 0x31  # Y: H=3, V=1; chroma stays 1x1 → 3 % 2? 3%1 ok, but 3 vs 2...
    # Y=3x1, chroma=1x1 → hmax=3, 3 % 1 == 0 for chroma; adjust chroma
    # to 2x1 so hmax=3 and 3 % 2 != 0
    frac[fat + 14] = 0x21  # Cb: H=2, V=1
    with pytest.raises(ValueError, match="fractional"):
        jpeg_decode(bytes(frac))
    # sampling factors outside 1-4 refuse
    bad = bytearray(blob)
    bad[sof_at + 11] = 0x51
    with pytest.raises(ValueError, match="1-4"):
        jpeg_decode(bytes(bad))
    # quant table constraints
    with pytest.raises(ValueError, match="quant"):
        jpeg_encode(px, quant=np.zeros((8, 8), dtype=np.int64))
    with pytest.raises(ValueError, match="subsampling"):
        jpeg_encode(px, subsampling="4:1:1")


def test_decode_real_sniffs_jpeg():
    from heatmap_spark.operators.multimodal import decode_real, jpeg_encode

    px = (np.arange(192, dtype=np.int64) % 256).astype(np.uint8).reshape(8, 8, 3)
    img = decode_real(jpeg_encode(px))
    assert img["kind"] == "image"
    assert (img["height"], img["width"], img["channels"], img["depth"]) == (8, 8, 3, 8)
    assert np.abs(img["pixels"].astype(np.int64) - px.astype(np.int64)).max() <= 2


def test_jpeg_fill_bytes_and_dimension_guard():
    """Legal 0xFF fill bytes before a marker (T.81 B.1.1.2) must not
    derail segment parsing; SOF0's 16-bit dimension fields are guarded
    at encode time."""
    import pytest

    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    blob = jpeg_encode(px)
    i = blob.index(b"\xff\xc0")
    filled = blob[:i] + b"\xff\xff\xff" + blob[i:]
    h, w, ch, out = jpeg_decode(filled)
    assert (h, w, ch) == (8, 8, 1)
    assert np.abs(out.reshape(8, 8).astype(np.int64) - px.astype(np.int64)).max() <= 1
    with pytest.raises(ValueError, match="16-bit"):
        jpeg_encode(np.zeros((70000, 2), dtype=np.uint8))


def test_jpeg_truncation_raises_valueerror_not_indexerror():
    """Every truncation shape must surface as the documented ValueError
    (callers catch it to refuse cleanly), never a raw IndexError."""
    import pytest

    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    blob = jpeg_encode(px)
    with pytest.raises(ValueError):
        jpeg_decode(b"\xff\xd8\xff")  # lone 0xFF tail
    # DHT declaring more codes than it carries
    i = blob.index(b"\xff\xc4")
    import struct
    (ln,) = struct.unpack(">H", blob[i + 2 : i + 4])
    clipped = bytearray(blob)
    # keep header, raise a length-1 count without supplying the value
    clipped[i + 5] = clipped[i + 5] + 1 if clipped[i + 5] < 255 else 255
    with pytest.raises(ValueError):
        jpeg_decode(bytes(clipped))
    # every prefix truncation of the whole stream refuses cleanly
    for cut in range(2, len(blob), 7):
        try:
            jpeg_decode(blob[:cut])
        except ValueError:
            pass  # the required failure mode


def test_jpeg_sos_component_ids_matched_not_positional():
    """A scan listing component ids that do not match SOF0 must refuse
    (T.81 binds selectors by id; silently assuming positional order
    would garble channels)."""
    import pytest

    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    px = (np.arange(192, dtype=np.int64) % 256).astype(np.uint8).reshape(8, 8, 3)
    blob = bytearray(jpeg_encode(px))
    i = blob.index(b"\xff\xda")
    # component ids in SOS are at i+5, i+7, i+9 (ns at i+4)
    blob[i + 5] = 9  # id 9 never appears in SOF0
    with pytest.raises(ValueError, match="component ids"):
        jpeg_decode(bytes(blob))


def test_jpeg_rejects_rgb_coded_three_component_streams():
    """The decoder's inverse color transform assumes JFIF YCbCr; an
    RGB-coded 3-component stream (Adobe APP14 transform=0, or 'R'/'G'/
    'B' component ids) must refuse like other unsupported modes, not
    silently decode with wrong colors."""
    import struct

    import pytest

    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    px = (np.arange(192, dtype=np.int64) % 256).astype(np.uint8).reshape(8, 8, 3)
    blob = jpeg_encode(px)

    def with_app14(transform: int) -> bytes:
        seg = b"Adobe" + struct.pack(">HHHB", 0x64, 0, 0, transform)
        return blob[:2] + b"\xff\xee" + struct.pack(">H", len(seg) + 2) + seg + blob[2:]

    with pytest.raises(ValueError, match="transform=0"):
        jpeg_decode(with_app14(0))
    # transform=1 (YCbCr) still decodes — only the RGB declaration refuses
    h, w, ch, out = jpeg_decode(with_app14(1))
    assert (h, w, ch) == (8, 8, 3)
    assert np.abs(out.astype(np.int64) - px.astype(np.int64)).max() <= 2

    # 'R'/'G'/'B' component ids (consistent across SOF0 and SOS, so the
    # id-match guard passes and the color-transform guard must catch it)
    rgb = bytearray(blob)
    sof = rgb.index(b"\xff\xc0")
    sos = rgb.index(b"\xff\xda")
    for k, cid in enumerate(b"RGB"):
        rgb[sof + 10 + 3 * k] = cid
        rgb[sos + 5 + 2 * k] = cid
    with pytest.raises(ValueError, match="component ids"):
        jpeg_decode(bytes(rgb))


def test_decode_real_raises_on_unknown_payload():
    import pytest

    from heatmap_spark.operators.multimodal import decode_real

    with pytest.raises(NotImplementedError, match="not PNG"):
        decode_real(b"\x00\x01\x02 definitely not a container")


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=3),
    w=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    rgb=st.booleans(),
    ri=st.integers(min_value=1, max_value=4),
)
def test_jpeg_restart_intervals_roundtrip(h, w, seed, rgb, ri):
    """DRI/RSTn round trip: predictors reset and the bitstream
    re-aligns at every restart boundary, for arbitrary MCU grids and
    intervals (including ri=1 — a restart before every MCU after the
    first); a stripped RST marker is detected, never mis-decoded."""
    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(seed)
    shape = (h * 8, w * 8, 3) if rgb else (h * 8, w * 8)
    px = rng.integers(0, 256, size=shape, dtype=np.int64).astype(np.uint8)
    blob = jpeg_encode(px, restart_interval=ri)
    n_mcu = h * w
    expect_rst = (n_mcu - 1) // ri
    n_rst = sum(blob.count(bytes([0xFF, 0xD0 + i])) for i in range(8))
    assert n_rst == expect_rst, (n_rst, expect_rst)
    hh, ww, ch, out = jpeg_decode(blob)
    got = out if rgb else out.reshape(px.shape)
    diff = np.abs(got.astype(np.int64) - px.astype(np.int64)).max()
    # same unit-quant tail as the plain roundtrip test: RGB can hit 4
    assert diff <= (5 if rgb else 1), diff
    if expect_rst:
        i = blob.index(b"\xff" + bytes([0xD0]))
        import pytest

        with pytest.raises(ValueError):
            jpeg_decode(blob[:i] + blob[i + 2 :])


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    mode=st.sampled_from(["4:2:0", "4:2:2"]),
)
def test_jpeg_subsampled_roundtrip_on_aligned_cells(h, w, seed, mode):
    """Chroma subsampling round trip: on images whose color is constant
    per subsample cell (2x2 for 4:2:0, 2x1 for 4:2:2), the box-mean
    downsample and box-replication upsample are exact inverses, so the
    error bound equals the 4:4:4 one (±5, see
    test_jpeg_roundtrip_near_lossless_at_unit_quant) — for arbitrary
    non-multiple-of-MCU shapes."""
    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    fh, fv = (2, 2) if mode == "4:2:0" else (2, 1)
    rng = np.random.default_rng(seed)
    base = rng.integers(
        0, 256, size=(-(-h // fv), -(-w // fh), 3), dtype=np.int64
    ).astype(np.uint8)
    px = np.repeat(np.repeat(base, fv, axis=0), fh, axis=1)[:h, :w]
    hh, ww, ch, out = jpeg_decode(jpeg_encode(px, subsampling=mode))
    assert (hh, ww, ch) == (h, w, 3)
    diff = np.abs(out.astype(np.int64) - px.astype(np.int64)).max()
    assert diff <= 5, diff


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=33),
    w=st.integers(min_value=1, max_value=33),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    rgb=st.booleans(),
    mode=st.sampled_from(["4:4:4", "4:2:2", "4:2:0"]),
    ri=st.integers(min_value=0, max_value=3),
)
def test_jpeg_progressive_decodes_bit_identical_to_baseline(
    h, w, seed, rgb, mode, ri
):
    """The successive-approximation split (DC Al=1 + refine, AC Al=1 +
    refine) is exact: a progressive stream must decode to BIT-IDENTICAL
    pixels vs the sequential stream of the same input — the coefficient
    stores converge to equality, so any divergence is an entropy-layer
    bug (EOB runs, ZRL-in-refinement, correction-bit placement), not
    rounding.  Covers subsampled + restart-interval combinations."""
    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    px = rng.integers(0, 256, size=shape, dtype=np.int64).astype(np.uint8)
    base = jpeg_decode(jpeg_encode(px, subsampling=mode, restart_interval=ri))
    prog_blob = jpeg_encode(
        px, subsampling=mode, restart_interval=ri, progressive=True
    )
    assert prog_blob[2:4] != b"\xff\xc0" and b"\xff\xc2" in prog_blob
    prog = jpeg_decode(prog_blob)
    assert base[:3] == prog[:3]
    assert np.array_equal(base[3], prog[3])


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_jpeg_progressive_refinement_entropy_edge_cases(seed):
    """Quant tables shaped to force the hairiest refinement paths:
    a large low-frequency coefficient (already-significant history), a
    16+ zero gap with a mid-gap history coefficient PAST the 16th zero
    (so its correction bit must ride the SECOND ZRL, not the first —
    the T.81 G.1.2.3 'bits attach to the symbol whose advance skips
    their position' rule), and a ±1 newly-significant coefficient deep
    in the band.  Progressive and baseline decodes must stay
    bit-identical."""
    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    # zigzag traversal, independently derived
    order = []
    for s in range(15):
        cells = [(x, s - x) for x in range(max(0, s - 7), min(s, 7) + 1)]
        order.extend(cells if s % 2 else cells[::-1])
    zz = [x * 8 + y for x, y in order]
    qn = np.full(64, 255, dtype=np.int64)
    qn[zz[0]] = 8
    qn[zz[1]] = 2    # low-freq: |coeff| >= 2 → history in the refine scan
    qn[zz[25]] = 1   # mid-gap (24 zeros before it): history past zero #16
    qn[zz[51]] = 3   # deep: |coeff| == 1 → newly significant
    qn[zz[60]] = 2
    quant = qn.reshape(8, 8)
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(32, 48), dtype=np.int64).astype(np.uint8)
    base = jpeg_decode(jpeg_encode(px, quant=quant))
    prog = jpeg_decode(jpeg_encode(px, quant=quant, progressive=True))
    assert np.array_equal(base[3], prog[3])


def test_jpeg_decode_subsampled_hand_assembled_spec_stream():
    """One-sided oracle for SUBSAMPLED decoding: a minimal 4:2:0 JPEG
    (16x16, Y 2x2, Cb/Cr 1x1 — one MCU of Y1 Y2 Y3 Y4 Cb Cr) is
    assembled BY HAND from T.81 with DC-only blocks, so the MCU block
    order, chroma upsampling, and color inverse are pinned against
    closed-form expectations independent of the encoder."""
    import struct

    from heatmap_spark.operators.multimodal import jpeg_decode

    def chunkhdr(marker, payload):
        return marker + struct.pack(">H", len(payload) + 2) + payload

    # DC table 0 = {6: '00', 7: '01'}; AC table 0 = {EOB: '00'}
    dht_dc = chunkhdr(
        b"\xff\xc4", bytes([0x00]) + bytes([0, 2] + [0] * 14) + bytes([6, 7])
    )
    dht_ac = chunkhdr(
        b"\xff\xc4", bytes([0x10]) + bytes([0, 1] + [0] * 14) + bytes([0x00])
    )
    dqt = chunkhdr(b"\xff\xdb", b"\x00" + bytes([1] * 64))
    sof = chunkhdr(
        b"\xff\xc0",
        struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x22, 0])  # Y: 2x2
        + bytes([2, 0x11, 0])  # Cb: 1x1
        + bytes([3, 0x11, 0]),  # Cr: 1x1
    )
    sos = chunkhdr(
        b"\xff\xda",
        bytes([3, 1, 0x00, 2, 0x00, 3, 0x00]) + b"\x00\x3f\x00",
    )
    # DC-only MCU: Y quadrant DCs 80, 16, -16, -80 (diffs 80, -64, -32,
    # -64 → cats 7, 7, 6, 7); Cb DC 64 (cat 7), Cr DC -64 (cat 7).
    # amplitudes: v >= 0 → v; v < 0 → v + 2^s - 1
    bits = (
        "01" + format(80, "07b") + "00"          # Y1: cat7, 80, EOB
        + "01" + format(-64 + 127, "07b") + "00"  # Y2: diff -64
        + "00" + format(-32 + 63, "06b") + "00"   # Y3: cat6, diff -32
        + "01" + format(-64 + 127, "07b") + "00"  # Y4: diff -64
        + "01" + format(64, "07b") + "00"         # Cb: 64
        + "01" + format(-64 + 127, "07b") + "00"  # Cr: -64
    )
    bits += "1" * (-len(bits) % 8)
    scan = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    blob = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + scan + b"\xff\xd9"
    h, w, ch, out = jpeg_decode(blob)
    assert (h, w, ch) == (16, 16, 3)

    # closed form: a DC-only block is flat at 128 + DC/8; chroma is one
    # block upsampled 2x2 → constant cb=136, cr=120 everywhere
    def rgb(ydc):
        y = 128 + ydc / 8.0
        cb, cr = 128 + 64 / 8.0, 128 - 64 / 8.0
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        return [
            int(np.clip(np.floor(c + 0.5), 0, 255)) for c in (r, g, b)
        ]

    quads = {(0, 0): 80, (0, 1): 16, (1, 0): -16, (1, 1): -80}
    for (qy, qx), ydc in quads.items():
        block = out[qy * 8 : qy * 8 + 8, qx * 8 : qx * 8 + 8]
        exp = rgb(ydc)
        assert block.reshape(-1, 3).tolist().count(exp) == 64, (
            (qy, qx), exp, block[0, 0].tolist()
        )


def test_jpeg_decode_progressive_hand_assembled_spec_stream():
    """One-sided oracle for PROGRESSIVE decoding: a minimal
    spectral-selection-only SOF2 stream (gray 8x8, scan 1 = DC with
    Al=0, scan 2 = AC band 1-63 with one coefficient then EOB0) is
    assembled by hand, and the output checked against the same
    closed-form IDCT as the baseline hand test — pinning SOF2 parsing,
    per-scan DHT redefinition, the DC-first path, the AC-first band
    path, and EOB-run consumption against the spec, independent of the
    encoder's scan script."""
    import struct

    from heatmap_spark.operators.multimodal import jpeg_decode

    def chunkhdr(marker, payload):
        return marker + struct.pack(">H", len(payload) + 2) + payload

    dqt = chunkhdr(b"\xff\xdb", b"\x00" + bytes([1] * 64))
    sof2 = chunkhdr(
        b"\xff\xc2", struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    )
    # scan 1: DC table {0: '00', 4: '01'}; block diff 8 → cat 4 '01' + '1000'
    dht1 = chunkhdr(
        b"\xff\xc4", bytes([0x00]) + bytes([0, 2] + [0] * 14) + bytes([0, 4])
    )
    sos1 = chunkhdr(b"\xff\xda", bytes([1, 1, 0x00]) + bytes([0, 0, 0x00]))
    bits1 = "01" + "1000"
    bits1 += "1" * (-len(bits1) % 8)
    scan1 = bytes(int(bits1[i : i + 8], 2) for i in range(0, len(bits1), 8))
    # scan 2: AC table {0x00: '00', 0x02: '01'}; coefficient 3 at zigzag
    # k=1 (run 0, size 2) then EOB0 closes the band
    dht2 = chunkhdr(
        b"\xff\xc4",
        bytes([0x10]) + bytes([0, 2] + [0] * 14) + bytes([0x00, 0x02]),
    )
    sos2 = chunkhdr(b"\xff\xda", bytes([1, 1, 0x00]) + bytes([1, 63, 0x00]))
    bits2 = "01" + "11" + "00"
    bits2 += "1" * (-len(bits2) % 8)
    scan2 = bytes(int(bits2[i : i + 8], 2) for i in range(0, len(bits2), 8))
    blob = (
        b"\xff\xd8" + dqt + sof2 + dht1 + sos1 + scan1
        + dht2 + sos2 + scan2 + b"\xff\xd9"
    )
    h, w, ch, out = jpeg_decode(blob)
    assert (h, w, ch) == (8, 8, 1)

    def idct_block(F):
        res = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        au = np.sqrt(1 / 8) if u == 0 else 0.5
                        av = np.sqrt(1 / 8) if v == 0 else 0.5
                        s += (
                            au * av * F[u, v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16)
                        )
                res[x, y] = s
        return res

    F = np.zeros((8, 8))
    F[0, 0] = 8
    F[0, 1] = 3  # zigzag k=1 is (row 0, col 1)
    exp = np.clip(np.floor(idct_block(F) + 128.0 + 0.5), 0, 255)
    assert np.array_equal(out.reshape(8, 8), exp.astype(np.uint8))


def test_decode_real_sniffs_progressive_and_subsampled_jpeg():
    """decode_real's JPEG branch covers the real-world web shape:
    progressive 4:2:0 color streams decode through content sniffing."""
    from heatmap_spark.operators.multimodal import decode_real, jpeg_encode

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, size=(8, 8, 3), dtype=np.int64).astype(np.uint8)
    px = np.repeat(np.repeat(base, 2, axis=0), 2, axis=1)
    img = decode_real(jpeg_encode(px, subsampling="4:2:0", progressive=True))
    assert img["kind"] == "image"
    assert (img["height"], img["width"], img["channels"]) == (16, 16, 3)
    assert np.abs(
        img["pixels"].astype(np.int64) - px.astype(np.int64)
    ).max() <= 3


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=6),
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    rgb=st.booleans(),
    fps=st.sampled_from([1, 10, 30]),
)
@example(n=1, h=8, w=17, seed=16892, rgb=True, fps=1)  # jpeg diff-4 tail
def test_avi_mjpeg_roundtrip(n, h, w, seed, rgb, fps):
    """AVI/MJPEG container round trip: frame count, fps (rate/scale),
    header dims, and per-frame pixels within the JPEG unit-quant bound
    — arbitrary shapes including odd-length JPEG chunks (exercising
    RIFF even-padding)."""
    from heatmap_spark.operators.multimodal import (
        avi_decode,
        avi_encode,
        avi_frame_blobs,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    frames = [
        rng.integers(0, 256, size=shape, dtype=np.int64).astype(np.uint8)
        for _ in range(n)
    ]
    blob = avi_encode(frames, fps=fps)
    got_fps, out = avi_decode(blob)
    assert got_fps == fps and len(out) == n
    for a, b in zip(frames, out):
        # same unit-quant tail as the plain jpeg roundtrip: RGB hits 4
        assert np.abs(
            a.astype(np.int64) - b.reshape(a.shape).astype(np.int64)
        ).max() <= (5 if rgb else 1)
    fps2, ww, hh, blobs = avi_frame_blobs(blob)
    assert (fps2, ww, hh, len(blobs)) == (fps, w, h, n)


def test_avi_carries_progressive_subsampled_jpeg_frames():
    """Every JPEG mode flows through the container: progressive 4:2:0
    color frames decode from the AVI path within the codec bound."""
    from heatmap_spark.operators.multimodal import avi_decode, avi_encode

    rng = np.random.default_rng(5)
    base = [
        rng.integers(0, 256, size=(8, 8, 3), dtype=np.int64).astype(np.uint8)
        for _ in range(3)
    ]
    frames = [np.repeat(np.repeat(b, 2, axis=0), 2, axis=1) for b in base]
    fps, out = avi_decode(
        avi_encode(frames, fps=5, subsampling="4:2:0", progressive=True)
    )
    assert fps == 5 and len(out) == 3
    for a, b in zip(frames, out):
        assert np.abs(a.astype(np.int64) - b.astype(np.int64)).max() <= 3


def test_avi_rejects_corrupt_and_inconsistent():
    import struct

    import pytest

    from heatmap_spark.operators.multimodal import (
        avi_decode,
        avi_encode,
        avi_frame_blobs,
    )

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    blob = avi_encode([px, px], fps=10)
    with pytest.raises(ValueError, match="RIFF"):
        avi_frame_blobs(b"not an avi at all")
    with pytest.raises(ValueError, match="RIFF"):
        avi_frame_blobs(b"RIFF\x04\x00\x00\x00WAVE")  # wrong form type
    with pytest.raises(ValueError, match="truncated"):
        avi_frame_blobs(blob[: len(blob) // 2])
    # idx1 count disagreeing with movi must refuse (silent frame loss
    # is the classic AVI corruption mode)
    i = blob.index(b"idx1")
    (ln,) = struct.unpack("<I", blob[i + 4 : i + 8])
    bad = blob[: i + 4] + struct.pack("<I", ln - 16) + blob[i + 8 : i + 8 + ln - 16]
    # fix the RIFF size for the shortened file
    bad = b"RIFF" + struct.pack("<I", len(bad) - 8) + bad[8:]
    with pytest.raises(ValueError, match="idx1"):
        avi_frame_blobs(bad)
    # encoder guards
    with pytest.raises(ValueError, match="at least one"):
        avi_encode([], fps=10)
    with pytest.raises(ValueError, match="one shape"):
        avi_encode([px, px[:4]], fps=10)
    with pytest.raises(ValueError, match="fps"):
        avi_encode([px], fps=0)


def test_jpeg_quality_knob_rate_distortion():
    """quality=1..100 scales the Annex K tables on the IJG curve:
    file size grows monotonically with quality, reconstruction error
    shrinks, the stream carries TWO quant tables (separate chroma),
    and quality/progressive/subsampled combinations stay bit-identical
    between scan orders."""
    import pytest

    from heatmap_spark.operators.multimodal import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(2)
    base = rng.integers(0, 256, size=(64, 64, 3), dtype=np.int64).astype(np.float64)
    for _ in range(3):  # smooth the noise into a natural-ish image
        base = (base + np.roll(base, 1, 0) + np.roll(base, 1, 1)) / 3
    px = np.clip(base, 0, 255).astype(np.uint8)
    sizes, errs = {}, {}
    for q in (10, 50, 90):
        blob = jpeg_encode(px, quality=q, subsampling="4:2:0")
        _, _, _, out = jpeg_decode(blob)
        sizes[q] = len(blob)
        errs[q] = np.abs(out.astype(np.int64) - px.astype(np.int64)).mean()
    assert sizes[10] < sizes[50] < sizes[90]
    assert errs[10] > errs[50] > errs[90]
    blob = jpeg_encode(px, quality=50)
    assert blob.count(b"\xff\xdb") == 2  # separate luma/chroma DQTs
    for q in (25, 85):
        b = jpeg_decode(jpeg_encode(px, quality=q, subsampling="4:2:0"))
        p = jpeg_decode(
            jpeg_encode(px, quality=q, subsampling="4:2:0", progressive=True)
        )
        assert np.array_equal(b[3], p[3])
    with pytest.raises(ValueError, match="1-100"):
        jpeg_encode(px, quality=0)
    with pytest.raises(ValueError, match="not both"):
        jpeg_encode(px, quality=50, quant=np.ones((8, 8), dtype=np.int64))


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=32),
    ncolors=st.integers(min_value=1, max_value=256),
    n_frames=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    interlace=st.booleans(),
)
def test_gif_roundtrip_identity(h, w, ncolors, n_frames, seed, interlace):
    """GIF round trip is EXACT (palette indices are lossless): frames,
    delays, dims, and RGB pixels — across palette sizes (1-256, so
    every LZW minimum code size), interlace, and animation."""
    from heatmap_spark.operators.multimodal import gif_decode, gif_encode

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(ncolors, 3), dtype=np.int64).astype(np.uint8)
    frames = [
        rng.integers(0, ncolors, size=(h, w), dtype=np.int64).astype(np.uint8)
        for _ in range(n_frames)
    ]
    delays = [int(rng.integers(0, 500)) for _ in range(n_frames)]
    hh, ww, out, dl = gif_decode(
        gif_encode(frames, pal, delays=delays, interlace=interlace)
    )
    assert (hh, ww, len(out)) == (h, w, n_frames)
    assert dl == delays
    for f, o in zip(frames, out):
        assert np.array_equal(o, pal[f])


def test_gif_decode_matches_hand_assembled_spec_stream():
    """One-sided oracle for the GIF LZW decoder: a 2x2 single-color
    image's code stream (CLEAR, 1, 6, 1, EOI at width 3) is packed BY
    HAND per the spec's LSB-first sub-block rules into the exact bytes
    [140, 83], so a decoder bug cannot hide behind a matching
    encoder."""
    import struct

    from heatmap_spark.operators.multimodal import gif_decode

    pal = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    blob = (
        b"GIF89a"
        + struct.pack("<HH", 2, 2)
        + bytes([0x81, 0, 0])  # GCT present, 4 entries; bg 0
        + pal
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2) + b"\x00"
        + bytes([2])              # LZW minimum code size
        + bytes([2, 140, 83, 0])  # codes 4,1,6,1,5 @3 bits, LSB-first
        + b"\x3b"
    )
    h, w, frames, delays = gif_decode(blob)
    assert (h, w, len(frames)) == (2, 2, 1)
    assert np.array_equal(frames[0], np.full((2, 2, 3), [40, 50, 60], np.uint8))


def test_gif_decoder_only_features_via_independent_encoder():
    """Frame rects, disposal 2 (restore to background), transparency,
    and a local color table — features our encoder never emits — fed
    from an INDEPENDENT in-test LZW encoder (the degenerate all-root-
    codes form: CLEAR before every symbol keeps the width fixed, legal
    per the spec), so decoder compositing is pinned without trusting
    the library encoder."""
    import struct

    from heatmap_spark.operators.multimodal import gif_decode

    def lzw_roots(symbols, min_code):
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        cs = min_code + 1
        acc = nbits = 0
        out = bytearray()

        def emit(c):
            nonlocal acc, nbits
            acc |= c << nbits
            nbits += cs
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        for s in symbols:
            emit(clear)
            emit(int(s))
        emit(eoi)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    def blocks(payload):
        b = bytearray()
        for i in range(0, len(payload), 255):
            c = payload[i : i + 255]
            b.append(len(c))
            b += c
        b.append(0)
        return bytes(b)

    gct = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])  # K R G B
    lct = bytes([9, 9, 9, 200, 200, 200])  # frame-local 2-entry table
    # frame 1: full 4x4 canvas of index 1 (red), disposal 2
    f1 = lzw_roots([1] * 16, 2)
    # frame 2: rect (1,1,2x2) with LOCAL table, pattern [0,1,1,0],
    # transparency index 0 → only the two 1s (light grey) composite
    f2 = lzw_roots([0, 1, 1, 0], 2)
    blob = (
        b"GIF89a" + struct.pack("<HH", 4, 4) + bytes([0x81, 0, 0]) + gct
        + b"\x21\xf9\x04" + bytes([0x08]) + struct.pack("<H", 7)
        + bytes([0]) + b"\x00"  # disposal 2, delay 7, no transparency
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4) + b"\x00"
        + bytes([2]) + blocks(f1)
        + b"\x21\xf9\x04" + bytes([0x01]) + struct.pack("<H", 9)
        + bytes([0]) + b"\x00"  # no disposal, delay 9, transparent idx 0
        + b"\x2c" + struct.pack("<HHHH", 1, 1, 2, 2) + bytes([0x80])
        + lct
        + bytes([2]) + blocks(f2)
        + b"\x3b"
    )
    h, w, frames, delays = gif_decode(blob)
    assert (h, w, len(frames), delays) == (4, 4, 2, [7, 9])
    assert np.array_equal(frames[0], np.full((4, 4, 3), [255, 0, 0], np.uint8))
    # after disposal 2 the canvas restored to bg (gct index 0 = BLACK);
    # frame 2 paints light grey at (1,2) and (2,1) only — compositing
    # is in RGB (ADVICE r8), so untouched cells keep the background's
    # GLOBAL-table color, never a re-map through the frame's local
    # table (the old index-canvas bug rendered them as lct[0])
    exp = np.zeros((4, 4, 3), np.uint8)
    exp[1, 2] = [200, 200, 200]
    exp[2, 1] = [200, 200, 200]
    assert np.array_equal(frames[1], exp), frames[1].tolist()


def test_gif_earlier_frame_pixels_survive_a_different_local_table():
    """The ADVICE-r8 compositing bug, isolated: with NO disposal, a
    later frame with its own local color table must leave earlier
    frames' pixels in their ORIGINAL colors — the index-canvas decoder
    re-mapped them through the new frame's table (red became yellow
    here).  Hand-assembled stream, degenerate all-root-codes LZW."""
    import struct

    from heatmap_spark.operators.multimodal import gif_decode

    def lzw_roots(symbols, min_code):
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        cs = min_code + 1
        acc = nbits = 0
        out = bytearray()

        def emit(c):
            nonlocal acc, nbits
            acc |= c << nbits
            nbits += cs
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        for s in symbols:
            emit(clear)
            emit(int(s))
        emit(eoi)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    def blocks(payload):
        b = bytearray()
        for i in range(0, len(payload), 255):
            c = payload[i : i + 255]
            b.append(len(c))
            b += c
        b.append(0)
        return bytes(b)

    gct = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])  # K R G B
    lct = bytes([0, 200, 200, 255, 255, 0])  # teal, yellow
    f1 = lzw_roots([1] * 16, 2)  # full canvas red, disposal 0
    f2 = lzw_roots([1, 1, 1, 1], 2)  # 2x2 yellow rect at (0,0), own LCT
    blob = (
        b"GIF89a" + struct.pack("<HH", 4, 4) + bytes([0x81, 0, 0]) + gct
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4) + b"\x00"
        + bytes([2]) + blocks(f1)
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2) + bytes([0x80]) + lct
        + bytes([2]) + blocks(f2)
        + b"\x3b"
    )
    h, w, frames, _delays = gif_decode(blob)
    assert (h, w, len(frames)) == (4, 4, 2)
    assert np.array_equal(frames[0], np.full((4, 4, 3), [255, 0, 0], np.uint8))
    exp = np.full((4, 4, 3), [255, 0, 0], np.uint8)  # red SURVIVES
    exp[0:2, 0:2] = [255, 255, 0]
    assert np.array_equal(frames[1], exp), frames[1].tolist()


def test_gif_rejects_corrupt():
    import pytest

    from heatmap_spark.operators.multimodal import gif_decode, gif_encode

    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    px = (np.arange(20, dtype=np.int64) % 2).astype(np.uint8).reshape(4, 5)
    blob = gif_encode(px, pal)
    with pytest.raises(ValueError, match="signature"):
        gif_decode(b"not a gif")
    with pytest.raises(ValueError):
        gif_decode(blob[: len(blob) // 2])
    with pytest.raises(ValueError, match="palette"):
        gif_encode(px + 7, pal)  # index outside the palette
    with pytest.raises(ValueError, match="at least one"):
        gif_encode([], pal)


def test_decode_real_sniffs_gif():
    from heatmap_spark.operators.multimodal import decode_real, gif_encode

    rng = np.random.default_rng(4)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.int64).astype(np.uint8)
    one = rng.integers(0, 8, size=(5, 6), dtype=np.int64).astype(np.uint8)
    img = decode_real(gif_encode(one, pal))
    assert img["kind"] == "image" and (img["height"], img["width"]) == (5, 6)
    assert np.array_equal(img["pixels"], pal[one])
    anim = decode_real(gif_encode([one, one], pal, delays=[3, 4]))
    assert anim["kind"] == "video" and anim["n_frames"] == 2
    assert anim["delays_cs"] == [3, 4]


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    paletted=st.booleans(),
)
def test_bmp_roundtrip_identity(h, w, seed, paletted):
    """BMP round trip is exact for 24-bit RGB and 8-bit paletted —
    across widths exercising every 4-byte row-padding residue."""
    from heatmap_spark.operators.multimodal import bmp_decode, bmp_encode

    rng = np.random.default_rng(seed)
    if paletted:
        pal = rng.integers(0, 256, size=(37, 3), dtype=np.int64).astype(np.uint8)
        idx = rng.integers(0, 37, size=(h, w), dtype=np.int64).astype(np.uint8)
        blob, exp = bmp_encode(idx, palette=pal), pal[idx]
    else:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64).astype(np.uint8)
        blob, exp = bmp_encode(px), px
    hh, ww, ch, out = bmp_decode(blob)
    assert (hh, ww, ch) == (h, w, 3)
    assert np.array_equal(out, exp)


def test_bmp_decoder_only_features():
    """Top-down row order and RLE8 compression — shapes our encoder
    never emits — hand-assembled from the DIB spec: runs, absolute
    mode with its word-alignment pad, end-of-line, delta skip, and
    end-of-bitmap."""
    import struct

    import pytest

    from heatmap_spark.operators.multimodal import bmp_decode, bmp_encode

    # top-down 24-bit: negate the height, rows in natural order
    px = (np.arange(2 * 3 * 3, dtype=np.int64) % 256).astype(np.uint8).reshape(2, 3, 3)
    blob = bytearray(bmp_encode(px))
    h_neg = struct.pack("<i", -2)
    blob[22:26] = h_neg
    # re-emit rows top-down: swap the two padded rows in the body
    (off,) = struct.unpack("<I", bytes(blob[10:14]))
    stride = (3 * 3 + 3) // 4 * 4
    r0 = bytes(blob[off : off + stride])
    r1 = bytes(blob[off + stride : off + 2 * stride])
    blob[off : off + 2 * stride] = r1 + r0
    hh, ww, ch, out = bmp_decode(bytes(blob))
    assert np.array_equal(out, px)

    # RLE8 4x6: row0 = run 4x idx1 + eol padding? build precisely:
    # row y=0 (bottom): run(4,1), literal [2,3,4] absolute (pad byte),
    # eol; row 1: delta skip (2,0) then run(4,5)... keep simple:
    pal = np.zeros((8, 3), dtype=np.uint8)
    pal[:] = np.arange(8, dtype=np.uint8)[:, None] * 30
    quads = b"".join(bytes([int(b), int(g), int(r), 0]) for r, g, b in pal)
    w, h = 7, 2
    off = 14 + 40 + len(quads)
    # bottom row: run of 4, then a 3-literal absolute block (odd count
    # carries a word-alignment pad byte), end of line; top row: run of
    # 2, a (3,0) delta skip, run of 2, end of bitmap
    rle_ok = (
        bytes([4, 1])
        + bytes([0, 3, 2, 3, 4, 0])
        + bytes([0, 0])
        + bytes([2, 6])
        + bytes([0, 2, 3, 0])
        + bytes([2, 7])
        + bytes([0, 1])
    )
    hdr = b"BM" + struct.pack("<IHHI", off + len(rle_ok), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(rle_ok), 0, 0, 8, 0)
    hh, ww, ch, out = bmp_decode(hdr + info + quads + rle_ok)
    assert (hh, ww, ch) == (2, 7, 3)
    exp_idx = np.zeros((2, 7), dtype=np.int64)
    exp_idx[1] = [1, 1, 1, 1, 2, 3, 4]     # bottom row
    exp_idx[0] = [6, 6, 0, 0, 0, 7, 7]     # top row: run, delta gap, run
    assert np.array_equal(out, pal[exp_idx])

    # a run overflowing the row width refuses
    rle_bad = bytes([8, 1]) + bytes([0, 1])
    hdr_bad = b"BM" + struct.pack("<IHHI", off + len(rle_bad), 0, 0, off)
    info_bad = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(rle_bad), 0, 0, 8, 0)
    with pytest.raises(ValueError, match="overflow"):
        bmp_decode(hdr_bad + info_bad + quads + rle_bad)


def test_bmp_rejects_unsupported_and_sniffs():
    import struct

    import pytest

    from heatmap_spark.operators.multimodal import (
        bmp_decode,
        bmp_encode,
        decode_real,
    )

    px = (np.arange(27, dtype=np.int64) % 256).astype(np.uint8).reshape(3, 3, 3)
    blob = bytearray(bmp_encode(px))
    with pytest.raises(ValueError, match="signature"):
        bmp_decode(b"not a bmp")
    with pytest.raises(ValueError):
        bmp_decode(bytes(blob[:30]))
    b32 = bytearray(blob)
    b32[28:30] = struct.pack("<H", 32)
    with pytest.raises(ValueError, match="24-bit"):
        bmp_decode(bytes(b32))
    img = decode_real(bytes(blob))
    assert img["kind"] == "image" and np.array_equal(img["pixels"], px)
