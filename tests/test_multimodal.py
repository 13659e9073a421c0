"""Multimodal plumbing tests: binary payload schema, Arrow-batched
decode stub, frame sampling — real Spark plumbing, stubbed codecs."""

import pytest

from heatmap_spark.operators import multimodal as M


def test_media_table_schema(spark, sf_smoke):
    media = M.media_table(spark, sf_smoke)
    fields = {f.name: f.dataType.simpleString() for f in media.schema.fields}
    assert fields == {
        "doc_id": "bigint",
        "media_type": "string",
        "n_bytes": "int",
        "payload": "binary",
    }
    row = media.orderBy("doc_id").first()
    assert isinstance(row.payload, (bytes, bytearray)) and len(row.payload) == row.n_bytes


def test_decode_stub_features(spark, sf_smoke):
    media = M.media_table(spark, sf_smoke)
    feats = M.decode_stub_features(media)
    rows = {r.doc_id: r for r in feats.collect()}
    raw = {r.doc_id: r for r in media.collect()}
    assert rows.keys() == raw.keys()
    for doc_id, r in list(rows.items())[:20]:
        payload = raw[doc_id].payload
        assert r.byte_min == min(payload)
        assert r.byte_max == max(payload)
        assert abs(r.byte_mean - sum(payload) / len(payload)) < 1e-9
        assert r.fake_width == (len(payload) % 64) + 1


def test_decode_real_sniffs_native_formats_and_gates_the_rest(spark):
    import numpy as np

    # unknown container + no external codec → clean gate
    with pytest.raises(NotImplementedError):
        M.decode_real(b"\x00\x01")
    # PNG and WAV decode for real, no external library
    px = (np.arange(12, dtype=np.uint8)).reshape(3, 4)
    img = M.decode_real(M.png_encode(px))
    assert img["kind"] == "image" and (img["height"], img["width"]) == (3, 4)
    assert np.array_equal(img["pixels"], px)
    pcm = np.array([5, -5, 300], dtype=np.int16)
    aud = M.decode_real(M.wav_encode(pcm, sample_rate=8000))
    assert aud["kind"] == "audio" and aud["sample_rate"] == 8000
    assert np.array_equal(aud["samples"], pcm)


def test_sample_frames_covers_payload(spark, sf_smoke):
    media = M.media_table(spark, sf_smoke)
    frames = M.sample_frames(media, n_frames=4)
    per_doc = {}
    for r in frames.collect():
        per_doc.setdefault(r.doc_id, {})[r.frame_idx] = bytes(r.frame_bytes)
    raw = {r.doc_id: bytes(r.payload) for r in media.collect()}
    assert per_doc.keys() == raw.keys()
    for doc_id, fr in per_doc.items():
        assert set(fr.keys()) == {0, 1, 2, 3}
        # concatenated frames reassemble the original payload
        assert b"".join(fr[i] for i in range(4)) == raw[doc_id]


def test_resize_media_matches_python_reference(spark, sf_smoke):
    """The nearest-neighbor resize must reproduce a per-row Python
    reference exactly (buffer bytes, not just shape), and every
    thumbnail is out_h*out_w bytes."""
    import numpy as np
    from pyspark.sql import functions as F

    from heatmap_spark.operators.multimodal import media_table, resize_media

    media = media_table(spark, sf_smoke).limit(40)
    rows = media.select("doc_id", "payload").collect()
    got = {
        r["doc_id"]: bytes(r["resized"])
        for r in resize_media(media).collect()
    }
    assert all(len(v) == 256 for v in got.values())
    for r in rows:
        buf = np.frombuffer(bytes(r["payload"]), dtype=np.uint8)
        L = len(buf)
        w, h = (L % 64) + 1, (L % 48) + 1
        want = bytes(
            buf[(((rr * h) // 16) * w + ((cc * w) // 16)) % L]
            for rr in range(16)
            for cc in range(16)
        )
        assert got[r["doc_id"]] == want


def test_png_codec_roundtrip_all_filters():
    """Encode→decode is the identity for grids tall enough to use all
    five scanline filters, including single-pixel and extreme-value
    images; corrupted bytes are rejected by CRC."""
    import numpy as np
    import pytest

    from heatmap_spark.operators.multimodal import png_decode, png_encode

    cases = [
        ((np.arange(7 * 11).reshape(7, 11) * 3) % 256).astype(np.uint8),
        np.zeros((1, 1), dtype=np.uint8),
        np.full((6, 2), 255, dtype=np.uint8),
        ((np.arange(10)[:, None] * 31 + np.arange(64)[None, :] * 7) % 256).astype(
            np.uint8
        ),
    ]
    for px in cases:
        data = png_encode(px)
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        h, w, _, _, out = png_decode(data)
        assert (h, w) == px.shape
        assert np.array_equal(out, px)

    good = png_encode(cases[0])
    bad = bytearray(good)
    bad[40] ^= 0xFF  # flip a byte inside a chunk payload
    with pytest.raises(ValueError, match="CRC|signature|mismatch"):
        png_decode(bytes(bad))


def test_png_decode_query_matches_python_reference(spark, sf_smoke):
    """The Spark decode operator reproduces the raster a direct Python
    round trip produces for every document."""
    import hashlib

    from heatmap_spark.operators.multimodal import media_decode_png
    from heatmap_spark.sources.tables import load_table

    got = {
        r["doc_id"]: r for r in media_decode_png(spark, sf_smoke).collect()
    }
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs)
    for r in docs:
        buf = r["text"].encode("utf-8")
        L = len(buf)
        w = (L % 64) + 1
        h = max(1, -(-L // w))
        padded = buf + b" " * (h * w - L)
        g = got[r["doc_id"]]
        assert (g["width"], g["height"]) == (w, h)
        assert g["pixel_sum"] == sum(padded)
        assert g["pixel_md5"] == hashlib.md5(padded).hexdigest()


def test_wav_codec_roundtrip_and_validation():
    """WAV encode→decode is the identity on int16 samples (including
    negative values and odd lengths — word-aligned chunk walk);
    malformed containers are rejected."""
    import numpy as np
    import pytest

    from heatmap_spark.operators.multimodal import wav_decode, wav_encode

    for samples in [
        np.array([0, 1, -1, 32767, -32768, 123], dtype=np.int16),
        np.arange(101, dtype=np.int16) - 50,
        np.array([], dtype=np.int16),
    ]:
        rate, out = wav_decode(wav_encode(samples, sample_rate=8000))
        assert rate == 8000
        assert np.array_equal(out, samples)

    good = bytearray(wav_encode(np.array([1, 2, 3], dtype=np.int16)))
    with pytest.raises(ValueError, match="RIFF"):
        wav_decode(b"JUNK" + bytes(good[4:]))
    bad = bytearray(good)
    bad[4] ^= 0xFF  # corrupt the RIFF length
    with pytest.raises(ValueError, match="length"):
        wav_decode(bytes(bad))


def test_media_phash_robust_to_noise_and_discriminative(spark, sf_smoke):
    """aHash invariants: a 1-pixel perturbation changes at most a few
    of the 64 bits (near-dup detection works), and the output bits are
    the exact block-average/threshold of the padded text raster."""
    import numpy as np

    from heatmap_spark.operators.multimodal import media_phash, png_encode, png_decode

    out = media_phash(spark, sf_smoke).localCheckpoint(eager=True)
    rows = out.collect()
    assert rows
    for r in rows:
        assert len(r["phash"]) == 64 and set(r["phash"]) <= {"0", "1"}
        assert r["n_set"] == r["phash"].count("1")
        assert r["height"] >= 8 and r["width"] >= 8

    def ahash(px):
        h, w = px.shape
        ri, ci = (8 * np.arange(h)) // h, (8 * np.arange(w)) // w
        sums = np.zeros((8, 8), dtype=np.int64)
        cnts = np.zeros((8, 8), dtype=np.int64)
        np.add.at(sums, (np.repeat(ri, w), np.tile(ci, h)), px.ravel().astype(np.int64))
        np.add.at(cnts, (np.repeat(ri, w), np.tile(ci, h)), 1)
        means = sums // cnts
        return (means > means.sum() // 64).ravel()

    rng = np.arange(40 * 40, dtype=np.int64)
    base = ((rng * 37) % 200 + 30).astype(np.uint8).reshape(40, 40)
    noisy = base.copy()
    noisy[3, 7] = 255  # one hot pixel
    h1, h2 = ahash(base), ahash(noisy)
    assert (h1 != h2).sum() <= 3
    # decode round-trip feeds the same raster the hash saw
    hh, ww, _, _, px = png_decode(png_encode(base))
    assert (np.asarray(px).reshape(hh, ww) == base).all()


def test_media_near_dup_banding_guarantee(spark, sf_smoke):
    """Banding (8 bands of 8 bits) is LOSSLESS for Hamming <= 7
    (pigeonhole: fewer mismatched bits than bands): brute-force all
    pairs of fingerprints and check every qualifying pair is found;
    every reported pair's Hamming is correct; no CartesianProduct in
    the plan."""
    from itertools import combinations

    from heatmap_spark.operators.multimodal import media_near_dup, media_phash
    from heatmap_spark.plans import plan_string

    out = media_near_dup(spark, sf_smoke)
    assert "CartesianProduct" not in plan_string(out, "simple")
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out.collect()}

    hashes = {
        r["doc_id"]: r["phash"] for r in media_phash(spark, sf_smoke).collect()
    }
    want = {}
    for a, b in combinations(sorted(hashes), 2):
        d = sum(x != y for x, y in zip(hashes[a], hashes[b]))
        if d <= 7:
            want[(a, b)] = d
    assert got == want


def test_adam7_palette_query_matches_python_reference(spark, sf_smoke):
    """The interlaced-palette Spark operator reproduces, for every
    document, the expanded RGB raster an independent Python palette
    expansion produces (no PNG involved on the reference side)."""
    import hashlib

    import numpy as np

    from heatmap_spark.operators.multimodal import media_decode_adam7
    from heatmap_spark.sources.tables import load_table

    got = {
        r["doc_id"]: r for r in media_decode_adam7(spark, sf_smoke).collect()
    }
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs)
    i64 = np.arange(64, dtype=np.int64)
    plte = np.stack([(i64 * 5) % 256, (i64 * 11) % 256, (i64 * 17) % 256], axis=1)
    for r in docs:
        buf = np.frombuffer(r["text"].encode("utf-8"), dtype=np.uint8)
        L = len(buf)
        w = (L % 24) + 1
        h = max(1, -(-L // w))
        idx = np.zeros(h * w, dtype=np.int64)
        idx[:L] = buf % 64
        vals = plte[idx].reshape(-1)
        g = got[r["doc_id"]]
        assert (g["width"], g["height"], g["channels"], g["depth"]) == (w, h, 3, 8)
        assert g["pixel_sum"] == int(vals.sum())
        expect_md5 = hashlib.md5(",".join(map(str, vals.tolist())).encode()).hexdigest()
        assert g["pixel_md5"] == expect_md5


def test_video_frame_sample_structure_and_pixels(spark, sf_smoke):
    """End-to-end video path: AVI fixture geometry matches the
    closed-form byte-length rule, sampling keeps exactly every 2nd
    frame, and a decoded sampled frame's pixels equal the deterministic
    raster slice of the document bytes (unit-quant gray JPEG: ±1)."""
    import numpy as np
    from pyspark.sql import functions as F

    from heatmap_spark.operators.multimodal import (
        avi_frame_blobs,
        avi_media_table,
        jpeg_decode,
        media_video_frames,
    )
    from heatmap_spark.sources.tables import load_table

    out = media_video_frames(spark, sf_smoke).localCheckpoint(eager=True)
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_smoke, "documents").select("doc_id", "text").collect()
    }
    rows = out.collect()
    assert rows
    seen = {}
    for r in rows:
        L = len(docs[r["doc_id"]].encode("utf-8"))
        assert r["width"] == (L % 24) + 8
        assert r["height"] == 8
        assert r["n_frames"] == (L % 5) + 2
        assert r["frame_idx"] % 2 == 0 and r["frame_idx"] < r["n_frames"]
        seen.setdefault(r["doc_id"], set()).add(r["frame_idx"])
    for doc_id, idxs in seen.items():
        nf = (len(docs[doc_id].encode("utf-8")) % 5) + 2
        assert idxs == set(range(0, nf, 2))
    # pixel check on one payload pulled through the real container
    media = avi_media_table(spark, sf_smoke).where(F.col("n_bytes") > 0).limit(1).collect()[0]
    buf = np.frombuffer(docs[media["doc_id"]].encode("utf-8"), dtype=np.uint8)
    L = len(buf)
    w, nf = (L % 24) + 8, (L % 5) + 2
    px = np.resize(buf, nf * 8 * w)
    _, _, _, blobs = avi_frame_blobs(bytes(media["avi"]))
    assert len(blobs) == nf
    for f in range(nf):
        hh, ww, ch, got = jpeg_decode(blobs[f])
        exp = px[f * 8 * w : (f + 1) * 8 * w].reshape(8, w)
        assert (hh, ww, ch) == (8, w, 1)
        assert np.abs(got.reshape(8, w).astype(np.int64) - exp.astype(np.int64)).max() <= 1


def test_decode_real_sniffs_avi_video():
    import numpy as np

    from heatmap_spark.operators.multimodal import avi_encode, decode_real

    rng = np.random.default_rng(9)
    frames = [
        rng.integers(0, 256, size=(8, 12), dtype=np.int64).astype(np.uint8)
        for _ in range(4)
    ]
    info = decode_real(avi_encode(frames, fps=25))
    assert info["kind"] == "video"
    assert (info["fps"], info["width"], info["height"], info["n_frames"]) == (
        25, 12, 8, 4,
    )
    for a, b in zip(frames, info["frames"]):
        assert np.abs(a.astype(np.int64) - b.reshape(a.shape).astype(np.int64)).max() <= 1


def test_avi_fps_from_strh_scale_rate_not_avih():
    """One-sided oracle for the stream-header parse (ADVICE r8: the
    'vids' check read fccHandler, so the branch never fired and fps
    always came from avih's microsecond fallback): patch a real AVI so
    avih usec-per-frame DISAGREES with strh dwScale/dwRate — fps must
    come from the stream header (the authoritative field; NTSC
    30000/1001 isn't even representable in integer usec) — and fall
    back to avih only when dwScale == 0."""
    import struct

    import numpy as np

    from heatmap_spark.operators.multimodal import avi_encode, avi_frame_blobs

    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, size=(8, 8), dtype=np.int64).astype(np.uint8)
              for _ in range(3)]
    data = bytearray(avi_encode(frames, fps=24))

    a = bytes(data).find(b"avih") + 8  # avih body: dwMicroSecPerFrame first
    s = bytes(data).find(b"vidsMJPG")  # strh body starts at fccType
    assert a > 7 and s > 0
    # NTSC film rate in strh, garbage-but-nonzero usec in avih
    data[s + 20 : s + 28] = struct.pack("<II", 1001, 30000)
    data[a : a + 4] = struct.pack("<I", 40000)  # would say 25 fps
    fps, w, h, blobs = avi_frame_blobs(bytes(data))
    assert (fps, w, h, len(blobs)) == (30000 // 1001, 8, 8, 3)

    # dwScale == 0 → avih microsecond fallback
    data[s + 20 : s + 28] = struct.pack("<II", 0, 30000)
    fps, _, _, _ = avi_frame_blobs(bytes(data))
    assert fps == 25


def test_media_ingest_dir_end_to_end(spark, sf_smoke, tmp_path):
    """Distributed file writer → binaryFile scan → content sniff:
    every document lands as exactly one real media file; the ingested
    metadata matches the closed-form geometry; a spot-checked image
    file's pixels round-trip the document bytes."""
    import numpy as np
    from pyspark.sql import functions as F

    from heatmap_spark.operators.multimodal import (
        media_ingest_dir,
        png_decode,
        write_media_dir,
    )
    from heatmap_spark.sources.tables import load_table

    d = str(tmp_path / "media")
    n = write_media_dir(spark, sf_smoke, d)
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_smoke, "documents").select("doc_id", "text").collect()
    }
    assert n == len(docs)
    out = {r["doc_id"]: r for r in media_ingest_dir(spark, d).collect()}
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        L = len(text.encode("utf-8"))
        r = out[doc_id]
        m = doc_id % 5
        if m == 0:
            w = (L % 64) + 1
            assert (r["kind"], r["width"], r["height"]) == (
                "image", w, max(1, -(-L // w)),
            )
            assert r["n_frames"] is None and r["n_samples"] is None
        elif m == 1:
            assert (r["kind"], r["n_samples"]) == ("audio", L)
            assert r["width"] is None and r["height"] is None
        elif m == 2:
            assert (r["kind"], r["width"], r["height"], r["n_frames"]) == (
                "video", (L % 24) + 8, 8, (L % 5) + 2,
            )
        elif m == 3:  # animated GIF
            assert (r["kind"], r["width"], r["height"], r["n_frames"]) == (
                "video", (L % 16) + 4, 4, (L % 3) + 2,
            )
        else:  # 24-bit BMP
            assert (r["kind"], r["width"], r["height"]) == (
                "image", (L % 10) + 2, 3,
            )
            assert r["n_frames"] is None and r["n_samples"] is None
    # pixel spot check: one PNG file carries the document bytes verbatim
    some = next(k for k in docs if k % 5 == 0 and len(docs[k]) > 0)
    blob = open(f"{d}/{some}.png", "rb").read()
    _, _, _, _, px = png_decode(blob)
    buf = np.frombuffer(docs[some].encode("utf-8"), dtype=np.uint8)
    assert np.array_equal(px.reshape(-1)[: len(buf)], buf)


def test_media_ingest_dir_names_an_unnumbered_file(spark, tmp_path):
    """A crawl file without a numeric ``<doc_id>.<ext>`` stem fails the
    ingest with a ValueError naming that file, not an AttributeError."""
    import numpy as np

    from heatmap_spark.operators.multimodal import media_ingest_dir, png_encode

    (tmp_path / "cat.png").write_bytes(png_encode(np.zeros((2, 2), np.uint8)))
    with pytest.raises(Exception, match=r"ValueError[\s\S]*cat\.png"):
        media_ingest_dir(spark, str(tmp_path)).collect()


def test_audio_features_match_python_signal_math(spark, sf_smoke):
    """Energy/peak/ZCR/RMS equal a pure-python replay over the raw
    byte values, and zcr is bounded by n_samples - 1."""
    import math

    from heatmap_spark.operators.multimodal import media_audio_features
    from heatmap_spark.sources.tables import load_table

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_smoke, "documents")
        .select("doc_id", "text")
        .limit(40)
        .collect()
    }
    rows = {
        r["doc_id"]: r
        for r in media_audio_features(spark, sf_smoke).collect()
        if r["doc_id"] in docs
    }
    assert set(rows) == set(docs)
    for doc_id, text in docs.items():
        s = list(text.encode("utf-8"))
        mu = sum(s) // len(s)
        d = [x - mu for x in s]
        energy = sum(x * x for x in d)
        zcr = sum(1 for a, b in zip(d, d[1:]) if a * b < 0)
        r = rows[doc_id]
        assert r["n_samples"] == len(s)
        assert r["mean_sample"] == mu
        assert r["energy"] == energy
        assert r["peak_dev"] == max(abs(x) for x in d)
        assert r["zcr"] == zcr
        assert r["zcr"] <= r["n_samples"] - 1
        assert r["rms"] == math.floor(math.sqrt(energy / len(s)) * 1e6) / 1e6
