"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct; decode / feature-extraction / resize / frame
sampling run as Arrow-batched ``mapInPandas`` operators so the payload
bytes never round-trip through row-at-a-time Python.

The codecs need no external library (PIL/librosa/ffmpeg): each is
written from its format spec in stdlib + numpy.  There is one PNG
codec (:func:`png_encode` / :func:`png_decode`: gray/RGB at depth
8/16, palette-8, sequential and Adam7, all five scanline filters,
CRC-checked chunks), plus JPEG (baseline + progressive), WAV,
AVI/MJPEG, GIF and BMP; :func:`decode_real` content-sniffs all six,
and ``decode_stub_features`` is the deterministic fake decode of the
stub media table.  Every documents-driven fixture and decode operator
runs through one per-document map (:func:`_per_doc`): one
Arrow-batched mapInPandas over the documents table with a closure per
document — the narrow boundary the ``kernel=`` swap points rely on.
Everything Spark-side — schema, batch iteration, partitioning,
explode of sampled frames — is real and tested
(tests/test_multimodal.py).

Throughput ceiling, measured (`scripts/scale_probe.py codec`): the
from-scratch Python T.81 kernel decodes ~2,300 MJPEG frames/s ≈
9.5 MPx/s across 32 local cores (20k 64×64 frames), with the decode
kernel at 88% of wall-clock and the binaryFile scan the other 12% —
so swapping the kernel body for PIL/libjpeg (~100× per-pixel) removes
essentially all of the compute and leaves the scan-bound floor; the
plan shape (split-planned binaryFile scan + map-only Arrow decode) is
already the one the native kernel keeps.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heatmap_spark.sources.tables import load_table

MEDIA_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, payload binary"
)

FEATURES_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, "
    "byte_mean double, byte_min int, byte_max int, fake_width int, fake_height int"
)

FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_bytes binary"


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a media-shaped table from the documents fixture: utf-8
    payload bytes standing in for encoded image/audio data."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("image/fake")).otherwise(
            F.lit("audio/fake")
        ).alias("media_type"),
        F.octet_length("text").alias("n_bytes"),
        F.encode("text", "utf-8").alias("payload"),
    )


def _per_doc(spark: SparkSession, sf_dir: str, schema: str, rows) -> DataFrame:
    """The one documents → per-document kernel map: one Arrow-batched
    mapInPandas over ``documents`` that calls ``rows(doc_id, buf)``
    with each document's utf-8 bytes (a uint8 ndarray) and emits the
    tuples it returns as rows of ``schema``.  ``rows`` must be a
    closure so cloudpickle ships it by value (see
    :func:`_decode_real_factory`)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cols = spark.createDataFrame([], schema).columns

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                buf = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
                out.extend(rows(int(doc_id), buf))
            yield pd.DataFrame.from_records(out, columns=cols)

    return docs.mapInPandas(batches, schema=schema)


def _digest_factory():
    """``sum_and_csv_md5(vals)`` → (Σvals, md5 of the comma-joined
    decimal values): the byte-exact digest of a decoded integer raster
    or sample array that the DuckDB oracles replay.  A closure, so
    kernels that call it ship it by value."""

    def sum_and_csv_md5(vals):
        flat = np.asarray(vals).reshape(-1)
        csv = ",".join(map(str, flat.tolist()))
        return int(flat.sum(dtype="int64")), hashlib.md5(csv.encode()).hexdigest()

    return sum_and_csv_md5


_sum_and_csv_md5 = _digest_factory()


def _analytic_palette(a: int, b: int, c: int) -> np.ndarray:
    """The fixtures' 64-entry palette i → (a·i, b·i, c·i) mod 256."""
    i = np.arange(64, dtype=np.int64)
    return np.stack(
        [(i * a) % 256, (i * b) % 256, (i * c) % 256], axis=1
    ).astype(np.uint8)


def _decode_real_factory(png_dec, jdec, wdec, ablobs, gdec=None, bdec=None):
    """Builds the content-sniffing decoder as a CLOSURE over the codec
    functions (themselves closure products) so Spark kernels that
    capture it pickle it by value — a module-level def would pickle by
    reference and break in workers when the driver imports from a
    foreign cwd (the standing codec-pickling rule here).  Bound to the
    ``decode_real`` name after the codecs are defined below."""

    def decode_real(payload: bytes):
        """Best-effort real decode by content sniffing: PNG, JPEG
        (baseline + progressive, subsampled), WAV, AVI/MJPEG, GIF and
        BMP decode through the native stdlib codecs in this module (no
        external library); other container formats (MP3/MP4/WEBP/...)
        still require PIL/librosa/ffmpeg and raise until one is
        installed."""
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            h, w, ch, depth, px = png_dec(payload)
            return {
                "kind": "image",
                "height": h,
                "width": w,
                "channels": ch,
                "depth": depth,
                "pixels": px,
            }
        if payload[:2] == b"\xff\xd8":
            h, w, ch, px = jdec(payload)
            return {
                "kind": "image",
                "height": h,
                "width": w,
                "channels": ch,
                "depth": 8,
                "pixels": px,
            }
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            rate, pcm = wdec(payload)
            return {"kind": "audio", "sample_rate": rate, "samples": pcm}
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            fps, w, h, blobs = ablobs(payload)
            return {
                "kind": "video",
                "fps": fps,
                "width": w,
                "height": h,
                "n_frames": len(blobs),
                "frames": [jdec(b)[3] for b in blobs],
            }
        if bdec is not None and payload[:2] == b"BM":
            h, w, ch, px = bdec(payload)
            return {
                "kind": "image",
                "height": h,
                "width": w,
                "channels": ch,
                "depth": 8,
                "pixels": px,
            }
        if gdec is not None and payload[:6] in (b"GIF87a", b"GIF89a"):
            h, w, frames, delays = gdec(payload)
            if len(frames) == 1:
                return {
                    "kind": "image",
                    "height": h,
                    "width": w,
                    "channels": 3,
                    "depth": 8,
                    "pixels": frames[0],
                }
            return {
                "kind": "video",
                "fps": 0,
                "width": w,
                "height": h,
                "n_frames": len(frames),
                "frames": frames,
                "delays_cs": delays,
            }
        raise NotImplementedError(
            "payload is not PNG, JPEG, WAV, AVI, GIF, or BMP; other "
            "container formats need external codecs "
            "(PIL/librosa/ffmpeg) this module deliberately does not "
            "wrap — use decode_stub_features for the deterministic "
            "fake path"
        )

    return decode_real


def decode_stub_features(media: DataFrame) -> DataFrame:
    """Arrow-batched 'decode': per-payload byte statistics + fake
    dimensions derived deterministically from content length.

    The mapInPandas shape is exactly what a real decoder uses — swap
    the body for PIL/librosa and the plan is unchanged.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            # vectorized over the whole Arrow batch: concatenate every
            # payload into one uint8 buffer and reduce per-payload
            # segments via np.add/min/max.reduceat — no per-row Python
            lens = pdf["payload"].map(len).to_numpy(dtype=np.int64)
            total = int(lens.sum())
            buf = np.frombuffer(
                b"".join(pdf["payload"]), dtype=np.uint8, count=total
            )
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            nonempty = lens > 0
            sums = np.zeros(len(lens), dtype=np.float64)
            mins = np.zeros(len(lens), dtype=np.int64)
            maxs = np.zeros(len(lens), dtype=np.int64)
            if total and nonempty.any():
                ne_starts = starts[nonempty]
                sums[nonempty] = np.add.reduceat(
                    buf.astype(np.int64), ne_starts
                )
                mins[nonempty] = np.minimum.reduceat(buf, ne_starts)
                maxs[nonempty] = np.maximum.reduceat(buf, ne_starts)
            means = np.divide(
                sums, lens, out=np.zeros_like(sums), where=nonempty
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "byte_mean": means,
                    "byte_min": mins,
                    "byte_max": maxs,
                    "fake_width": (lens % 64) + 1,
                    "fake_height": (lens % 48) + 1,
                }
            )

    return media.mapInPandas(batches, schema=FEATURES_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """'Frame sampling': split each payload into n deterministic byte
    slices (stand-in for video frame extraction), one row per frame.

    Native-expression implementation — the explode happens JVM-side;
    only a real decoder would need mapInPandas here.
    """
    frame = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx")
    exploded = media.select("doc_id", "n_bytes", "payload", frame)
    return exploded.select(
        "doc_id",
        "frame_idx",
        F.expr(
            f"substring(payload, frame_idx * (CAST(n_bytes / {n_frames} AS INT) + 1) + 1, "
            f"CAST(n_bytes / {n_frames} AS INT) + 1)"
        ).alias("frame_bytes"),
    )


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media table → stubbed decode features (query-registry shape).

    Why no oracle can exist: the features come from a mapInPandas
    byte-statistics pass over BINARY payloads, and DuckDB has no
    per-byte aggregate over blobs — declared rows-only.  The exact
    semantics are pinned by pytest against the codec round-trip suite
    (tests/test_multimodal.py); in-query the driver row stays a live
    gate by RAISING on the feature envelope every real decode must
    satisfy: byte_min <= byte_mean <= byte_max, byte values in
    [0, 255], and the deterministic fake dimensions in their declared
    ranges (1..64 x 1..48).  The check is a count over the result —
    no collects."""
    out = decode_stub_features(media_table(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    bad = out.where(
        (F.col("byte_min") > F.col("byte_mean"))
        | (F.col("byte_mean") > F.col("byte_max"))
        | (F.col("byte_min") < 0)
        | (F.col("byte_max") > 255)
        | ~F.col("fake_width").between(1, 64)
        | ~F.col("fake_height").between(1, 48)
    ).count()
    if bad:
        raise AssertionError(
            f"decode_stub_features envelope (min<=mean<=max, bytes in "
            f"[0,255], fake dims in range) violated for {bad} row(s)"
        )
    return out


def media_frames(spark: SparkSession, sf_dir: str, n_frames: int = 4) -> DataFrame:
    """Frame sampling under the hash-match gate: each payload's byte
    slices are identified by their md5, so the slicing arithmetic
    (offsets, lengths, last-frame remainder) is verified value-for-
    value against DuckDB doing the same substring math — the payload
    bytes are ASCII here, making string-substr ≡ byte-substr."""
    frames = sample_frames(media_table(spark, sf_dir), n_frames)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame_bytes").alias("frame_len"),
        F.md5("frame_bytes").alias("frame_md5"),
    )


# ---------------------------------------------------------------------------
# PNG codec (stdlib-only: zlib + struct).  One codec for every mode the
# engine reads or writes: gray/RGB at depth 8/16, palette-8, and both
# interlace methods (sequential, Adam7); all five scanline filters.
# ---------------------------------------------------------------------------

def _png_codec():
    """(encode, decode) for PNG (RFC 2083) covering color type 0
    (grayscale) and 2 (RGB truecolor) at bit depths 8 and 16, color
    type 3 (palette, depth 8) with a PLTE chunk, and BOTH interlace
    methods (0 = sequential, 1 = Adam7) — CRC-checked chunk framing,
    byte-level filters with a bpp-stride 'left' per §6 (the encoder
    cycles filter type r % 5, so a decoder must invert all five), and
    seven independently-filtered reduced images per §8.5.  Nested for
    by-value pickling like every codec here.

    encode(pixels, palette=None, interlace=0): (h, w) → gray, (h, w,
    3) → RGB; uint8 → depth 8, uint16 → depth 16 (big-endian samples
    per the spec).  With ``palette`` (an (n≤256, 3) uint8 array),
    ``pixels`` is an (h, w) uint8 INDEX raster → color type 3.
    decode(data) → (height, width, channels, depth, ndarray); palette
    images come back EXPANDED to an (h, w, 3) uint8 raster (channels
    3) — the form every downstream feature/phash/resize kernel wants.
    """
    import struct
    import zlib as _z

    import numpy as np

    SIG = b"\x89PNG\r\n\x1a\n"
    # Adam7 pass grid: (x0, y0, dx, dy) per RFC 2083 §8.5
    ADAM7 = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", _z.crc32(tag + payload) & 0xFFFFFFFF)
        )

    def _row_bytes(px, depth):
        # (h, rb) int64 byte matrix, big-endian sample order
        h = px.shape[0]
        if depth == 8:
            return px.reshape(h, -1).astype(np.int64)
        hi = (px.reshape(h, -1) >> 8) & 0xFF
        lo = px.reshape(h, -1) & 0xFF
        out = np.empty((h, hi.shape[1] * 2), dtype=np.int64)
        out[:, 0::2] = hi
        out[:, 1::2] = lo
        return out

    def _shift(row, bpp):
        return np.concatenate((np.zeros(bpp, dtype=np.int64), row[:-bpp]))

    def _filter_block(rows, bpp):
        # One independently-filtered scanline block (the whole image,
        # or one Adam7 pass): prior starts at zero, filter type cycles
        # r % 5 to exercise all five.
        raw = bytearray()
        prior = np.zeros(rows.shape[1], dtype=np.int64)
        for r in range(rows.shape[0]):
            cur = rows[r]
            ft = r % 5
            left = _shift(cur, bpp)
            if ft == 0:
                filt = cur
            elif ft == 1:  # Sub
                filt = (cur - left) % 256
            elif ft == 2:  # Up
                filt = (cur - prior) % 256
            elif ft == 3:  # Average
                filt = (cur - (left + prior) // 2) % 256
            else:  # Paeth
                ul = _shift(prior, bpp)
                p = left + prior - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, ul)
                )
                filt = (cur - pred) % 256
            raw.append(ft)
            raw.extend(filt.astype(np.uint8).tobytes())
            prior = cur
        return raw

    def _unfilter_block(rows, bpp):
        # Inverse of _filter_block: (n, rb+1) uint8 → (n, rb) int64.
        n, rbp = rows.shape
        rb = rbp - 1
        out = np.zeros((n, rb), dtype=np.int64)
        prior = np.zeros(rb, dtype=np.int64)
        for r in range(n):
            ft, filt = int(rows[r, 0]), rows[r, 1:].astype(np.int64)
            if ft == 0:
                cur = filt
            elif ft == 2:
                cur = (filt + prior) % 256
            elif ft == 1:
                # recon[i] = filt[i] + recon[i-bpp]: independent
                # cumsum chains per byte offset mod bpp
                cur = np.empty(rb, dtype=np.int64)
                for o in range(bpp):
                    cur[o::bpp] = np.cumsum(filt[o::bpp]) % 256
            else:
                cur = np.zeros(rb, dtype=np.int64)
                for i in range(rb):
                    left = cur[i - bpp] if i >= bpp else 0
                    up = prior[i]
                    ul = prior[i - bpp] if i >= bpp else 0
                    if ft == 3:
                        pred = (left + up) // 2
                    else:  # Paeth
                        p = left + up - ul
                        pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                        pred = (
                            left
                            if pa <= pb and pa <= pc
                            else (up if pb <= pc else ul)
                        )
                    cur[i] = (filt[i] + pred) % 256
            out[r] = cur
            prior = cur
        return out

    def encode(pixels, palette=None, interlace: int = 0) -> bytes:
        px = np.asarray(pixels)
        plte = None
        if palette is not None:
            plte = np.asarray(palette)
            if (
                plte.dtype != np.uint8
                or plte.ndim != 2
                or plte.shape[1] != 3
                or not 1 <= plte.shape[0] <= 256
            ):
                raise ValueError("palette must be (n<=256, 3) uint8")
            if px.dtype != np.uint8 or px.ndim != 2:
                raise ValueError("palette pixels must be (h, w) uint8 indices")
            if px.size and int(px.max()) >= plte.shape[0]:
                raise ValueError("palette index out of range")
            depth, color, ch = 8, 3, 1
        elif px.dtype == np.uint8:
            depth = 8
        elif px.dtype == np.uint16:
            depth = 16
        else:
            raise ValueError("pixels must be uint8 (depth 8) or uint16 (16)")
        if plte is None:
            if px.ndim == 2:
                color, ch = 0, 1
            elif px.ndim == 3 and px.shape[2] == 3:
                color, ch = 2, 3
            else:
                raise ValueError("shape must be (h, w) gray or (h, w, 3) RGB")
        if interlace not in (0, 1):
            raise ValueError("interlace must be 0 (none) or 1 (Adam7)")
        h, w = px.shape[0], px.shape[1]
        bpp = ch * depth // 8
        raw = bytearray()
        if interlace == 0:
            raw = _filter_block(_row_bytes(px, depth), bpp)
        else:
            for x0, y0, dx, dy in ADAM7:
                sub = px[y0::dy, x0::dx]
                if sub.shape[0] == 0 or sub.shape[1] == 0:
                    continue  # empty pass emits nothing (§8.5)
                raw.extend(_filter_block(_row_bytes(sub, depth), bpp))
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        out = SIG + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte.tobytes())
        return out + chunk(b"IDAT", _z.compress(bytes(raw))) + chunk(b"IEND", b"")

    def decode(data: bytes):
        if data[:8] != SIG:
            raise ValueError("not a PNG: bad signature")
        pos, w = 8, None
        idat, plte = bytearray(), None
        while pos < len(data):
            if pos + 8 > len(data):
                raise ValueError("truncated chunk header")
            (ln,) = struct.unpack(">I", data[pos : pos + 4])
            tag = data[pos + 4 : pos + 8]
            if pos + 12 + ln > len(data):
                raise ValueError(f"truncated {tag!r} chunk")
            payload = data[pos + 8 : pos + 8 + ln]
            (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
            if _z.crc32(tag + payload) & 0xFFFFFFFF != crc:
                raise ValueError(f"bad CRC in {tag!r} chunk")
            if tag == b"IHDR":
                w, h, depth, color, comp, filt, ilace = struct.unpack(
                    ">IIBBBBB", payload
                )
                if comp or filt:
                    raise ValueError("bad compression/filter method")
                if ilace not in (0, 1):
                    raise ValueError("interlace must be 0 or Adam7")
                if color == 3:
                    if depth != 8:
                        raise ValueError("palette PNG supported at depth 8 only")
                elif depth not in (8, 16) or color not in (0, 2):
                    raise ValueError(
                        "only gray/RGB at depth 8/16 or palette-8 (got "
                        f"depth={depth}, color={color})"
                    )
            elif tag == b"PLTE":
                if ln % 3 or ln == 0 or ln > 768:
                    raise ValueError("bad PLTE length")
                plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
            elif tag == b"IDAT":
                idat.extend(payload)
            elif tag == b"IEND":
                break
            pos += 12 + ln
        if w is None:
            raise ValueError("missing IHDR")
        if not idat:
            raise ValueError("missing IDAT")
        ch = 1 if color in (0, 3) else 3
        bpp = ch * depth // 8
        raw = np.frombuffer(_z.decompress(bytes(idat)), dtype=np.uint8)
        if ilace == 0:
            rb = w * bpp
            if len(raw) != h * (rb + 1):
                raise ValueError("scanline payload length mismatch")
            samples = _unfilter_block(raw.reshape(h, rb + 1), bpp)
        else:
            full = np.zeros((h, w, bpp), dtype=np.int64)
            at = 0
            for x0, y0, dx, dy in ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                prb = pw * bpp
                block = raw[at : at + ph * (prb + 1)]
                if block.size != ph * (prb + 1):
                    raise ValueError("truncated Adam7 pass")
                at += ph * (prb + 1)
                rec = _unfilter_block(block.reshape(ph, prb + 1), bpp)
                full[y0::dy, x0::dx] = rec.reshape(ph, pw, bpp)
            if at != len(raw):
                raise ValueError("scanline payload length mismatch")
            samples = full.reshape(h, w * bpp)
        if depth == 8:
            px = samples.astype(np.uint8)
        else:
            px = (samples[:, 0::2] * 256 + samples[:, 1::2]).astype(np.uint16)
        px = px.reshape((h, w) if ch == 1 else (h, w, ch))
        if color == 3:
            if plte is None:
                raise ValueError("palette image missing PLTE")
            if px.size and int(px.max()) >= plte.shape[0]:
                raise ValueError("palette index out of range")
            px, ch = plte[px], 3
        return h, w, ch, depth, px

    return encode, decode


# module-level handles for direct use and tests; safe to capture inside
# mapInPandas kernels because they are closures (pickled by value)
png_encode, png_decode = _png_codec()


def _jpeg_codec():
    """JPEG (ITU-T T.81 / ISO 10918-1) (encode, decode) in stdlib +
    numpy — the last container format the engine gated on external
    libraries.  Nested for by-value pickling like every codec here.

    Decode scope: 8-bit baseline sequential DCT (SOF0) AND progressive
    DCT (SOF2 — spectral selection, successive approximation, EOB
    runs, DC/AC refinement scans per T.81 Annex G), grayscale or YCbCr
    with any sampling factors 1-4 whose ratio to the frame maximum is
    integral (4:4:4, 4:2:2, 4:2:0, 4:1:1, 4:4:0), interleaved and
    non-interleaved scans, restart intervals (DRI + RST0-7 with
    predictor/EOB-run reset and byte re-alignment at each boundary).
    Arithmetic-coded, hierarchical, lossless, 12-bit, and RGB-coded
    (Adobe APP14 transform=0 or non-1/2/3 component ids) streams raise
    cleanly.  Chroma upsampling is box replication — the exact inverse
    of the encoder's box-mean downsample on subsample-aligned-constant
    inputs; centers differ from libjpeg's "fancy" triangular filter by
    design (documented, not accidental).

    encode(pixels, quant=None, restart_interval=0,
    subsampling="4:4:4", progressive=False): (h, w) uint8 gray or
    (h, w, 3) uint8 RGB.  ``subsampling`` is "4:4:4" (all 1x1),
    "4:2:2" (Y 2x1), or "4:2:0" (Y 2x2; the overwhelming real-world
    web-JPEG shape) — ignored for grayscale.  ``progressive=True``
    emits an SOF2 stream with the scan script DC(Al=1) → DC refine →
    per-component AC 1-63 first(Al=1) → per-component AC refine(Al=0),
    exercising every progressive decode path (EOB runs across blocks,
    ZRL inside refinement, buffered correction bits).  The successive-
    approximation split is exact: a progressive stream decodes to
    BIT-IDENTICAL pixels vs the sequential stream of the same input
    and quant table (the coefficient stores converge to equality).

    Default quantization is ALL-ONES (maximum fidelity — the only loss
    is DCT coefficient rounding, plus the YCbCr round trip and any
    chroma subsampling for RGB); pass an (8, 8) integer array via
    ``quant``, or ``quality=1..100`` for real compression (T.81 Annex
    K example tables scaled on the IJG quality curve, separate
    luminance/chrominance tables in DQT slots 0/1).  Huffman tables are built PER SCAN from the actual
    symbol sets (uniform-length canonical codes, emitted in DHT) —
    T.81 mandates the decoder read tables from the stream, so Annex
    K's typical tables are an option, not a requirement.

    decode(data) → (height, width, channels, ndarray) with the array
    shaped (h, w) or (h, w, 3) uint8.

    JFIF color transform (round-half-up, clipped): Y = .299R + .587G
    + .114B; Cb/Cr centered at 128; inverse per the JFIF spec.
    """
    import struct
    import zlib as _z  # noqa: F401  (parity with sibling codecs)

    import numpy as np

    # ---- shared tables -------------------------------------------------
    def _zigzag():
        # anti-diagonal traversal: even diagonals run bottom-left →
        # top-right, odd ones the reverse (T.81 Figure A.6)
        order = []
        for s in range(15):
            cells = [(x, s - x) for x in range(max(0, s - 7), min(s, 7) + 1)]
            order.extend(cells if s % 2 else cells[::-1])
        return np.array([x * 8 + y for x, y in order], dtype=np.int64)

    ZZ = _zigzag()          # block index (row*8+col) per zigzag position
    UNZZ = np.argsort(ZZ)   # zigzag position per block index  # noqa: F841

    _c = np.cos(
        (2 * np.arange(8)[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16
    )
    DCT = _c * np.where(np.arange(8)[:, None] == 0, np.sqrt(1 / 8), 0.5)

    SUBSAMPLING = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}

    # T.81 Annex K.1/K.2 example quantization tables (natural order) —
    # the de-facto standard bases every encoder's quality knob scales
    K_LUM = np.array([
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ], dtype=np.int64)
    K_CHR = np.array([
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ], dtype=np.int64)

    def _quality_scaled(base, quality: int):
        # the IJG quality curve: 1-100 → linear table scaling
        scale = 5000 // quality if quality < 50 else 200 - 2 * quality
        return np.clip((base * scale + 50) // 100, 1, 255)

    def _cat(v: int) -> int:
        return int(abs(v)).bit_length()

    # ---- bit IO --------------------------------------------------------
    class _BitWriter:
        def __init__(self):
            self.out = bytearray()
            self.acc = 0
            self.n = 0

        def write(self, val: int, nbits: int):
            for i in range(nbits - 1, -1, -1):
                self.acc = (self.acc << 1) | ((val >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.out.append(self.acc)
                    if self.acc == 0xFF:
                        self.out.append(0x00)  # byte stuffing
                    self.acc, self.n = 0, 0

        def align(self):
            while self.n:
                self.write(1, 1)  # pad with 1s per spec

        def marker(self, m: int):
            # restart markers are raw (never byte-stuffed), byte-aligned
            self.align()
            self.out += bytes([0xFF, m])

        def flush(self):
            self.align()
            return bytes(self.out)

    class _BitReader:
        def __init__(self, data: bytes):
            self.data = data
            self.pos = 0
            self.acc = 0
            self.n = 0

        def bit(self) -> int:
            if self.n == 0:
                if self.pos >= len(self.data):
                    raise ValueError("entropy-coded segment truncated")
                b = self.data[self.pos]
                self.pos += 1
                if b == 0xFF:
                    if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                        raise ValueError("unexpected marker inside scan")
                    self.pos += 1  # skip stuffed zero
                self.acc, self.n = b, 8
            self.n -= 1
            return (self.acc >> self.n) & 1

        def bits(self, k: int) -> int:
            v = 0
            for _ in range(k):
                v = (v << 1) | self.bit()
            return v

        def restart(self):
            # byte-align (drop pad bits), then consume one RSTn marker
            self.n = 0
            if (
                self.pos + 1 >= len(self.data)
                or self.data[self.pos] != 0xFF
                or not 0xD0 <= self.data[self.pos + 1] <= 0xD7
            ):
                raise ValueError("expected restart marker")
            self.pos += 2

    # ---- Huffman helpers -------------------------------------------------
    def _amplitude(v: int, s: int) -> int:
        return v if v >= 0 else v + (1 << s) - 1

    def _uniform_table(symbols):
        # canonical table: every symbol at one length L with n < 2^L
        # (the all-ones code stays unused, T.81 C.2 convention)
        vals = sorted(symbols)
        L = max(2, (len(vals)).bit_length())
        if len(vals) >= (1 << L):
            L += 1
        bits = [0] * 17
        bits[L] = len(vals)
        codes = {v: (L, i) for i, v in enumerate(vals)}
        return bits, vals, codes

    def _dht(tc, th, bits, vals):
        payload = bytes([tc << 4 | th]) + bytes(bits[1:]) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload

    def _huff_map(bits, vals):
        code, vi, table = 0, 0, {}
        for ln in range(1, 17):
            for _ in range(bits[ln]):
                table[(ln, code)] = vals[vi]
                code += 1
                vi += 1
            code <<= 1
        return table

    def _read_huff(br, table):
        ln, code = 0, 0
        while ln < 16:
            code = (code << 1) | br.bit()
            ln += 1
            if (ln, code) in table:
                return table[(ln, code)]
        raise ValueError("invalid Huffman code in scan")

    def _extend(v, s):
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

    # ---- encoder -------------------------------------------------------
    def _comp_coeffs(plane, qz):
        # plane: level-shifted float64 with dims multiples of 8 →
        # (nbh, nbw, 64) quantized coefficients in ZIGZAG order (qz is
        # the quant table in zigzag order, as serialized in DQT)
        nbh, nbw = plane.shape[0] // 8, plane.shape[1] // 8
        blocks = (
            plane.reshape(nbh, 8, nbw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        )
        f = np.einsum("ij,bjk,lk->bil", DCT, blocks, DCT)
        zz = f.reshape(-1, 64)[:, ZZ]
        return np.round(zz / qz).astype(np.int64).reshape(nbh, nbw, 64)

    class _StatsSink:
        """Pass-1 sink: records which symbols each Huffman table must
        carry; raw bits and restart markers are no-ops."""

        def __init__(self):
            self.dc, self.ac = {}, {}

        def dc_sym(self, t, s):
            self.dc.setdefault(t, set()).add(s)

        def ac_sym(self, t, s):
            self.ac.setdefault(t, set()).add(s)

        def bits(self, v, n):
            pass

        def restart(self, i):
            pass

    class _CodeSink:
        """Pass-2 sink: Huffman-codes symbols into the bit writer."""

        def __init__(self, bw, dc_codes, ac_codes):
            self.bw, self.dc_codes, self.ac_codes = bw, dc_codes, ac_codes

        def dc_sym(self, t, s):
            ln, code = self.dc_codes[t][s]
            self.bw.write(code, ln)

        def ac_sym(self, t, s):
            ln, code = self.ac_codes[t][s]
            self.bw.write(code, ln)

        def bits(self, v, n):
            if n:
                self.bw.write(v, n)

        def restart(self, i):
            self.bw.marker(0xD0 + (i - 1) % 8)

    def _emit_sequential(units, coeffs, tb_of, sink, ri):
        # one full DC+AC pass over MCU units [(ci, by, bx), ...]
        preds = {}
        for mi, mcu in enumerate(units):
            if ri and mi and mi % ri == 0:
                sink.restart(mi // ri)
                preds = {}
            for ci, by, bx in mcu:
                tb = tb_of(ci)
                zz = coeffs[ci][by, bx]
                dc = int(zz[0])
                diff = dc - preds.get(ci, 0)
                preds[ci] = dc
                s = _cat(diff)
                sink.dc_sym(tb, s)
                sink.bits(_amplitude(diff, s), s)
                last = 0
                for k in range(63, 0, -1):
                    if zz[k]:
                        last = k
                        break
                run = 0
                for k in range(1, last + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        sink.ac_sym(tb, 0xF0)  # ZRL
                        run -= 16
                    s = _cat(v)
                    sink.ac_sym(tb, (run << 4) | s)
                    sink.bits(_amplitude(v, s), s)
                    run = 0
                if last < 63:
                    sink.ac_sym(tb, 0x00)  # EOB

    def _emit_dc_first(units, coeffs, al, sink, ri):
        preds = {}
        for mi, mcu in enumerate(units):
            if ri and mi and mi % ri == 0:
                sink.restart(mi // ri)
                preds = {}
            for ci, by, bx in mcu:
                # DC point transform is an ARITHMETIC shift (T.81
                # G.1.2.1) — floor division, unlike the AC transform
                v = int(coeffs[ci][by, bx, 0]) >> al
                diff = v - preds.get(ci, 0)
                preds[ci] = v
                s = _cat(diff)
                sink.dc_sym(0, s)
                sink.bits(_amplitude(diff, s), s)

    def _emit_dc_refine(units, coeffs, al, sink, ri):
        # DC refinement is raw bits, no Huffman coding (T.81 G.1.2.1)
        for mi, mcu in enumerate(units):
            if ri and mi and mi % ri == 0:
                sink.restart(mi // ri)
            for ci, by, bx in mcu:
                sink.bits((int(coeffs[ci][by, bx, 0]) >> al) & 1, 1)

    def _emit_ac_first(blocks, coeff, ss, se, al, sink, ri):
        # AC point transform truncates toward zero (sign-magnitude,
        # T.81 G.1.2.2); EOB runs accumulate across fully-zero bands
        eobrun = 0

        def flush():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                sink.ac_sym(0, r << 4)
                sink.bits(eobrun - (1 << r), r)
                eobrun = 0

        for bi, (by, bx) in enumerate(blocks):
            if ri and bi and bi % ri == 0:
                flush()
                sink.restart(bi // ri)
            zz = coeff[by, bx]
            va = []
            for k in range(ss, se + 1):
                c = int(zz[k])
                va.append((abs(c) >> al) * (1 if c >= 0 else -1))
            last = -1
            for i in range(len(va) - 1, -1, -1):
                if va[i]:
                    last = i
                    break
            if last < 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush()
                continue
            flush()
            run = 0
            for i in range(last + 1):
                v = va[i]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    sink.ac_sym(0, 0xF0)
                    run -= 16
                s = _cat(v)
                sink.ac_sym(0, (run << 4) | s)
                sink.bits(_amplitude(v, s), s)
                run = 0
            if last < se - ss:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush()
        flush()

    def _emit_ac_refine(blocks, coeff, ss, se, al, sink, ri):
        # T.81 G.1.2.3: newly-significant coefficients code as
        # (zero-history-run << 4) | 1 + sign bit; already-significant
        # ones contribute one correction bit apiece, attached to the
        # SYMBOL WHOSE ADVANCE SKIPS THEIR POSITION — a ZRL carries
        # only the bits inside its own 16-zero span (positions are
        # tagged with their zero count so multi-ZRL gaps split
        # correctly), and bits past the last newly-significant
        # coefficient buffer with the pending EOB run.
        eobrun = 0
        pending = []  # correction bits owed with the pending EOB run

        def flush():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                sink.ac_sym(0, r << 4)
                sink.bits(eobrun - (1 << r), r)
                for b in pending:
                    sink.bits(b, 1)
                pending.clear()
                eobrun = 0

        for bi, (by, bx) in enumerate(blocks):
            if ri and bi and bi % ri == 0:
                flush()
                sink.restart(bi // ri)
            zz = coeff[by, bx]
            mag, sgn = [], []
            for k in range(ss, se + 1):
                c = int(zz[k])
                mag.append(abs(c) >> al)
                sgn.append(1 if c >= 0 else 0)
            eob = -1
            for i in range(len(mag) - 1, -1, -1):
                if mag[i] == 1:  # newly significant at this precision
                    eob = i
                    break
            run = 0
            held = []  # (zeros_seen_before_position, correction_bit)
            for i in range(eob + 1):
                if mag[i] == 0:
                    run += 1
                elif mag[i] > 1:
                    held.append((run, mag[i] & 1))
                else:
                    nz = 0  # zeros consumed by ZRLs emitted for this gap
                    while run - nz > 15:
                        flush()
                        sink.ac_sym(0, 0xF0)
                        for z, b in held:
                            if nz <= z < nz + 16:
                                sink.bits(b, 1)
                        held = [(z, b) for z, b in held if z >= nz + 16]
                        nz += 16
                    flush()
                    sink.ac_sym(0, ((run - nz) << 4) | 1)
                    sink.bits(sgn[i], 1)
                    for _, b in held:
                        sink.bits(b, 1)
                    held = []
                    run = 0
            tail = [mag[i] & 1 for i in range(eob + 1, len(mag)) if mag[i] > 1]
            if run > 0 or held or tail or eob < len(mag) - 1:
                eobrun += 1
                pending.extend(b for _, b in held)
                pending.extend(tail)
                if eobrun == 0x7FFF:
                    flush()
        flush()

    def encode(
        pixels,
        quant=None,
        restart_interval: int = 0,
        subsampling: str = "4:4:4",
        progressive: bool = False,
        quality=None,
    ) -> bytes:
        px = np.asarray(pixels)
        if px.dtype != np.uint8 or px.ndim not in (2, 3):
            raise ValueError("pixels must be (h, w) or (h, w, 3) uint8")
        if not 0 <= restart_interval <= 65535:
            raise ValueError("restart_interval is 16-bit")
        if px.ndim == 3 and px.shape[2] != 3:
            raise ValueError("color pixels must have 3 channels")
        if subsampling not in SUBSAMPLING:
            raise ValueError("subsampling must be one of 4:4:4, 4:2:2, 4:2:0")
        if quality is not None:
            if quant is not None:
                raise ValueError("pass quant OR quality, not both")
            if not 1 <= int(quality) <= 100:
                raise ValueError("quality must be 1-100")
        h, w = px.shape[0], px.shape[1]
        if h == 0 or w == 0:
            raise ValueError("empty image")
        if h > 65535 or w > 65535:
            raise ValueError("SOF dimensions are 16-bit (max 65535)")
        gray = px.ndim == 2
        if quality is not None:
            # real compression: Annex K bases on the IJG quality curve,
            # separate luminance/chrominance tables (DQT 0/1)
            tabs = [_quality_scaled(K_LUM, int(quality))]
            if not gray:
                tabs.append(_quality_scaled(K_CHR, int(quality)))
        else:
            q = np.ones((8, 8), dtype=np.int64) if quant is None else np.asarray(
                quant, dtype=np.int64
            )
            if q.shape != (8, 8) or q.min() < 1 or q.max() > 255:
                raise ValueError("quant must be (8, 8) in [1, 255]")
            tabs = [q.reshape(-1)]
        qz_tabs = [t[ZZ] for t in tabs]

        def tq_of(ci):
            return 0 if (ci == 0 or len(tabs) == 1) else 1
        if gray:
            full = [px.astype(np.float64)]
        else:
            r, g, b = (px[..., i].astype(np.float64) for i in range(3))
            y = 0.299 * r + 0.587 * g + 0.114 * b
            cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
            cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
            full = [np.clip(np.floor(p + 0.5), 0, 255) for p in (y, cb, cr)]
        n_comp = len(full)
        sh, sv = (1, 1) if gray else SUBSAMPLING[subsampling]
        samp = [(sh, sv)] + [(1, 1)] * (n_comp - 1)
        hmax, vmax = sh, sv
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        ph, pw = mcuy * 8 * vmax, mcux * 8 * hmax
        coeffs = []
        for ci, p in enumerate(full):
            pp = np.empty((ph, pw))
            pp[:h, :w] = p
            pp[h:, :w] = p[-1:, :]          # edge-replicate pad
            pp[:, w:] = pp[:, w - 1 : w]
            hi, vi = samp[ci]
            fv, fh = vmax // vi, hmax // hi
            if fv > 1 or fh > 1:
                # box-mean downsample, round half up — the decoder's
                # box replication inverts this exactly on inputs that
                # are constant per fv x fh cell
                pp = pp.reshape(ph // fv, fv, pw // fh, fh).mean(axis=(1, 3))
                pp = np.floor(pp + 0.5)
            coeffs.append(_comp_coeffs(pp - 128.0, qz_tabs[tq_of(ci)]))
        # interleaved MCU traversal (Hi x Vi blocks per component, in
        # component order — T.81 A.2.3)
        units = []
        for my in range(mcuy):
            for mx in range(mcux):
                mcu = []
                for ci in range(n_comp):
                    hi, vi = samp[ci]
                    for v in range(vi):
                        for u in range(hi):
                            mcu.append((ci, my * vi + v, mx * hi + u))
                units.append(mcu)

        out = bytearray(b"\xff\xd8")  # SOI
        out += (
            b"\xff\xe0"
            + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        )
        for ti, t in enumerate(qz_tabs):
            out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti]) + bytes(
                int(v) for v in t
            )
        sof = struct.pack(">BHHB", 8, h, w, n_comp)
        for ci in range(n_comp):
            hi, vi = samp[ci]
            sof += bytes([ci + 1, hi << 4 | vi, tq_of(ci)])
        out += (b"\xff\xc2" if progressive else b"\xff\xc0") + struct.pack(
            ">H", len(sof) + 2
        ) + sof
        if restart_interval:
            out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

        if not progressive:
            def tb_of(ci):
                return 0 if ci == 0 else 1

            stats = _StatsSink()
            _emit_sequential(units, coeffs, tb_of, stats, restart_interval)
            dc_codes, ac_codes = {}, {}
            for tb in range(2 if n_comp == 3 else 1):
                dbits, dvals, dcd = _uniform_table(stats.dc.get(tb) or {0})
                abits, avals, acd = _uniform_table(stats.ac.get(tb) or {0})
                out += _dht(0, tb, dbits, dvals) + _dht(1, tb, abits, avals)
                dc_codes[tb], ac_codes[tb] = dcd, acd
            bw = _BitWriter()
            _emit_sequential(
                units, coeffs, tb_of, _CodeSink(bw, dc_codes, ac_codes),
                restart_interval,
            )
            sos = bytes([n_comp])
            for ci in range(n_comp):
                tb = tb_of(ci)
                sos += bytes([ci + 1, tb << 4 | tb])
            sos += b"\x00\x3f\x00"  # Ss, Se, AhAl
            out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
            out += bw.flush() + b"\xff\xd9"
            return bytes(out)

        # progressive scan script: coarse DC → DC refine → per-comp AC
        # first → per-comp AC refine.  AC scans are single-component
        # and NON-INTERLEAVED: they cover the component's own
        # ceil(px/8) block grid, never the MCU padding blocks
        # (T.81 A.2.2) — the padding's AC stays zero, which only
        # affects pixels the crop discards.
        def _ac_blocks(ci):
            hi, vi = samp[ci]
            cph = -(-(h * vi) // vmax)
            cpw = -(-(w * hi) // hmax)
            return [
                (by, bx)
                for by in range(-(-cph // 8))
                for bx in range(-(-cpw // 8))
            ]

        script = [("dc_first", None, 0, 0, 0, 1), ("dc_refine", None, 0, 0, 1, 0)]
        script += [("ac_first", ci, 1, 63, 0, 1) for ci in range(n_comp)]
        script += [("ac_refine", ci, 1, 63, 1, 0) for ci in range(n_comp)]
        for kind, ci, ss, se, ah, al in script:
            def run(sink, kind=kind, ci=ci, ss=ss, se=se, al=al):
                if kind == "dc_first":
                    _emit_dc_first(units, coeffs, al, sink, restart_interval)
                elif kind == "dc_refine":
                    _emit_dc_refine(units, coeffs, al, sink, restart_interval)
                elif kind == "ac_first":
                    _emit_ac_first(
                        _ac_blocks(ci), coeffs[ci], ss, se, al, sink,
                        restart_interval,
                    )
                else:
                    _emit_ac_refine(
                        _ac_blocks(ci), coeffs[ci], ss, se, al, sink,
                        restart_interval,
                    )

            stats = _StatsSink()
            run(stats)
            dc_codes, ac_codes = {}, {}
            if stats.dc:
                dbits, dvals, dcd = _uniform_table(stats.dc[0])
                out += _dht(0, 0, dbits, dvals)
                dc_codes[0] = dcd
            if stats.ac:
                abits, avals, acd = _uniform_table(stats.ac[0])
                out += _dht(1, 0, abits, avals)
                ac_codes[0] = acd
            bw = _BitWriter()
            run(_CodeSink(bw, dc_codes, ac_codes))
            comps_in_scan = range(n_comp) if ci is None else [ci]
            sos = bytes([len(list(comps_in_scan))])
            for c in comps_in_scan:
                sos += bytes([c + 1, 0x00])
            sos += bytes([ss, se, (ah << 4) | al])
            out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
            out += bw.flush()
        out += b"\xff\xd9"
        return bytes(out)

    # ---- decoder -------------------------------------------------------
    def decode(data: bytes):
        if data[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG: bad SOI")
        pos = 2
        qt = {}
        dc_tabs, ac_tabs = {}, {}
        restart_ri = 0
        frame = None        # (h, w, comps, progressive)
        geom = None         # (hmax, vmax, mcux, mcuy, {cid: info})
        adobe_transform = None  # APP14 color-transform declaration
        scans = 0

        def _decode_scan(br, ids, sel_by_id, ss, se, ah, al, progressive):
            hmax, vmax, mcux, mcuy, info = geom
            # interleaved scans traverse MCUs over the frame grid;
            # single-component scans traverse the component's own
            # ceil(px/8) block grid, raster order (T.81 A.2)
            if len(ids) > 1:
                units = []
                for my in range(mcuy):
                    for mx in range(mcux):
                        u = []
                        for cid in ids:
                            ci = info[cid]
                            hi, vi = ci["hi"], ci["vi"]
                            for v in range(vi):
                                for uu in range(hi):
                                    u.append((cid, my * vi + v, mx * hi + uu))
                        units.append(u)
            else:
                cbh, cbw = info[ids[0]]["blocks"]
                units = [
                    [(ids[0], by, bx)]
                    for by in range(cbh)
                    for bx in range(cbw)
                ]
            dc_of, ac_of = {}, {}
            for cid in ids:
                dc_of[cid] = dc_tabs.get(sel_by_id[cid] >> 4)
                ac_of[cid] = ac_tabs.get(sel_by_id[cid] & 0x0F)
                needs_dc = not progressive or (ss == 0 and ah == 0)
                needs_ac = not progressive or ss > 0
                if (needs_dc and dc_of[cid] is None) or (
                    needs_ac and ac_of[cid] is None
                ):
                    raise ValueError("scan references missing DHT")
            preds = {cid: 0 for cid in ids}
            eobrun = 0
            p1, m1 = 1 << al, -(1 << al)
            for ui, unit in enumerate(units):
                if restart_ri and ui and ui % restart_ri == 0:
                    br.restart()
                    preds = {cid: 0 for cid in ids}
                    eobrun = 0
                for cid, by, bx in unit:
                    coef = info[cid]["coef"][by, bx]
                    if not progressive:
                        s = _read_huff(br, dc_of[cid])
                        diff = _extend(br.bits(s), s) if s else 0
                        preds[cid] += diff
                        coef[0] = preds[cid]
                        k = 1
                        while k < 64:
                            sym = _read_huff(br, ac_of[cid])
                            if sym == 0x00:
                                break  # EOB
                            run, sz = sym >> 4, sym & 0x0F
                            if sz == 0:
                                if run != 15:
                                    raise ValueError("bad AC symbol")
                                k += 16  # ZRL
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("AC run overflows block")
                            coef[k] = _extend(br.bits(sz), sz)
                            k += 1
                    elif ss == 0 and ah == 0:  # DC first
                        s = _read_huff(br, dc_of[cid])
                        diff = _extend(br.bits(s), s) if s else 0
                        preds[cid] += diff
                        coef[0] = preds[cid] << al
                    elif ss == 0:  # DC refinement: one raw bit, no Huffman
                        if br.bit():
                            coef[0] |= p1
                    elif ah == 0:  # AC first (T.81 G.2.2)
                        if eobrun:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            sym = _read_huff(br, ac_of[cid])
                            run, sz = sym >> 4, sym & 0x0F
                            if sz == 0:
                                if run == 15:
                                    k += 16  # ZRL
                                    continue
                                eobrun = (1 << run) - 1
                                if run:
                                    eobrun += br.bits(run)
                                break
                            k += run
                            if k > se:
                                raise ValueError("AC run overflows band")
                            coef[k] = _extend(br.bits(sz), sz) << al
                            k += 1
                    else:  # AC refinement (T.81 G.2.2 / Figure G.7)
                        k = ss
                        if eobrun == 0:
                            while k <= se:
                                sym = _read_huff(br, ac_of[cid])
                                run, sz = sym >> 4, sym & 0x0F
                                newval = 0
                                if sz == 0:
                                    if run != 15:
                                        eobrun = 1 << run
                                        if run:
                                            eobrun += br.bits(run)
                                        break
                                    # run == 15: ZRL skips 16 ZERO-
                                    # HISTORY positions, refining the
                                    # nonzero ones passed on the way
                                elif sz == 1:
                                    newval = p1 if br.bit() else m1
                                else:
                                    raise ValueError(
                                        "refinement magnitude must be 1"
                                    )
                                while k <= se:
                                    if coef[k] != 0:
                                        if br.bit() and not (coef[k] & p1):
                                            coef[k] += (
                                                p1 if coef[k] >= 0 else m1
                                            )
                                    else:
                                        run -= 1
                                        if run < 0:
                                            break
                                    k += 1
                                if newval:
                                    if k > se:
                                        raise ValueError(
                                            "refinement run overflows band"
                                        )
                                    coef[k] = newval
                                k += 1
                        if eobrun:
                            # the rest of this block carries only
                            # correction bits for already-nonzero coefs
                            while k <= se:
                                if coef[k] != 0 and br.bit() and not (
                                    coef[k] & p1
                                ):
                                    coef[k] += p1 if coef[k] >= 0 else m1
                                k += 1
                            eobrun -= 1

        while pos < len(data):
            if data[pos] != 0xFF:
                raise ValueError("marker expected")
            if pos + 1 >= len(data):
                raise ValueError("truncated marker")
            m = data[pos + 1]
            if m == 0xFF:  # fill byte (B.1.1.2) — resync on next byte
                pos += 1
                continue
            pos += 2
            if m == 0xD9:  # EOI
                if scans == 0:
                    raise ValueError("no scan before EOI")
                break
            if m in (0x01,) or 0xD0 <= m <= 0xD7:
                continue  # standalone markers
            if pos + 2 > len(data):
                raise ValueError("truncated segment")
            (ln,) = struct.unpack(">H", data[pos : pos + 2])
            seg = data[pos + 2 : pos + ln]
            if len(seg) != ln - 2:
                raise ValueError("truncated segment")
            pos += ln
            if m == 0xDB:  # DQT
                at = 0
                while at < len(seg):
                    pq, tq = seg[at] >> 4, seg[at] & 0x0F
                    if pq:
                        raise ValueError("16-bit quant tables unsupported")
                    tbl = np.frombuffer(
                        seg[at + 1 : at + 65], dtype=np.uint8
                    ).astype(np.int64)
                    if tbl.size != 64:
                        raise ValueError("short DQT")
                    qt[tq] = tbl
                    at += 65
            elif m == 0xC4:  # DHT
                at = 0
                while at < len(seg):
                    tc, th = seg[at] >> 4, seg[at] & 0x0F
                    bits = [0] + list(seg[at + 1 : at + 17])
                    if len(bits) != 17:
                        raise ValueError("truncated DHT")
                    n = sum(bits)
                    vals = list(seg[at + 17 : at + 17 + n])
                    if len(vals) != n:
                        raise ValueError("DHT declares more codes than it carries")
                    (dc_tabs if tc == 0 else ac_tabs)[th] = _huff_map(bits, vals)
                    at += 17 + n
            elif m in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
                if len(seg) < 6:
                    raise ValueError("truncated SOF")
                prec, h, w, nf = struct.unpack(">BHHB", seg[:6])
                if len(seg) < 6 + nf * 3:
                    raise ValueError("truncated SOF components")
                if prec != 8:
                    raise ValueError("only 8-bit precision")
                if nf not in (1, 3):
                    raise ValueError("1 or 3 components only")
                comps = []
                for ci in range(nf):
                    cid, hv, tq = seg[6 + ci * 3 : 9 + ci * 3]
                    hi, vi = hv >> 4, hv & 0x0F
                    if not (1 <= hi <= 4 and 1 <= vi <= 4):
                        raise ValueError("sampling factors must be 1-4")
                    comps.append((cid, hi, vi, tq))
                hmax = max(hi for _, hi, _, _ in comps)
                vmax = max(vi for _, _, vi, _ in comps)
                for _, hi, vi, _ in comps:
                    if hmax % hi or vmax % vi:
                        raise ValueError(
                            "fractional chroma sampling ratios unsupported"
                        )
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                info = {}
                for cid, hi, vi, tq in comps:
                    cph = -(-(h * vi) // vmax)  # comp pixel dims (ceil)
                    cpw = -(-(w * hi) // hmax)
                    info[cid] = {
                        "hi": hi,
                        "vi": vi,
                        "tq": tq,
                        "px": (cph, cpw),
                        "blocks": (-(-cph // 8), -(-cpw // 8)),
                        "coef": np.zeros(
                            (mcuy * vi, mcux * hi, 64), dtype=np.int64
                        ),
                    }
                frame = (h, w, comps, m == 0xC2)
                geom = (hmax, vmax, mcux, mcuy, info)
            elif m in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                       0xCD, 0xCE, 0xCF):
                raise ValueError(
                    "only baseline (SOF0) and progressive (SOF2) DCT "
                    "supported"
                )
            elif m == 0xDD:  # DRI
                if len(seg) < 2:
                    raise ValueError("truncated DRI")
                (restart_ri,) = struct.unpack(">H", seg[:2])
            elif m == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
                # Adobe APP14: "Adobe" + version(2) + flags0(2) +
                # flags1(2) + transform(1); transform 0 = RGB-coded
                adobe_transform = seg[11]
            elif m == 0xDA:  # SOS — entropy data follows
                if frame is None:
                    raise ValueError("SOS before SOF")
                if not seg:
                    raise ValueError("truncated SOS")
                ns = seg[0]
                if len(seg) < 1 + ns * 2 + 3:
                    raise ValueError("truncated SOS")
                # T.81 matches scan components to frame components BY
                # ID, not position — build the id → table-selector map
                ids = [seg[1 + i * 2] for i in range(ns)]
                sel_by_id = {
                    seg[1 + i * 2]: seg[2 + i * 2] for i in range(ns)
                }
                _, _, comps, progressive = frame
                if not set(ids) <= {cid for cid, *_ in comps}:
                    raise ValueError("SOS component ids do not match SOF0")
                if len(set(ids)) != ns:
                    raise ValueError("duplicate component in scan")
                ss, se = seg[1 + ns * 2], seg[2 + ns * 2]
                ahal = seg[3 + ns * 2]
                ah, al = ahal >> 4, ahal & 0x0F
                if not progressive:
                    if (ss, se, ah, al) != (0, 63, 0, 0):
                        raise ValueError(
                            "baseline scan must cover the full 0-63 band "
                            "with no point transform"
                        )
                else:
                    if ss == 0 and se != 0:
                        raise ValueError(
                            "progressive scan with Ss=0 must have Se=0 "
                            "(DC and AC never share a scan)"
                        )
                    if ss > 0 and ns != 1:
                        raise ValueError(
                            "progressive AC scans are single-component"
                        )
                    if se > 63 or ss > 63 or (ss > 0 and se < ss):
                        raise ValueError("bad spectral selection")
                # entropy-coded bytes run to the next non-stuffed,
                # non-restart marker (RST0-7 live INSIDE the scan)
                end = pos
                while end < len(data) - 1:
                    if (
                        data[end] == 0xFF
                        and data[end + 1] != 0x00
                        and not 0xD0 <= data[end + 1] <= 0xD7
                    ):
                        break
                    end += 1
                _decode_scan(
                    _BitReader(data[pos:end]), ids, sel_by_id,
                    ss, se, ah, al, progressive,
                )
                pos = end
                scans += 1
        if scans == 0:
            raise ValueError("no SOS scan found")

        # ---- finalize: dequantize, IDCT, upsample, color ----------------
        h, w, comps, progressive = frame
        hmax, vmax, _, _, info = geom
        planes = []
        for cid, hi, vi, tq in comps:
            if tq not in qt:
                raise ValueError("missing DQT")
            ci = info[cid]
            coef = ci["coef"]
            nbh, nbw = coef.shape[0], coef.shape[1]
            nat = np.zeros((nbh * nbw, 64), dtype=np.float64)
            nat[:, ZZ] = coef.reshape(-1, 64) * qt[tq]
            blocks = np.einsum(
                "ji,bjk,kl->bil", DCT, nat.reshape(-1, 8, 8), DCT
            )
            plane = (
                blocks.reshape(nbh, nbw, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(nbh * 8, nbw * 8)
            ) + 128.0
            cph, cpw = ci["px"]
            plane = plane[:cph, :cpw]
            fv, fh = vmax // vi, hmax // hi
            if fv > 1 or fh > 1:
                plane = np.repeat(np.repeat(plane, fv, axis=0), fh, axis=1)
            planes.append(plane[:h, :w])
        if len(planes) == 1:
            px = np.clip(np.floor(planes[0] + 0.5), 0, 255).astype(np.uint8)
            return h, w, 1, px
        # the inverse transform below assumes JFIF YCbCr; an RGB-coded
        # 3-component stream (Adobe APP14 transform=0, or non-1/2/3
        # component ids like 'R'/'G'/'B') would silently decode with
        # wrong colors — raise cleanly like every other unsupported mode
        if adobe_transform == 0:
            raise ValueError(
                "3-component JPEG declares APP14 transform=0 "
                "(RGB-coded, not YCbCr) — unsupported"
            )
        if [cid for cid, *_ in comps] != [1, 2, 3]:
            raise ValueError(
                "3-component JPEG with non-JFIF component ids "
                f"{[cid for cid, *_ in comps]} (expected 1/2/3 "
                "= Y/Cb/Cr) — unsupported"
            )
        y, cb, cr = planes
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        px = np.stack(
            [
                np.clip(np.floor(c + 0.5), 0, 255).astype(np.uint8)
                for c in (r, g, b)
            ],
            axis=2,
        )
        return h, w, 3, px

    return encode, decode


jpeg_encode, jpeg_decode = _jpeg_codec()


PNG_MEDIA_SCHEMA = "doc_id long, n_bytes int, png binary"
PNG_FEATURES_SCHEMA = (
    "doc_id long, width int, height int, n_pixels int, "
    "pixel_sum bigint, pixel_md5 string"
)
_PNG_PAD = 0x20  # pad byte (space): DuckDB strings can't carry NUL


def png_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents rendered as REAL PNG images: each doc's utf-8 bytes
    become the pixel raster of a ((L%64)+1)-wide grayscale image (last
    row padded with spaces), encoded through :func:`png_encode` in an
    Arrow-batched kernel — the fixture for the real-decode operator."""
    fixture = _png_fixture  # closure-captured, pickled by value
    return _per_doc(
        spark, sf_dir, PNG_MEDIA_SCHEMA,
        lambda doc_id, buf: [(doc_id, len(buf), fixture(buf))],
    )


def decode_png_features(media: DataFrame) -> DataFrame:
    """REAL decode: parse + inflate + unfilter every PNG payload and
    emit per-image stats — same Arrow-batched map-only shape as the
    stub decoder, but the pixels are genuinely reconstructed from the
    compressed stream (CRCs verified, all five filters inverted)."""

    dec = png_decode  # closure-captured, pickled by value

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ws, hs, ns, sums, md5s = [], [], [], [], []
            for payload in pdf["png"]:
                h, w, _, _, px = dec(bytes(payload))
                ws.append(w)
                hs.append(h)
                ns.append(h * w)
                sums.append(int(px.sum(dtype="int64")))
                md5s.append(hashlib.md5(px.tobytes()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": ws,
                    "height": hs,
                    "n_pixels": ns,
                    "pixel_sum": sums,
                    "pixel_md5": md5s,
                }
            )

    return media.mapInPandas(batches, schema=PNG_FEATURES_SCHEMA)


def media_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: encode → decode round trip over real PNG bytes.
    The DuckDB oracle never sees the PNGs — it reconstructs the
    EXPECTED raster (text bytes + space padding) directly from the
    documents table, so the hash match proves the codec reproduced
    every pixel through a real compressed bitstream.

    Fixture assumption (as in media_resize): documents.text is
    pure-ASCII, so the oracle's character indexing (substr/ascii →
    codepoints, strlen → byte length) equals the Spark side's raw
    UTF-8 byte view.  Multibyte text would diverge — the codec itself
    is byte-based and unaffected; only the oracle pairing relies on
    ASCII."""
    return decode_png_features(png_media_table(spark, sf_dir))


def _wav_codec():
    """(encode, decode) for mono 16-bit PCM WAV (RIFF) — stdlib struct
    only, nested for by-value pickling like the PNG codec.  encode:
    int16 sample array → WAV bytes; decode: WAV bytes → (sample_rate,
    int16 ndarray), validating RIFF/WAVE framing and the PCM fmt."""
    import struct

    import numpy as np

    def encode(samples, sample_rate: int = 8000) -> bytes:
        s = np.asarray(samples, dtype="<i2")
        data = s.tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def decode(data: bytes):
        if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE stream")
        (riff_len,) = struct.unpack("<I", data[4:8])
        if riff_len != len(data) - 8:
            raise ValueError("RIFF length mismatch")
        pos, rate, pcm = 12, None, None
        while pos + 8 <= len(data):
            tag = data[pos : pos + 4]
            (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            payload = data[pos + 8 : pos + 8 + ln]
            if tag == b"fmt ":
                afmt, ch, rate, _, _, bits = struct.unpack("<HHIIHH", payload[:16])
                if (afmt, ch, bits) != (1, 1, 16):
                    raise ValueError("only mono 16-bit PCM")
            elif tag == b"data":
                pcm = np.frombuffer(payload, dtype="<i2")
            pos += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
        if rate is None or pcm is None:
            raise ValueError("missing fmt or data chunk")
        return rate, pcm

    return encode, decode


wav_encode, wav_decode = _wav_codec()

WAV_FEATURES_SCHEMA = (
    "doc_id long, n_samples bigint, sample_rate int, "
    "sample_sum bigint, samples_md5 string"
)


def media_decode_wav(
    spark: SparkSession, sf_dir: str, kernel=None
) -> DataFrame:
    """Real AUDIO decode round trip: each document's byte values become
    int16 PCM samples in a real WAV container, decoded back through
    the RIFF parser; the emitted stats (and an md5 over the decoded
    sample values rendered as csv) are reconstructible by DuckDB from
    the raw text, so the hash certifies every decoded sample.

    Fixture assumption (as in media_resize): documents.text is
    pure-ASCII, so the oracle's codepoint indexing equals this side's
    UTF-8 byte view; the WAV codec itself is byte-based and holds for
    any payload — only the oracle pairing relies on ASCII.

    ``kernel``: optional replacement decoder with the wav_decode
    contract ``bytes -> (rate, int16 ndarray)`` (e.g. a soundfile/
    libsndfile wrapper); plan shape unchanged."""
    # closure-captured, by value
    enc, dec = wav_encode, (kernel or wav_decode)

    def rows(doc_id, buf):
        rate, pcm = dec(enc(buf.astype(np.int16)))
        return [(doc_id, int(pcm.size), rate) + _sum_and_csv_md5(pcm)]

    return _per_doc(spark, sf_dir, WAV_FEATURES_SCHEMA, rows)


JPEG_FEATURES_SCHEMA = (
    "doc_id long, width int, height int, n_blocks int, "
    "pixel_sum bigint, blocks_md5 string"
)


def media_decode_jpeg(
    spark: SparkSession, sf_dir: str, kernel=None
) -> DataFrame:
    """Real JPEG decode round trip under the value-hash gate: each
    document's byte values become the levels of CONSTANT 8×8 blocks
    (block grid bw=(L%12)+1 across, bh=ceil(L/bw) down, space-padded),
    encoded as a baseline SOF0 grayscale JPEG at the default UNIT
    quantization and decoded back through the full T.81 path (Huffman
    entropy decode → dequantize → IDCT).  A constant block survives
    the transform EXACTLY — its only nonzero coefficient is the
    integer DC 8·(v−128), which unit quantization preserves — so
    every decoded pixel is bit-exact and the DuckDB oracle can replay
    the block values straight from the raw text.  The kernel RAISES
    if any decoded block is non-constant (so corruption inside a
    block fails loudly, not just at the sampled value); the emitted
    md5 is over the DECODED values, so a level shift breaks the hash.

    Fixture assumption (as in media_decode): documents.text is
    pure-ASCII, so the oracle's codepoint indexing equals this side's
    UTF-8 byte view.

    ``kernel`` is the measured swap-to-libjpeg point (the from-scratch
    entropy decoder is ~100× a C kernel at 88% of task wall — see
    BASELINE.md codec probe): any callable with the jpeg_decode
    contract ``bytes -> (h, w, channels, flat uint8 ndarray)`` drops
    in — e.g. :func:`library_kernels`'s PIL-backed one — and ONLY the
    per-batch Python kernel changes; the plan (one Arrow-batched
    mapInPandas over the scan, map-only) is untouched.  The
    from-scratch decoder stays the test oracle for any injected
    kernel (tests/test_media_kernels.py)."""
    # closure-captured, by value
    jenc, jdec = jpeg_encode, (kernel or jpeg_decode)

    def rows(doc_id, buf):
        L = len(buf)
        bw = (L % 12) + 1
        bh = max(1, (L + bw - 1) // bw)
        codes = np.full(bw * bh, 32, dtype=np.int64)
        codes[:L] = buf
        img = np.kron(
            codes.reshape(bh, bw), np.ones((8, 8), dtype=np.int64)
        ).astype(np.uint8)
        h, w, ch, px = jdec(jenc(img))
        if (h, w, ch) != (8 * bh, 8 * bw, 1):
            raise AssertionError(
                f"JPEG geometry drifted: {(h, w, ch)} for {(bh, bw)}"
            )
        grid = px.reshape(bh, 8, bw, 8)
        if (grid.min(axis=(1, 3)) != grid.max(axis=(1, 3))).any():
            raise AssertionError(
                "unit-quant JPEG decoded a constant block as "
                "non-constant — codec regression"
            )
        csv = ",".join(str(int(v)) for v in grid[:, 0, :, 0].reshape(-1))
        return [(
            doc_id, w, h, bw * bh, int(px.sum(dtype=np.int64)),
            hashlib.md5(csv.encode()).hexdigest(),
        )]

    return _per_doc(spark, sf_dir, JPEG_FEATURES_SCHEMA, rows)


RESIZED_SCHEMA = "doc_id long, src_w int, src_h int, resized binary"


def resize_media(media: DataFrame, out_h: int = 16, out_w: int = 16) -> DataFrame:
    """Nearest-neighbor resize of the stub-decoded pixel grid — the
    'resize' stage of an image pipeline with the DECODE stubbed and
    the RESIZE math real.

    The stub decode views payload byte i of a length-L payload as
    pixel (i // w, i %% w) of an (h, w) grid with w=(L%%64)+1,
    h=(L%%48)+1 (wrapping modulo L — same fake dims as
    :func:`decode_stub_features`).  Resize picks source pixel
    (r·h // out_h, c·w // out_w) for every output (r, c) — the
    standard floor-mapping nearest neighbor, and REAL math: swap the
    grid construction for a PIL decode and the operator is a real
    image resizer with an identical plan shape (Arrow-batched
    mapInPandas, map-only, no shuffle)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # output index grid is shared by every row
        rr = (np.arange(out_h)[:, None] * np.ones(out_w, dtype=np.int64)).astype(np.int64)
        cc = (np.ones((out_h, 1), dtype=np.int64) * np.arange(out_w)).astype(np.int64)
        for pdf in it:
            outs = []
            ws, hs = [], []
            for payload in pdf["payload"]:
                buf = np.frombuffer(payload, dtype=np.uint8)
                L = len(buf)
                w, h = (L % 64) + 1, (L % 48) + 1
                ws.append(w)
                hs.append(h)
                if L == 0:
                    # nothing to sample from — emit an empty buffer
                    # (mod-by-zero would otherwise poison the task)
                    outs.append(b"")
                    continue
                src = ((rr * h // out_h) * w + (cc * w // out_w)) % L
                outs.append(buf[src].tobytes())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "src_w": ws,
                    "src_h": hs,
                    "resized": outs,
                }
            )

    return media.mapInPandas(batches, schema=RESIZED_SCHEMA)


def media_resize(
    spark: SparkSession, sf_dir: str, out_h: int = 16, out_w: int = 16
) -> DataFrame:
    """Declared query: resized thumbnails as (doc_id, src dims, md5 of
    the resized pixel buffer) — the fixture payloads are pure-ASCII
    text bytes, so the DuckDB oracle reconstructs the identical buffer
    with character indexing and the md5 hash-matches byte-for-byte."""
    out = resize_media(media_table(spark, sf_dir), out_h, out_w)
    return out.select(
        "doc_id", "src_w", "src_h", F.md5("resized").alias("resized_md5")
    )


RGB_FEATURES_SCHEMA = (
    "doc_id long, width int, height int, channels int, depth int, "
    "pixel_sum bigint, pixel_md5 string"
)


def media_decode_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUECOLOR decode round trip through the PNG codec: each
    document's utf-8 bytes become the row-major (r, g, b) raster of an
    RGB image ((L%32)+1 pixels wide, space-padded), encoded and decoded
    through :func:`png_encode` / :func:`png_decode` in one
    Arrow-batched kernel.  The md5 is over the decoded pixel buffer in
    row-major channel order — exactly the padded byte string — so the
    DuckDB oracle certifies every decoded CHANNEL value without ever
    seeing a PNG.

    Fixture assumption (as in media_resize/media_decode): ASCII text,
    so oracle codepoint indexing equals this side's byte view; the
    codec itself is byte-based and holds for any payload."""
    enc, dec = png_encode, png_decode  # closures, pickled by value

    def rows(doc_id, buf):
        L = len(buf)
        w = (L % 32) + 1
        rb = 3 * w
        h = max(1, -(-L // rb))
        px = np.full(h * rb, 0x20, dtype=np.uint8)
        px[:L] = buf
        hh, ww, ch, depth, out = dec(enc(px.reshape(h, w, 3)))
        return [(
            doc_id, ww, hh, ch, depth, int(out.sum(dtype="int64")),
            hashlib.md5(out.tobytes()).hexdigest(),
        )]

    return _per_doc(spark, sf_dir, RGB_FEATURES_SCHEMA, rows)


GIF_ANIM_SCHEMA = (
    "doc_id long, frame_idx int, delay int, width int, height int, "
    "pixel_sum bigint, pixel_md5 string"
)


def media_decode_gif(
    spark: SparkSession, sf_dir: str, kernel=None
) -> DataFrame:
    """ANIMATED GIF decode round trip under the value hash: each
    document's bytes (mod 64) index a fixed analytic 64-entry palette
    (i -> (4i, 7i, 13i) mod 256 — the media-ingestion fixture's
    table); frame 0 is the raw index raster ((L%20)+1 wide,
    zero-padded), frame 1 shifts every index by +7 mod 64, and the
    two-frame animation (delays 3 and 7 cs) goes through the real
    GIF89a container — LZW compression, graphic-control extensions,
    NETSCAPE loop block — and back.  LZW is LOSSLESS, so every decoded
    RGB value is exact and the DuckDB oracle replays the palette
    expansion analytically per frame (the q_media_adam7_palette
    idiom), certifying the LZW coder, frame sequencing, and delay
    parsing without ever seeing a GIF.

    Fixture assumption (as in media_decode): ASCII text, so oracle
    codepoint indexing equals this side's byte view.

    ``kernel``: optional replacement decoder with the gif_decode
    contract ``bytes -> (h, w, [RGB frame ndarrays], [delays_cs])``
    (e.g. a PIL wrapper); plan shape unchanged."""
    # closures, pickled by value
    genc, gdec = gif_encode, (kernel or gif_decode)
    pal = _analytic_palette(4, 7, 13)

    def rows(doc_id, buf):
        L = len(buf)
        w = (L % 20) + 1
        h = max(1, -(-L // w))
        idx = np.zeros(h * w, dtype=np.int64)
        idx[:L] = buf % 64
        f0 = idx.reshape(h, w).astype(np.uint8)
        f1 = ((idx + 7) % 64).reshape(h, w).astype(np.uint8)
        hh, ww, frames, delays = gdec(genc([f0, f1], pal, delays=[3, 7]))
        if (hh, ww, len(frames), delays) != (h, w, 2, [3, 7]):
            raise AssertionError(
                f"GIF geometry drifted: {(hh, ww, len(frames), delays)}"
            )
        return [
            (doc_id, fi, delays[fi], ww, hh) + _sum_and_csv_md5(fr)
            for fi, fr in enumerate(frames)
        ]

    return _per_doc(spark, sf_dir, GIF_ANIM_SCHEMA, rows)


BMP_SCHEMA = (
    "doc_id long, kind string, width int, height int, "
    "pixel_sum bigint, pixel_md5 string"
)


def media_decode_bmp(
    spark: SparkSession, sf_dir: str, kernel=None
) -> DataFrame:
    """BMP decode round trip under the value hash, BOTH supported
    encode arms per document: 'rgb24' (text bytes space-padded to a
    3-channel (L%16)+1-wide raster through BI_RGB 24-bit BGR,
    bottom-up rows + 4-byte padding) and 'pal8' (bytes mod 64 as
    indices over the analytic palette i -> (6i, 10i, 14i) mod 256
    through the 8-bit paletted arm).  BMP is uncompressed, so every
    decoded value is exact; the md5 is over comma-joined decimal RGB
    values (the q_media_adam7_palette idiom) and the DuckDB oracle
    replays both expansions from the raw text — certifying the BGR
    flip, bottom-up row order, row padding, and palette expansion.

    Fixture assumption (as in media_decode): ASCII text.

    ``kernel``: optional replacement decoder with the bmp_decode
    contract ``bytes -> (h, w, channels, flat uint8 ndarray)``; plan
    shape unchanged."""
    # closures, pickled by value
    benc, bdec = bmp_encode, (kernel or bmp_decode)
    pal = _analytic_palette(6, 10, 14)

    def rows(doc_id, buf):
        L = len(buf)
        # rgb24 arm
        w = (L % 16) + 1
        h = max(1, -(-L // (3 * w)))
        raster = np.full(3 * w * h, 32, dtype=np.uint8)
        raster[:L] = buf
        hh, ww, ch, rgb = bdec(benc(raster.reshape(h, w, 3)))
        if (hh, ww, ch) != (h, w, 3):
            raise AssertionError(f"BMP rgb24 geometry: {(hh, ww, ch)}")
        out = [(doc_id, "rgb24", ww, hh) + _sum_and_csv_md5(rgb)]
        # pal8 arm
        wp = (L % 20) + 1
        hp = max(1, -(-L // wp))
        idx = np.zeros(hp * wp, dtype=np.uint8)
        idx[:L] = buf % 64
        hh, ww, ch, px = bdec(benc(idx.reshape(hp, wp), palette=pal))
        if (hh, ww, ch) != (hp, wp, 3):
            raise AssertionError(f"BMP pal8 geometry: {(hh, ww, ch)}")
        return out + [(doc_id, "pal8", ww, hh) + _sum_and_csv_md5(px)]

    return _per_doc(spark, sf_dir, BMP_SCHEMA, rows)


def media_decode_adam7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PALETTE + ADAM7 decode round trip through the PNG
    codec: each document's utf-8 bytes (mod 64) become the index
    raster of a palette image ((L%24)+1 pixels wide, zero-padded) over
    a fixed analytic 64-entry palette (i → (5i, 11i, 17i) mod 256),
    encoded INTERLACED (Adam7) with a PLTE chunk and decoded back to
    the expanded RGB raster in one Arrow-batched kernel.  The md5 is
    over the comma-joined decimal pixel values in row-major channel
    order (the q_media_wav idiom — byte-exact across engines without
    binary strings), so the DuckDB oracle certifies every decoded
    channel value through the full interlace + palette path without
    ever seeing a PNG.

    Fixture assumption (as in media_decode/media_decode_rgb): ASCII
    text, so oracle codepoint indexing equals this side's byte view;
    the codec itself is byte-based and holds for any payload."""
    enc, dec = png_encode, png_decode  # closures, pickled by value
    plte = _analytic_palette(5, 11, 17)

    def rows(doc_id, buf):
        L = len(buf)
        w = (L % 24) + 1
        h = max(1, -(-L // w))
        idx = np.zeros(h * w, dtype=np.uint8)
        idx[:L] = buf % 64
        hh, ww, ch, depth, out = dec(
            enc(idx.reshape(h, w), palette=plte, interlace=1)
        )
        return [(doc_id, ww, hh, ch, depth) + _sum_and_csv_md5(out)]

    return _per_doc(spark, sf_dir, RGB_FEATURES_SCHEMA, rows)


PHASH_SCHEMA = "doc_id long, width int, height int, phash string, n_set int"


def media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprints over REAL decoded
    PNGs — the standard near-duplicate-image primitive: decode the
    compressed stream, block-average the raster onto an 8×8 grid,
    threshold each cell against the global cell mean, emit the 64-bit
    fingerprint (as a '0'/'1' string, row-major) — images differing by
    resize/recompression keep small Hamming distance.

    EXACT arithmetic end-to-end: pixel→cell assignment is
    i = (8·r)//h, j = (8·c)//w (truncating division, identical in
    numpy // and DuckDB //); cell means and the global threshold are
    integer-truncated.  The DuckDB oracle reconstructs the raster
    analytically from the text bytes (the media_decode contract, ASCII
    fixture assumption), so the hash certifies decode + downsample +
    threshold bit-for-bit.  Images smaller than 8×8 are skipped on
    both sides.

    Scale shape: Arrow-batched mapInPandas, map-only, no shuffle; the
    Hamming-join over fingerprints (banding on hash prefixes, the
    SimHash pattern) composes downstream.

    Reference: none — SURVEY.md §2.8 multimodal extension.
    """
    media = png_media_table(spark, sf_dir)
    dec = png_decode  # closure-captured, pickled by value

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ws, hs, hashes, nset = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["png"]):
                h, w, _, _, px = dec(bytes(payload))
                if h < 8 or w < 8:
                    continue
                px = np.asarray(px, dtype=np.int64).reshape(h, w)
                ri = (8 * np.arange(h)) // h
                ci = (8 * np.arange(w)) // w
                sums = np.zeros((8, 8), dtype=np.int64)
                cnts = np.zeros((8, 8), dtype=np.int64)
                np.add.at(sums, (np.repeat(ri, w), np.tile(ci, h)), px.ravel())
                np.add.at(cnts, (np.repeat(ri, w), np.tile(ci, h)), 1)
                means = sums // cnts
                thr = means.sum() // 64
                bits = (means > thr).ravel()
                ids.append(int(doc_id))
                ws.append(w)
                hs.append(h)
                hashes.append("".join("1" if b else "0" for b in bits))
                nset.append(int(bits.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "phash": pd.Series(hashes, dtype="object"),
                    "n_set": pd.Series(nset, dtype="int32"),
                }
            )

    return media.mapInPandas(batches, schema=PHASH_SCHEMA)


def media_near_dup(
    spark: SparkSession, sf_dir: str, max_hamming: int = 7
) -> DataFrame:
    """Near-duplicate IMAGE pairs via banded perceptual hashes — the
    SimHash banding trick applied to the aHash fingerprints: split the
    64-bit hash into 8 bands of 8 bits; a pair within Hamming
    distance 7 has FEWER mismatched bits than bands, so by pigeonhole
    at least one band matches exactly — banding is lossless for the
    verify threshold (the SimHash guarantee: threshold < band count);
    candidates verify by exact Hamming distance ≤ ``max_hamming``.

    Scale shape: banding turns all-pairs image comparison into 8
    equi-join buckets (one shuffle on the band value), exactly like
    the text SimHash path (operators/dedup.simhash) — no cross join
    anywhere; verification touches candidate pairs only.

    Reference: none — SURVEY.md §2.8 multimodal family (the image twin
    of near-dup text detection).
    """
    ph = media_phash(spark, sf_dir).select("doc_id", "phash")
    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(*[F.lit(b) for b in range(8)])
        ).alias("band"),
    ).select(
        "doc_id",
        "phash",
        "band",
        F.concat(
            F.col("band").cast("string"),
            F.lit(":"),
            F.substring("phash", F.col("band") * 8 + 1, 8),
        ).alias("band_key"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("phash").alias("ph_a"),
        "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("phash").alias("ph_b"),
        "band_key",
    )
    cand = (
        a.join(b, "band_key")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ph_a", "ph_b")
        .distinct()
    )
    pos = F.sequence(F.lit(1), F.lit(64))
    hamming = F.size(
        F.filter(
            pos,
            lambda i: F.substring(F.col("ph_a"), i, 1)
            != F.substring(F.col("ph_b"), i, 1),
        )
    )
    return (
        cand.select(
            "doc_a", "doc_b", hamming.cast("int").alias("hamming")
        )
        .where(F.col("hamming") <= max_hamming)
    )


def _avi_codec(jenc, jdec):
    """AVI (RIFF 'AVI ') container with MJPEG ('MJPG') video frames —
    encode/decode in stdlib + numpy, completing the native media
    triplet (PNG/JPEG images, WAV audio, AVI video) without external
    libraries.  Each frame is an independent baseline-or-progressive
    JPEG from this module's own codec, so every JPEG mode (4:2:0
    subsampling, SOF2) flows through the container path too.

    Layout per the public AVI RIFF spec (MSDN 'AVI RIFF File
    Reference'): RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
    LIST('movi' '00dc'...) idx1), one video stream, every frame a
    keyframe (MJPEG has no inter-frame state), chunks padded to even
    sizes, idx1 offsets relative to the 'movi' fourcc.

    avi_encode(frames, fps=10, quant=None, subsampling='4:4:4',
    progressive=False) → bytes; frames is a non-empty list of
    same-shaped uint8 arrays ((h, w) gray or (h, w, 3) RGB).
    avi_decode(data) → (fps, [pixels ...]); avi_frame_blobs(data) →
    (fps, width, height, [jpeg bytes ...]) for structural sampling
    without pixel decode.

    Takes the JPEG codec pair as ARGUMENTS so the returned closures
    capture them by value — module-global references would pickle by
    reference and break in workers when the driver imports from a
    foreign cwd (the standing codec-pickling rule here).
    """
    import struct

    import numpy as np

    def _chunk(tag: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return tag + struct.pack("<I", len(payload)) + payload + pad

    def _list(fourcc: bytes, payload: bytes) -> bytes:
        return _chunk(b"LIST", fourcc + payload)

    def encode(
        frames,
        fps: int = 10,
        quant=None,
        subsampling: str = "4:4:4",
        progressive: bool = False,
    ) -> bytes:
        if not frames:
            raise ValueError("AVI needs at least one frame")
        if not 1 <= int(fps) <= 1_000_000:
            raise ValueError("fps out of range")
        first = np.asarray(frames[0])
        h, w = first.shape[0], first.shape[1]
        blobs = []
        for f in frames:
            a = np.asarray(f)
            if a.shape[:2] != (h, w) or a.ndim != first.ndim:
                raise ValueError("all frames must share one shape")
            blobs.append(
                jenc(
                    a,
                    quant=quant,
                    subsampling=subsampling,
                    progressive=progressive,
                )
            )
        avih = struct.pack(
            "<14I",
            1_000_000 // int(fps),        # microseconds per frame
            sum(len(b) for b in blobs) * int(fps) // max(1, len(blobs)),
            0,                            # padding granularity
            0x10,                         # AVIF_HASINDEX
            len(blobs), 0, 1,             # total frames, initial, streams
            max(len(b) for b in blobs),   # suggested buffer
            w, h, 0, 0, 0, 0,
        )
        strh = (
            b"vidsMJPG"
            + struct.pack(
                "<IHHIIIIIIII",
                0, 0, 0, 0,               # flags, prio, lang, initial
                1, int(fps),              # scale, rate → fps = rate/scale
                0, len(blobs),            # start, length (frames)
                max(len(b) for b in blobs),
                0xFFFFFFFF, 0,            # quality (default), samplesize
            )
            + struct.pack("<4H", 0, 0, w, h)  # rcFrame
        )
        strf = struct.pack(
            "<IiiHH4sIiiII",
            40, w, h, 1, 24, b"MJPG",
            sum(len(b) for b in blobs) // len(blobs),
            0, 0, 0, 0,
        )
        hdrl = _list(
            b"hdrl",
            _chunk(b"avih", avih)
            + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
        )
        movi_payload = b""
        idx = b""
        for b in blobs:
            # idx1 offsets point at the chunk tag, relative to the
            # 'movi' fourcc (the common convention decoders expect)
            idx += b"00dc" + struct.pack("<III", 0x10, 4 + len(movi_payload), len(b))
            movi_payload += _chunk(b"00dc", b)
        body = hdrl + _list(b"movi", movi_payload) + _chunk(b"idx1", idx)
        return _chunk(b"RIFF", b"AVI " + body)

    def frame_blobs(data: bytes):
        if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
            raise ValueError("not an AVI: bad RIFF signature")
        (total,) = struct.unpack("<I", data[4:8])
        if total + 8 > len(data):
            raise ValueError("truncated RIFF")
        pos = 12
        fps = None
        dims = None
        blobs = None
        n_idx = None
        while pos + 8 <= total + 8:
            tag = data[pos : pos + 4]
            (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            payload = data[pos + 8 : pos + 8 + ln]
            if len(payload) != ln:
                raise ValueError("truncated AVI chunk")
            if tag == b"LIST" and payload[:4] == b"hdrl":
                at = 4
                while at + 8 <= ln:
                    t2 = payload[at : at + 4]
                    (l2,) = struct.unpack("<I", payload[at + 4 : at + 8])
                    p2 = payload[at + 8 : at + 8 + l2]
                    if t2 == b"LIST" and p2[:4] == b"strl":
                        strh = p2[4:]
                        # strh BODY layout (AVISTREAMHEADER): fccType
                        # [0:4]='vids', fccHandler [4:8]='MJPG', flags,
                        # wPriority, wLanguage, dwInitialFrames, then
                        # dwScale [20:24] / dwRate [24:28]
                        if strh[:4] == b"strh" and strh[8:12] == b"vids":
                            (l3,) = struct.unpack("<I", strh[4:8])
                            body = strh[8 : 8 + l3]
                            if l3 >= 28:
                                scale, rate = struct.unpack("<II", body[20:28])
                                if scale:
                                    fps = rate // scale
                    elif t2 == b"avih" and l2 >= 40:
                        wdt, hgt = struct.unpack("<II", p2[32:40])
                        dims = (wdt, hgt)
                        if fps is None:
                            (usf,) = struct.unpack("<I", p2[:4])
                            if usf:
                                fps = round(1_000_000 / usf)
                    at += 8 + l2 + (l2 % 2)
            elif tag == b"LIST" and payload[:4] == b"movi":
                blobs = []
                at = 4
                while at + 8 <= ln:
                    t2 = payload[at : at + 4]
                    (l2,) = struct.unpack("<I", payload[at + 4 : at + 8])
                    if t2 in (b"00dc", b"00db"):
                        b2 = payload[at + 8 : at + 8 + l2]
                        if len(b2) != l2:
                            raise ValueError("truncated frame chunk")
                        blobs.append(b2)
                    at += 8 + l2 + (l2 % 2)
            elif tag == b"idx1":
                n_idx = ln // 16
            pos += 8 + ln + (ln % 2)
        if blobs is None:
            raise ValueError("AVI carries no 'movi' list")
        if not blobs:
            raise ValueError("empty 'movi' list")
        if n_idx is not None and n_idx != len(blobs):
            raise ValueError(
                f"idx1 declares {n_idx} frames, movi carries {len(blobs)}"
            )
        if dims is None:
            raise ValueError("AVI carries no avih header")
        return (fps or 0), dims[0], dims[1], blobs

    def decode(data: bytes):
        fps, _, _, blobs = frame_blobs(data)
        frames = []
        for b in blobs:
            _, _, ch, px = jdec(b)
            frames.append(px)
        return fps, frames

    return encode, decode, frame_blobs


avi_encode, avi_decode, avi_frame_blobs = _avi_codec(jpeg_encode, jpeg_decode)


def _fixture_encoders(penc, aenc, pad):
    """(png_fixture, avi_fixture): document bytes → the encoded PNG /
    AVI fixture blob, a pure function of the bytes and their length.
    The one builder of each raster, shared by :func:`png_media_table`,
    :func:`avi_media_table` and :func:`write_media_dir`; takes the
    encoders as arguments so the closures capture them by value."""

    def png_fixture(buf):
        # ((L%64)+1)-wide gray raster, last row padded with ``pad``
        L = len(buf)
        w = (L % 64) + 1
        h = max(1, -(-L // w))
        px = np.full(h * w, pad, dtype=np.uint8)
        px[:L] = buf
        return penc(px.reshape(h, w))

    def avi_fixture(buf):
        # ((L%5)+2) gray 8 x ((L%24)+8) frames cycling through the bytes
        L = len(buf)
        w = (L % 24) + 8
        nf = (L % 5) + 2
        if L:
            px = np.resize(buf, nf * 8 * w)
        else:
            px = np.full(nf * 8 * w, pad, dtype=np.uint8)
        frames = [
            px[f * 8 * w : (f + 1) * 8 * w].reshape(8, w) for f in range(nf)
        ]
        return aenc(frames, fps=10)

    return png_fixture, avi_fixture


_png_fixture, _avi_fixture = _fixture_encoders(png_encode, avi_encode, _PNG_PAD)


AVI_MEDIA_SCHEMA = "doc_id long, n_bytes int, avi binary"
VIDEO_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, n_frames int"
)


def avi_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents rendered as REAL AVI/MJPEG videos: each doc's utf-8
    bytes cycle through ((L%5)+2) grayscale frames of ((L%24)+8) x 8
    pixels, JPEG-encoded at unit quant and packed through
    :func:`avi_encode` in an Arrow-batched kernel — the fixture for
    the video frame-sampling operator.  The frame geometry is a pure
    function of the byte length, so the structural fields are
    SQL-derivable for the oracle while the pixel path stays real."""
    fixture = _avi_fixture  # closure-captured, pickled by value
    return _per_doc(
        spark, sf_dir, AVI_MEDIA_SCHEMA,
        lambda doc_id, buf: [(doc_id, len(buf), fixture(buf))],
    )


def video_frame_sample(
    media: DataFrame, every: int = 2, kernel=None
) -> DataFrame:
    """Frame sampling over real AVI payloads: parse the container,
    keep every ``every``-th frame, and FULLY DECODE the kept frames
    (container → MJPEG → pixels), emitting the decoded dimensions —
    so a hash match proves the whole byte path, not just the header
    walk.  Arrow-batched, map-only: each payload is independent, no
    shuffle; at scale the sampled-frame decode is the only CPU and it
    skips (every-1)/every of the entropy-decode work by never opening
    the dropped frames' blobs.

    ``kernel``: optional per-frame JPEG decoder (jpeg_decode
    contract) — the same swap point as media_decode_jpeg, since MJPEG
    frame decode IS the measured 88%-of-wall kernel here."""
    # closure-captured
    blobs_of, dec = avi_frame_blobs, (kernel or jpeg_decode)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("doc_id", "frame_idx", "width", "height", "n_frames")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["avi"]):
                _, _, _, blobs = blobs_of(bytes(payload))
                for fi in range(0, len(blobs), every):
                    h, w, _, _ = dec(blobs[fi])
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(fi)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_frames"].append(len(blobs))
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=VIDEO_FRAME_SCHEMA)


def media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: AVI fixture → sampled-frame decode (every 2nd
    frame).  Oracle derives the structural fields from the byte-length
    geometry; the pixel content is pinned by the codec test suite."""
    return video_frame_sample(avi_media_table(spark, sf_dir), every=2)


MEDIA_DIR_SCHEMA = (
    "doc_id long, kind string, width int, height int, "
    "n_frames int, n_samples long"
)


def write_media_dir(spark: SparkSession, sf_dir: str, out_dir: str) -> int:
    """Render documents as real media FILES on disk — PNG for
    doc_id%5==0, WAV for ==1, AVI/MJPEG for ==2, animated GIF for ==3,
    24-bit BMP for ==4, all content a pure function of the doc's byte
    length + bytes (the fixture rules) — the on-disk half of the
    directory-ingestion operator.

    The write is DISTRIBUTED (mapInPandas partitions write their own
    files; names are doc_id-unique so there is no contention).  This
    writer is test scaffolding for the fixture: a production crawl's
    media already sits on shared storage — the operator that matters
    at 100 TB is :func:`media_ingest_dir`'s scan side.
    """
    import os

    pngf, wenc, avif, genc, benc, pad = (
        _png_fixture, wav_encode, _avi_fixture, gif_encode, bmp_encode,
        _PNG_PAD,
    )
    gif_pal = _analytic_palette(4, 7, 13)
    os.makedirs(out_dir, exist_ok=True)

    def rows(doc_id, buf):
        L = len(buf)
        m = doc_id % 5
        if m == 0:
            blob, ext = pngf(buf), "png"
        elif m == 1:
            blob, ext = wenc(buf.astype(np.int16)), "wav"
        elif m == 2:
            blob, ext = avif(buf), "avi"
        elif m == 3:
            w = (L % 16) + 4
            nf = (L % 3) + 2  # >= 2 frames: always an animation
            src = buf % 64 if L else np.full(1, pad % 64, np.uint8)
            px = np.resize(src, nf * 4 * w)
            frames = [
                px[f * 4 * w : (f + 1) * 4 * w].reshape(4, w) for f in range(nf)
            ]
            blob, ext = genc(frames, gif_pal, delays=[5] * nf), "gif"
        else:
            w = (L % 10) + 2
            src = buf if L else np.full(1, pad, np.uint8)
            blob, ext = benc(np.resize(src, 3 * w * 3).reshape(3, w, 3)), "bmp"
        with open(os.path.join(out_dir, f"{doc_id}.{ext}"), "wb") as fh:
            fh.write(blob)
        return [(1,)]

    written = _per_doc(spark, sf_dir, "n long", rows)
    return int(written.agg(F.sum("n")).collect()[0][0])


def media_ingest_dir(spark: SparkSession, media_dir: str) -> DataFrame:
    """Ingest a DIRECTORY of media files the way a crawl pipeline
    would: Spark's built-in ``binaryFile`` source scans the files
    (file-granular partitions — the scan parallelizes across
    executors and prunes nothing it shouldn't), then an Arrow-batched
    kernel content-sniffs each payload through :func:`decode_real`
    (PNG/JPEG/WAV/AVI/GIF/BMP native codecs) and emits typed metadata.
    Each file name must end in ``<doc_id>.<ext>``; a file without a
    numeric stem (``cat.png``) fails the task with a ValueError that
    names the path.

    At 100 TB this is the shape you want: the scan is the built-in
    file source (split planning, locality, no driver listing loop
    beyond the initial file index), decode is map-only per file, and
    the output is a typed table ready for the dedup/phash/frame
    operators downstream."""
    files = (
        spark.read.format("binaryFile")
        .load(media_dir + "/*")
        .select("path", "content")
    )
    dreal = decode_real  # closure-captured

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in it:
            out = {
                k: []
                for k in (
                    "doc_id", "kind", "width", "height", "n_frames", "n_samples"
                )
            }
            for path, content in zip(pdf["path"], pdf["content"]):
                m = re.search(r"(\d+)\.\w+$", path)
                if m is None:
                    raise ValueError(
                        f"media file {path!r} has no numeric doc_id stem "
                        "(expected <doc_id>.<ext>)"
                    )
                doc_id = int(m.group(1))
                info = dreal(bytes(content))
                kind = info["kind"]
                out["doc_id"].append(doc_id)
                out["kind"].append(kind)
                out["width"].append(info.get("width"))
                out["height"].append(info.get("height"))
                out["n_frames"].append(info.get("n_frames"))
                out["n_samples"].append(
                    len(info["samples"]) if kind == "audio" else None
                )
            yield pd.DataFrame(out)

    return files.mapInPandas(batches, schema=MEDIA_DIR_SCHEMA)


def _gif_codec():
    """GIF87a/89a (encode, decode) in stdlib + numpy — the remaining
    common crawl-image container after PNG and JPEG.  Scope: 8-bit-max
    palettes (global and per-frame local color tables), the full GIF
    LZW variant (variable code width 3-12 bits, CLEAR/EOI, deferred
    reset at 4096, little-endian bit packing in 255-byte sub-blocks),
    4-pass row interlace, and animation (multiple frames with Graphic
    Control Extensions: per-frame delay, disposal methods 0/1 "draw
    over" and 2 "restore to background", transparency index skipped at
    composite time).  Unknown extensions skip cleanly; truncated or
    out-of-range LZW streams raise ValueError.

    encode(frames, palette, delays=None, interlace=False) → bytes;
    frames is one (h, w) uint8 index array or a non-empty list of
    same-shaped ones, palette is (n≤256, 3) uint8 RGB.  Animation is
    emitted when len(frames) > 1 (GIF89a + NETSCAPE2.0 loop block),
    each frame full-canvas.
    decode(data) → (height, width, [rgb frame ...], [delay_cs ...]):
    fully composited uint8 (h, w, 3) frames.

    Nested for by-value pickling like every codec here.
    """
    import struct

    import numpy as np

    _INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step) per pass

    def _interlace_order(h):
        rows = []
        for start, step in _INTERLACE:
            rows.extend(range(start, h, step))
        return rows

    # ---- LZW ----------------------------------------------------------
    def _lzw_encode(indices, min_code_size: int) -> bytes:
        clear = 1 << min_code_size
        eoi = clear + 1
        out = bytearray()
        acc = 0
        nbits = 0
        code_size = min_code_size + 1

        def emit(code):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += code_size
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        table = {(i,): i for i in range(clear)}
        next_code = eoi + 1
        emit(clear)
        prev = ()
        for sym in indices:
            sym = int(sym)
            cur = prev + (sym,)
            if cur in table:
                prev = cur
                continue
            emit(table[prev])
            table[cur] = next_code
            next_code += 1
            # the decoder bumps its read width when ITS next slot hits
            # 2^size — it runs one entry behind, so the encoder bumps
            # after assigning 2^size (giflib's RunningCode >= MaxCode1)
            if next_code > (1 << code_size) and code_size < 12:
                code_size += 1
            if next_code == 4096:
                emit(clear)
                table = {(i,): i for i in range(clear)}
                next_code = eoi + 1
                code_size = min_code_size + 1
            prev = (sym,)
        if prev:
            emit(table[prev])
        emit(eoi)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    def _lzw_decode(data: bytes, min_code_size: int, n_expected: int):
        clear = 1 << min_code_size
        eoi = clear + 1
        pos = 0
        acc = 0
        nbits = 0
        code_size = min_code_size + 1
        table = [(i,) for i in range(clear)] + [None, None]
        prev = None
        out = []

        def read():
            nonlocal pos, acc, nbits
            while nbits < code_size:
                if pos >= len(data):
                    raise ValueError("LZW stream truncated")
                acc |= data[pos] << nbits
                pos += 1
                nbits += 8
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            return code

        while len(out) < n_expected:
            code = read()
            if code == clear:
                table = [(i,) for i in range(clear)] + [None, None]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                break
            if prev is None:
                if code >= len(table) or table[code] is None:
                    raise ValueError("LZW code out of range")
                entry = table[code]
            elif code < len(table) and table[code] is not None:
                entry = table[code]
            elif code == len(table):
                entry = prev + (prev[0],)  # the KwKwK case
            else:
                raise ValueError("LZW code out of range")
            out.extend(entry)
            if prev is not None and len(table) < 4096:
                table.append(prev + (entry[0],))
                if len(table) == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
        return out[:n_expected]

    # ---- container ------------------------------------------------------
    def _sub_blocks(payload: bytes) -> bytes:
        out = bytearray()
        for i in range(0, len(payload), 255):
            chunk = payload[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
        return bytes(out)

    def encode(frames, palette, delays=None, interlace: bool = False) -> bytes:
        if isinstance(frames, np.ndarray):
            frames = [frames]
        if not frames:
            raise ValueError("GIF needs at least one frame")
        pal = np.asarray(palette)
        if pal.dtype != np.uint8 or pal.ndim != 2 or pal.shape[1] != 3:
            raise ValueError("palette must be (n, 3) uint8")
        if not 1 <= pal.shape[0] <= 256:
            raise ValueError("palette carries 1-256 entries")
        h, w = np.asarray(frames[0]).shape
        if h == 0 or w == 0 or h > 65535 or w > 65535:
            raise ValueError("GIF dimensions are 16-bit and non-zero")
        # color table sizes are powers of two >= 2
        bits = max(1, int(pal.shape[0] - 1).bit_length())
        gct = np.zeros(((1 << bits), 3), dtype=np.uint8)
        gct[: pal.shape[0]] = pal
        min_code = max(2, bits)
        delays = list(delays or [0] * len(frames))
        if len(delays) != len(frames):
            raise ValueError("one delay per frame")
        out = bytearray(b"GIF89a")
        out += struct.pack("<HH", w, h)
        out += bytes([0x80 | (bits - 1), 0, 0])  # GCT flag+size, bg, aspect
        out += gct.tobytes()
        if len(frames) > 1:
            out += b"\x21\xff\x0bNETSCAPE2.0" + _sub_blocks(b"\x01\x00\x00")[:-1]
            out += b"\x00"
        for f, delay in zip(frames, delays):
            a = np.asarray(f)
            if a.dtype != np.uint8 or a.shape != (h, w):
                raise ValueError("all frames must be (h, w) uint8 indices")
            if int(a.max(initial=0)) >= pal.shape[0]:
                raise ValueError("frame index outside the palette")
            out += b"\x21\xf9\x04" + bytes([0x00]) + struct.pack("<H", delay)
            out += b"\x00\x00"  # no transparency; block terminator
            out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
            out += bytes([0x40 if interlace else 0x00])
            rows = _interlace_order(h) if interlace else range(h)
            seq = a[list(rows), :].reshape(-1)
            out += bytes([min_code]) + _sub_blocks(_lzw_encode(seq, min_code))
        out += b"\x3b"  # trailer
        return bytes(out)

    def decode(data: bytes):
        if data[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("not a GIF: bad signature")
        if len(data) < 13:
            raise ValueError("truncated GIF header")
        w, h = struct.unpack("<HH", data[6:10])
        packed, bg, _aspect = data[10], data[11], data[12]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            gct = np.frombuffer(data[pos : pos + n * 3], dtype=np.uint8)
            if gct.size != n * 3:
                raise ValueError("truncated global color table")
            gct = gct.reshape(n, 3)
            pos += n * 3

        def skip_blocks(p):
            while True:
                if p >= len(data):
                    raise ValueError("truncated sub-blocks")
                ln = data[p]
                p += 1 + ln
                if ln == 0:
                    return p

        def read_blocks(p):
            payload = bytearray()
            while True:
                if p >= len(data):
                    raise ValueError("truncated sub-blocks")
                ln = data[p]
                p += 1
                if ln == 0:
                    return bytes(payload), p
                payload += data[p : p + ln]
                if len(payload) % 255 and data[p + ln : p + ln + 1] != b"\x00":
                    pass  # short block mid-stream is legal
                p += ln

        # Composite in RGB (ADVICE r8): frames may carry DIFFERENT
        # local color tables, so a palette-INDEX canvas re-mapped
        # through the current frame's table would look earlier frames'
        # pixels up in the wrong palette.  The RGB canvas is palette-
        # free; indices matter only within one frame's own rect.
        def _bg_rgb():
            if gct is not None and bg < gct.shape[0]:
                return gct[bg].astype(np.int64)
            return np.zeros(3, dtype=np.int64)

        canvas = np.zeros((h, w, 3), dtype=np.int64)
        canvas[:] = _bg_rgb()
        frames, delays = [], []
        delay, transparent, disposal = 0, None, 0
        while pos < len(data):
            b = data[pos]
            pos += 1
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension
                if pos >= len(data):
                    raise ValueError("truncated extension")
                label = data[pos]
                pos += 1
                if label == 0xF9:  # Graphic Control Extension
                    if pos >= len(data):
                        raise ValueError("truncated extension")
                    ln = data[pos]
                    blk = data[pos + 1 : pos + 1 + ln]
                    if len(blk) < ln:
                        raise ValueError("truncated extension")
                    if ln >= 4:
                        flags = blk[0]
                        (delay,) = struct.unpack("<H", blk[1:3])
                        transparent = blk[3] if flags & 0x01 else None
                        disposal = (flags >> 2) & 0x07
                    pos = skip_blocks(pos)
                else:  # application/comment/plain-text: skip
                    pos = skip_blocks(pos)
                continue
            if b != 0x2C:
                raise ValueError(f"unexpected GIF block 0x{b:02x}")
            if pos + 9 > len(data):
                raise ValueError("truncated image descriptor")
            fx, fy, fw, fh = struct.unpack("<HHHH", data[pos : pos + 8])
            fpacked = data[pos + 8]
            pos += 9
            if fx + fw > w or fy + fh > h:
                raise ValueError("frame rect outside the canvas")
            lct = gct
            if fpacked & 0x80:
                n = 2 << (fpacked & 0x07)
                lct = np.frombuffer(data[pos : pos + n * 3], dtype=np.uint8)
                if lct.size != n * 3:
                    raise ValueError("truncated local color table")
                lct = lct.reshape(n, 3)
                pos += n * 3
            if lct is None:
                raise ValueError("frame without any color table")
            min_code = data[pos]
            pos += 1
            if not 2 <= min_code <= 8:
                raise ValueError("bad LZW minimum code size")
            lzw, pos = read_blocks(pos)
            seq = _lzw_decode(lzw, min_code, fw * fh)
            if len(seq) < fw * fh:
                raise ValueError("LZW stream ran short of the frame")
            idx = np.array(seq, dtype=np.int64)
            if fpacked & 0x40:  # interlaced
                rect = np.empty((fh, fw), dtype=np.int64)
                rect[_interlace_order(fh), :] = idx.reshape(fh, fw)
            else:
                rect = idx.reshape(fh, fw)
            if int(rect.max(initial=0)) >= lct.shape[0]:
                raise ValueError("pixel index outside the color table")
            before = canvas[fy : fy + fh, fx : fx + fw].copy()
            target = canvas[fy : fy + fh, fx : fx + fw]
            rect_rgb = lct[rect].astype(np.int64)  # this frame's OWN palette
            if transparent is not None:
                mask = rect != transparent
                target[mask] = rect_rgb[mask]
            else:
                target[:] = rect_rgb
            frames.append(canvas.astype(np.uint8))
            delays.append(delay)
            if disposal == 2:  # restore to background
                canvas[fy : fy + fh, fx : fx + fw] = _bg_rgb()
            elif disposal == 3:  # restore to previous
                canvas[fy : fy + fh, fx : fx + fw] = before
            delay, transparent, disposal = 0, None, 0
        if not frames:
            raise ValueError("GIF carries no image frames")
        return h, w, frames, delays

    return encode, decode


def _bmp_codec():
    """BMP (Windows DIB, BITMAPINFOHEADER) (encode, decode) in stdlib
    + numpy — the last common uncompressed crawl-image container after
    PNG/JPEG/GIF.  Scope: BI_RGB (uncompressed) 24-bit BGR and 8-bit
    paletted, plus RLE8 (BI_RLE8) DECODE with end-of-line/bitmap and
    delta escapes; bottom-up (positive height) and top-down (negative)
    row orders; 4-byte row padding.  16/32-bit, BI_RLE4, and
    BITFIELDS raise cleanly.  encode(pixels, palette=None) emits
    24-bit BI_RGB for (h, w, 3) uint8 RGB, or 8-bit paletted for
    (h, w) uint8 indices with an (n<=256, 3) RGB palette.
    decode(data) → (height, width, channels, ndarray) with (h, w, 3)
    uint8 RGB (palette expanded).  Nested for by-value pickling like
    every codec here."""
    import struct

    import numpy as np

    def encode(pixels, palette=None) -> bytes:
        px = np.asarray(pixels)
        if px.dtype != np.uint8:
            raise ValueError("pixels must be uint8")
        if px.ndim == 3 and px.shape[2] == 3 and palette is None:
            h, w = px.shape[:2]
            row = w * 3
            pad = (-row) % 4
            # BMP stores BGR, bottom-up
            body = bytearray()
            for y in range(h - 1, -1, -1):
                body += px[y, :, ::-1].tobytes() + b"\x00" * pad
            bpp, ncol, pal_bytes = 24, 0, b""
        elif px.ndim == 2 and palette is not None:
            pal = np.asarray(palette)
            if pal.dtype != np.uint8 or pal.ndim != 2 or pal.shape[1] != 3:
                raise ValueError("palette must be (n, 3) uint8")
            if not 1 <= pal.shape[0] <= 256:
                raise ValueError("palette carries 1-256 entries")
            if int(px.max(initial=0)) >= pal.shape[0]:
                raise ValueError("pixel index outside the palette")
            h, w = px.shape
            pad = (-w) % 4
            body = bytearray()
            for y in range(h - 1, -1, -1):
                body += px[y].tobytes() + b"\x00" * pad
            bpp, ncol = 8, pal.shape[0]
            # palette entries are BGRA quads
            pal_bytes = b"".join(
                bytes([int(b), int(g), int(r), 0]) for r, g, b in pal
            )
        else:
            raise ValueError(
                "pass (h, w, 3) RGB with no palette, or (h, w) indices "
                "with an (n, 3) palette"
            )
        if h == 0 or w == 0:
            raise ValueError("empty image")
        off = 14 + 40 + len(pal_bytes)
        hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(body), 2835, 2835,
            ncol, 0,
        )
        return hdr + info + pal_bytes + bytes(body)

    def decode(data: bytes):
        if data[:2] != b"BM":
            raise ValueError("not a BMP: bad signature")
        if len(data) < 54:
            raise ValueError("truncated BMP header")
        (off,) = struct.unpack("<I", data[10:14])
        (hsz,) = struct.unpack("<I", data[14:18])
        if hsz < 40:
            raise ValueError("pre-BITMAPINFOHEADER BMP unsupported")
        w, h_raw = struct.unpack("<ii", data[18:26])
        planes, bpp = struct.unpack("<HH", data[26:30])
        (comp,) = struct.unpack("<I", data[30:34])
        (ncol,) = struct.unpack("<I", data[46:50])
        top_down = h_raw < 0
        h = -h_raw if top_down else h_raw
        if w <= 0 or h <= 0 or w > 65535 or h > 65535:
            raise ValueError("bad BMP dimensions")
        if bpp not in (8, 24):
            raise ValueError("only 8-bit paletted and 24-bit BMPs supported")
        if comp not in (0, 1) or (comp == 1 and bpp != 8):
            raise ValueError("only BI_RGB and BI_RLE8 compression supported")
        pal = None
        if bpp == 8:
            n = ncol or 256
            pal_at = 14 + hsz
            quads = np.frombuffer(
                data[pal_at : pal_at + n * 4], dtype=np.uint8
            )
            if quads.size != n * 4:
                raise ValueError("truncated BMP palette")
            pal = quads.reshape(n, 4)[:, [2, 1, 0]]  # BGRA → RGB
        if comp == 1:  # RLE8
            if top_down:
                raise ValueError("RLE8 BMPs are bottom-up by spec")
            idx = np.zeros((h, w), dtype=np.int64)
            x = y = 0
            p = off
            while p + 1 < len(data):
                a, b = data[p], data[p + 1]
                p += 2
                if a:  # run of b, length a
                    if y >= h or x + a > w:
                        raise ValueError("RLE8 run overflows the bitmap")
                    idx[h - 1 - y, x : x + a] = b
                    x += a
                elif b == 0:  # end of line
                    x, y = 0, y + 1
                elif b == 1:  # end of bitmap
                    break
                elif b == 2:  # delta
                    if p + 1 >= len(data):
                        raise ValueError("truncated RLE8 delta")
                    x += data[p]
                    y += data[p + 1]
                    p += 2
                else:  # absolute mode: b literal bytes + word padding
                    if y >= h or x + b > w or p + b > len(data):
                        raise ValueError("RLE8 literals overflow the bitmap")
                    idx[h - 1 - y, x : x + b] = np.frombuffer(
                        data[p : p + b], dtype=np.uint8
                    )
                    x += b
                    p += b + (b % 2)
            else:
                raise ValueError("RLE8 stream missing end-of-bitmap")
            if int(idx.max(initial=0)) >= pal.shape[0]:
                raise ValueError("pixel index outside the palette")
            return h, w, 3, pal[idx].astype(np.uint8)
        stride = (w * (bpp // 8) + 3) // 4 * 4
        need = off + stride * h
        if len(data) < need:
            raise ValueError("truncated BMP pixel data")
        rows = np.frombuffer(
            data[off : off + stride * h], dtype=np.uint8
        ).reshape(h, stride)
        if not top_down:
            rows = rows[::-1]
        if bpp == 24:
            px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
            return h, w, 3, px.copy()
        idx = rows[:, :w].astype(np.int64)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("pixel index outside the palette")
        return h, w, 3, pal[idx].astype(np.uint8)

    return encode, decode


bmp_encode, bmp_decode = _bmp_codec()


gif_encode, gif_decode = _gif_codec()

decode_real = _decode_real_factory(
    png_decode, jpeg_decode, wav_decode, avi_frame_blobs, gif_decode,
    bmp_decode,
)


def library_kernels() -> dict:
    """Library-backed kernels for the ``kernel=`` injection points of
    the decode operators, each adapted to the matching from-scratch
    decoder's contract so they are drop-in (the plan never changes —
    only the per-Arrow-batch Python callable).  The from-scratch
    decoders remain the default AND the correctness oracle for any
    kernel returned here (tests/test_media_kernels.py).

    Always returned: {"wav": bytes -> (rate, int16 ndarray)} — backed
    by the stdlib ``wave`` module, so this adapter is live in every
    environment and cross-validates the from-scratch RIFF parser
    against an independent implementation.  When PIL exists the dict
    also carries {"jpeg": bytes -> (h, w, ch, flat uint8), "gif":
    bytes -> (h, w, [RGB frames], [delays_cs]), "bmp": like jpeg};
    without PIL those keys are simply absent (no ImportError — check
    membership)."""
    import io

    import numpy as np

    def wav_k(data):
        import wave

        with wave.open(io.BytesIO(bytes(data)), "rb") as w:
            if w.getnchannels() != 1 or w.getsampwidth() != 2:
                raise ValueError("stdlib wav kernel: mono 16-bit PCM only")
            pcm = np.frombuffer(
                w.readframes(w.getnframes()), dtype="<i2"
            ).astype(np.int16)
            return w.getframerate(), pcm

    kernels = {"wav": wav_k}
    try:
        from PIL import Image
    except ImportError:
        return kernels

    def jpeg_k(data):
        im = Image.open(io.BytesIO(bytes(data)))
        arr = np.asarray(im)
        if arr.ndim == 2:
            h, w = arr.shape
            return h, w, 1, arr.astype(np.uint8).reshape(-1)
        h, w, ch = arr.shape
        return h, w, ch, arr.astype(np.uint8).reshape(-1)

    def gif_k(data):
        im = Image.open(io.BytesIO(bytes(data)))
        frames, delays = [], []
        for fi in range(getattr(im, "n_frames", 1)):
            im.seek(fi)
            frames.append(np.asarray(im.convert("RGB"), dtype=np.uint8))
            # PIL reports ms; the container stores centiseconds
            delays.append(int(im.info.get("duration", 0)) // 10)
        h, w = frames[0].shape[:2]
        return h, w, frames, delays

    def bmp_k(data):
        im = Image.open(io.BytesIO(bytes(data))).convert("RGB")
        arr = np.asarray(im, dtype=np.uint8)
        h, w, ch = arr.shape
        return h, w, ch, arr.reshape(-1)

    kernels.update({"jpeg": jpeg_k, "gif": gif_k, "bmp": bmp_k})
    return kernels


AUDIO_FEATURES_SCHEMA = (
    "doc_id long, n_samples long, mean_sample long, energy long, "
    "peak_dev long, zcr long, rms double"
)


def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO feature extraction over decoded WAV samples
    (q_media_audio_features): the real decode pipeline of
    media_decode_wav followed by the classic signal features — energy,
    RMS, peak deviation, and zero-crossing rate — computed around each
    clip's integer mean.

    Everything is exact integer math on the decoded int16 samples
    (mean = floor(Σs/n); energy = Σ(s−mean)²; crossings where adjacent
    deviations change sign), with ONE double sqrt for the RMS — so the
    DuckDB oracle reconstructs every feature from the generation
    formula and the value hash certifies the decode AND the feature
    math.  Same ASCII fixture assumption as media_decode_wav.

    Scale shape: binaryFile-style map-only Arrow kernel — feature
    extraction fuses with the decode; nothing shuffles."""
    enc, dec = wav_encode, wav_decode  # closure-captured, by value

    def rows(doc_id, buf):
        _, pcm = dec(enc(buf.astype(np.int16)))
        s = pcm.astype(np.int64)
        n = int(s.size)
        mu = int(s.sum()) // n
        d = s - mu
        energy = int((d * d).sum())
        # rms floor-quantized to 1e-6: floor is tie-free, so the value
        # is identical under python round-half-even vs SQL
        # round-half-away semantics
        return [(
            doc_id, n, mu, energy, int(np.abs(d).max()),
            int(((d[:-1] * d[1:]) < 0).sum()),
            math.floor(math.sqrt(energy / n) * 1e6) / 1e6,
        )]

    return _per_doc(spark, sf_dir, AUDIO_FEATURES_SCHEMA, rows)
