"""Multimodal (image) column plumbing.

Images are opaque ``binary`` columns with typed metadata (w, h, fmt) per the
BASELINE input_hint schema. The Spark-side plumbing — schema, partition
hygiene, Arrow batch shape, UDF signatures — is real and tested. Codecs
(round-4: no longer stub-only):

- PPM (pure numpy), BMP (24-bit BI_RGB, bottom-up, row padding) and PNG
  (8-bit RGB/RGBA non-interlaced, all five row filters, stdlib zlib) decode
  FOR REAL — no imaging library needed; PNG/BMP/PPM encoders round-trip.
- Baseline JPEG (round-5, operators/jpeg_codec): SOF0 4:4:4 with the
  standard Annex-K tables, full encoder + decoder in pure numpy/stdlib;
  round-trip PSNR > 50 dB at the default quality (north-rule invariant
  is >= 40 dB).
- WAV (RIFF PCM16, chunk walk) decodes for real on the audio lane.
- AV CONTAINERS walk for real (round 5): MP4 sample tables
  (operators/mp4_parse), Matroska/WebM EBML blocks (operators/webm_parse),
  FLAC STREAMINFO + MP3 frame headers (operators/audio_parse) — sampled
  byte ranges, timestamps, durations and rates without decoding. Only the
  compressed CODEC PAYLOADS (H.26x/VP9/AV1 pixels, MP3/FLAC PCM) remain
  behind NotImplementedError — those genuinely require absent libraries.

Scale rule (SURVEY.md §7 hard part 6): the dedup hot path never touches
``bytes`` — it reads only caption/phash (column pruning keeps the scan
narrow); pixel work happens in a separate sampled verification pass.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rensa_spark.sources.synthetic import decode_ppm, psnr

# ----------------------------------------------------------- BMP (24-bit)


def decode_bmp(data: bytes) -> np.ndarray:
    """(h, w, 3) uint8 from an uncompressed 24-bit BI_RGB BMP
    (BITMAPINFOHEADER, the format every tool can write). Handles the 4-byte
    row padding, BGR channel order, and both bottom-up (positive height)
    and top-down (negative height) row layouts."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload (missing BM magic)")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMPs not supported")
    w, h_signed = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    raw = np.frombuffer(data, dtype=np.uint8, count=h * stride, offset=pix_off)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up storage
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(px: np.ndarray) -> bytes:
    """24-bit BI_RGB bottom-up BMP from (h, w, 3) uint8."""
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # RGB -> BGR, flip
    pix = body.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return header + pix


# ------------------------------------------------------------- PNG (zlib)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG row filters (spec §9: None/Sub/Up/Average/Paeth). Sub/
    Average/Paeth recurrences depend on the reconstructed left neighbor, so
    those rows loop per byte — fine for the sampled verification pass; the
    dedup hot path never decodes pixels."""
    out = np.zeros((h, stride), dtype=np.uint8)
    rowlen = stride + 1
    for y in range(h):
        ftype = int(raw[y * rowlen])
        line = raw[y * rowlen + 1 : (y + 1) * rowlen].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:  # None
            rec = line
        elif ftype == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ftype == 1:  # Sub
            rec = line.copy()
            for i in range(bpp, stride):
                rec[i] = (rec[i] + rec[i - bpp]) & 0xFF
        elif ftype == 3:  # Average
            rec = line.copy()
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (rec[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            rec = line.copy()
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (rec[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
    return out


def decode_png(data: bytes) -> np.ndarray:
    """(h, w, 3) uint8 from an 8-bit truecolor PNG (color type 2/RGB or
    6/RGBA — alpha dropped), non-interlaced. Pure stdlib zlib + numpy; all
    five row filters supported (pinned by the per-filter round-trip test)."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"IDAT":
            idat.extend(chunk)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in (2, 6) or comp != 0 or filt != 0:
        raise NotImplementedError(
            f"only 8-bit RGB/RGBA non-interlaced PNG supported "
            f"(depth={depth}, color={color})"
        )
    if interlace != 0:
        raise NotImplementedError("Adam7 interlacing not supported")
    ch = 3 if color == 2 else 4
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if len(raw) != h * (w * ch + 1):
        raise ValueError("PNG scanline payload size mismatch")
    px = _png_unfilter(raw, h, w * ch, ch).reshape(h, w, ch)
    return px[:, :, :3].copy()


def encode_png(px: np.ndarray) -> bytes:
    """8-bit RGB non-interlaced PNG (filter 0 rows) from (h, w, 3) uint8."""
    h, w, _ = px.shape

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    scan = np.zeros((h, w * 3 + 1), dtype=np.uint8)
    scan[:, 1:] = px.reshape(h, w * 3)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


def decode_pixels(data: bytes | None, fmt: str) -> np.ndarray | None:
    """Decode one image payload to (h, w, 3) uint8. PPM, BMP (24-bit),
    PNG (8-bit RGB/RGBA) and baseline JPEG (SOF0 4:4:4, operators/jpeg_codec
    — round-5) decode for real; only the av containers (mp4/webm, mp3/flac)
    remain stubbed."""
    if data is None:
        return None
    data = bytes(data)
    if fmt == "ppm":
        return decode_ppm(data)
    if fmt == "bmp":
        return decode_bmp(data)
    if fmt == "png":
        return decode_png(data)
    if fmt in ("jpeg", "jpg"):
        from rensa_spark.operators.jpeg_codec import decode_jpeg

        return decode_jpeg(data)
    raise NotImplementedError(
        f"decoder for fmt={fmt!r} requires an imaging library not present in "
        "this container; the Spark plumbing (schema/batching) is format-agnostic"
    )


def image_stats(df: DataFrame, bytes_col: str = "bytes", fmt_col: str = "fmt") -> DataFrame:
    """Per-image decoded statistics via mapInPandas (Arrow binary batches):
    adds mean_px, px_hash_ok (decoded pixel hash == stored phash)."""
    from rensa_spark.sources.synthetic import phash_of_pixels

    out_schema = (
        df.schema.simpleString()[7:-1] + ",mean_px double,px_phash long"
    )

    def gen(batches):
        for pdf in batches:
            means, phashes = [], []
            for data, fmt in zip(pdf[bytes_col], pdf[fmt_col]):
                px = decode_pixels(data, fmt)
                if px is None:
                    means.append(None)
                    phashes.append(None)
                else:
                    means.append(float(px.mean()))
                    phashes.append(phash_of_pixels(px))
            pdf = pdf.copy()
            pdf["mean_px"] = means
            pdf["px_phash"] = phashes
            yield pdf

    return df.mapInPandas(gen, out_schema)


def verify_payload_invariants(
    before: DataFrame, after: DataFrame, key_col: str = "image_id", sample: float = 0.1
) -> pd.DataFrame:
    """Per-row invariant check on a sample: caption equality + decoded-pixel
    PSNR (>=40dB for lossy, infinite for lossless passthrough). Driver-side
    on the sampled rows only — never a full-scan pixel shuffle."""
    cols = [key_col, "bytes", "fmt", "caption"]
    b = before.select(cols).sample(sample, seed=42).toPandas().set_index(key_col)
    if not len(b):
        b = before.select(cols).limit(50).toPandas().set_index(key_col)
    a = (
        after.select(cols)
        .join(
            before.select(F.col(key_col)).sample(sample, seed=42),
            key_col,
            "leftsemi",
        )
        .toPandas()
        .set_index(key_col)
    )
    rows = []
    for key in b.index.intersection(a.index):
        pb = decode_pixels(b.loc[key, "bytes"], b.loc[key, "fmt"])
        pa = decode_pixels(a.loc[key, "bytes"], a.loc[key, "fmt"])
        rows.append(
            {
                "key": key,
                "caption_equal": b.loc[key, "caption"] == a.loc[key, "caption"],
                "psnr": float("inf")
                if (pb is None and pa is None)
                else psnr(pb, pa),
            }
        )
    return pd.DataFrame(rows)


# ------------------------------------------------------- video / audio lanes
#
# Same contract as images: opaque binary column + typed metadata, real Spark
# plumbing (schema, Arrow batch shape, vectorized per-batch math), codecs for
# container formats stubbed. 'rawv' is a trivial decodable format so the
# sampling/fingerprint math is actually exercised end-to-end:
#   rawv video: 6-byte header (u16le n_frames, u16le h, u16le w) + n*h*w
#               grayscale uint8 frames
#   rawa audio: 4-byte header (u32le sample_rate) + int16le PCM samples


def decode_rawv(data: bytes) -> np.ndarray:
    """(n_frames, h, w) uint8 from the rawv layout."""
    head = np.frombuffer(data[:6], dtype=np.uint16)
    n, h, w = int(head[0]), int(head[1]), int(head[2])
    return np.frombuffer(data[6 : 6 + n * h * w], dtype=np.uint8).reshape(n, h, w)


def encode_rawv(frames: np.ndarray) -> bytes:
    n, h, w = frames.shape
    return np.array([n, h, w], dtype=np.uint16).tobytes() + frames.tobytes()


def frame_sample_indices(n_frames: int, k: int) -> np.ndarray:
    """Deterministic evenly-spaced frame picks (midpoint rule): the same
    closed form the Rho token sampler uses, so sampling is a pure function
    of n_frames — stable across partitionings and resumes."""
    k = min(k, n_frames)
    return ((np.arange(k, dtype=np.int64) * 2 + 1) * n_frames) // (2 * k)


def video_frame_sample(
    df: DataFrame,
    key_col: str = "video_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    n_frames: int = 4,
) -> DataFrame:
    """One row per sampled frame: (key, frame_idx, frame_phash, mean_px).
    rawv decodes for real; container formats (mp4/webm/...) raise
    NotImplementedError inside the worker — no imaging/ffmpeg libraries in
    this container; the plumbing is format-agnostic."""
    from rensa_spark.sources.synthetic import phash_of_pixels

    key_type = df.schema[key_col].dataType.simpleString()
    schema = f"key {key_type}, frame_idx int, frame_phash long, mean_px double"

    def gen(batches):
        for pdf in batches:
            keys, idxs, phs, means = [], [], [], []
            for key, data, fmt in zip(pdf[key_col], pdf[bytes_col], pdf[fmt_col]):
                if data is None:
                    continue
                if fmt != "rawv":
                    raise NotImplementedError(
                        f"video decoder for fmt={fmt!r} requires ffmpeg/imaging "
                        "libraries not present in this container"
                    )
                frames = decode_rawv(bytes(data))
                for fi in frame_sample_indices(frames.shape[0], n_frames):
                    px = frames[int(fi)]
                    keys.append(key)
                    idxs.append(int(fi))
                    # grayscale frame -> 3-channel for the shared phash
                    phs.append(phash_of_pixels(np.repeat(px[:, :, None], 3, axis=2)))
                    means.append(float(px.mean()))
            yield pd.DataFrame(
                {"key": keys, "frame_idx": np.array(idxs, dtype=np.int32),
                 "frame_phash": np.array(phs, dtype=np.int64),
                 "mean_px": np.array(means, dtype=np.float64)}
            )

    return df.select(key_col, bytes_col, fmt_col).mapInPandas(gen, schema)


def video_frame_ranges(
    df: DataFrame,
    key_col: str = "video_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    n_frames: int = 4,
    keyframes_only: bool = True,
) -> DataFrame:
    """One row per SAMPLED sample of an MP4 container: (key, frame_idx,
    offset, size, pts_s, keyframe) — the container-walk half of video
    frame sampling (round 5, operators/mp4_parse). At 100 TB this is the
    operation that matters: the sample tables live in a few KB of `moov`,
    so picking k keyframes and issuing byte-range reads into `mdat` never
    decodes (or even reads) the other 99% of the payload. The codec
    payload itself stays opaque (no decoder libraries here) — pixel-level
    frame work remains behind video_frame_sample's declared
    NotImplementedError for container formats.

    Sampling picks ``n_frames`` midpoint-rule indices over the keyframe
    set (``keyframes_only=True``, the fetch-efficient choice: keyframes
    decode standalone) or over all samples. WebM/Matroska files take the
    EBML block walk (operators/webm_parse) — same output contract."""
    from rensa_spark.operators.mp4_parse import mp4_sample_table
    from rensa_spark.operators.webm_parse import webm_block_ranges

    key_type = df.schema[key_col].dataType.simpleString()
    schema = (
        f"key {key_type}, frame_idx int, offset long, size long, "
        "pts_s double, keyframe boolean"
    )

    def gen(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("key", "frame_idx", "offset", "size", "pts_s", "keyframe")}
            for key, data, fmt in zip(pdf[key_col], pdf[bytes_col], pdf[fmt_col]):
                if data is None:
                    continue
                if fmt == "mp4":
                    tab = mp4_sample_table(bytes(data))
                elif fmt == "webm":
                    tab = webm_block_ranges(bytes(data))
                else:
                    raise NotImplementedError(
                        f"sample-table parsing for fmt={fmt!r} not supported "
                        "(mp4/ISO-BMFF and webm/Matroska)"
                    )
                pool = (
                    np.nonzero(tab["keyframe"])[0]
                    if keyframes_only and tab["keyframe"].any()
                    else np.arange(len(tab["size"]))
                )
                picks = pool[frame_sample_indices(len(pool), n_frames)]
                for fi in picks:
                    out["key"].append(key)
                    out["frame_idx"].append(int(fi))
                    out["offset"].append(int(tab["offset"][fi]))
                    out["size"].append(int(tab["size"][fi]))
                    out["pts_s"].append(float(tab["pts"][fi]))
                    out["keyframe"].append(bool(tab["keyframe"][fi]))
            yield pd.DataFrame(
                {
                    "key": out["key"],
                    "frame_idx": np.array(out["frame_idx"], dtype=np.int32),
                    "offset": np.array(out["offset"], dtype=np.int64),
                    "size": np.array(out["size"], dtype=np.int64),
                    "pts_s": np.array(out["pts_s"], dtype=np.float64),
                    "keyframe": np.array(out["keyframe"], dtype=bool),
                }
            )

    return df.select(key_col, bytes_col, fmt_col).mapInPandas(gen, schema)


def audio_stream_info(
    df: DataFrame,
    key_col: str = "audio_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Per-payload audio stream metadata WITHOUT decoding audio samples:
    (key, sample_rate, channels, duration_s, n_units). Round 5
    (operators/audio_parse): FLAC via the STREAMINFO block, MP3 via an
    MPEG frame-header walk, WAV via the RIFF fmt/data chunks — corpus
    duration/rate statistics at header-read cost; PCM-level features stay
    in audio_features (and compressed payload decode stays a declared
    stub)."""
    from rensa_spark.operators.audio_parse import flac_streaminfo, mp3_frame_walk

    key_type = df.schema[key_col].dataType.simpleString()
    schema = (
        f"key {key_type}, sample_rate int, channels int, "
        "duration_s double, n_units long"
    )

    def gen(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("key", "sample_rate", "channels", "duration_s", "n_units")}
            for key, data, fmt in zip(pdf[key_col], pdf[bytes_col], pdf[fmt_col]):
                if data is None:
                    continue
                data = bytes(data)
                if fmt == "flac":
                    info = flac_streaminfo(data)
                    row = (info["sample_rate"], info["channels"],
                           info["duration_s"], info["total_samples"])
                elif fmt == "mp3":
                    info = mp3_frame_walk(data)
                    row = (info["sample_rate"], 0,  # channel mode not walked
                           info["duration_total_s"], info["n_frames"])
                elif fmt == "wav":
                    sr, samples = decode_wav(data)
                    # real channel count from the fmt chunk (round-5
                    # advice: decode_wav downmixes, so its output is mono
                    # but the STREAM metadata must report the source)
                    row = (sr, _wav_channels(data), len(samples) / sr,
                           len(samples))
                else:
                    raise NotImplementedError(
                        f"stream-info parsing for fmt={fmt!r} not supported"
                    )
                out["key"].append(key)
                out["sample_rate"].append(row[0])
                out["channels"].append(row[1])
                out["duration_s"].append(row[2])
                out["n_units"].append(row[3])
            yield pd.DataFrame(
                {
                    "key": out["key"],
                    "sample_rate": np.array(out["sample_rate"], dtype=np.int32),
                    "channels": np.array(out["channels"], dtype=np.int32),
                    "duration_s": np.array(out["duration_s"], dtype=np.float64),
                    "n_units": np.array(out["n_units"], dtype=np.int64),
                }
            )

    return df.select(key_col, bytes_col, fmt_col).mapInPandas(gen, schema)


def _wav_channels(data: bytes) -> int:
    """Channel count from the RIFF fmt chunk (metadata only — decode_wav
    downmixes to mono but stream info must report the source layout)."""
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", data, pos + 4)
        if cid == b"fmt ":
            return int(struct.unpack_from("<H", data, pos + 10)[0])
        pos += 8 + clen + (clen & 1)
    return 1  # unreachable after a successful decode_wav (fmt required)


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, mono float64 samples in int16 range) from a RIFF/WAVE
    PCM payload. Walks the chunk list (LIST/INFO etc. skipped), supports
    16-bit PCM (format tag 1), any channel count (averaged to mono)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    sr = None
    n_channels = None
    bits = None
    pcm = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)  # chunks pad to even offsets
        if cid == b"fmt ":
            tag, n_channels, sr = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if tag != 1:
                raise NotImplementedError(f"WAVE format tag {tag} (not PCM)")
        elif cid == b"data":
            pcm = body
    if sr is None or pcm is None:
        raise ValueError("WAVE missing fmt/data chunk")
    if bits != 16:
        raise NotImplementedError(f"only 16-bit PCM WAV supported (got {bits})")
    samples = np.frombuffer(
        pcm, dtype="<i2", count=len(pcm) // 2
    ).astype(np.float64)
    if n_channels > 1:
        samples = samples[: len(samples) - len(samples) % n_channels]
        samples = samples.reshape(-1, n_channels).mean(axis=1)
    return int(sr), samples


def encode_wav(sr: int, samples: np.ndarray) -> bytes:
    """Mono 16-bit PCM RIFF/WAVE from int16-range samples."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def audio_features(
    df: DataFrame,
    key_col: str = "audio_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """(key, n_samples, sample_rate, rms, zero_crossings) per clip — the
    feature-extract stage of an audio dedup pipeline. rawa AND wav (RIFF
    PCM16) decode for real (vectorized numpy over the PCM buffer);
    mp3/flac/... stubbed."""
    key_type = df.schema[key_col].dataType.simpleString()
    schema = (
        f"key {key_type}, n_samples long, sample_rate int, rms double, "
        "zero_crossings long"
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for key, data, fmt in zip(pdf[key_col], pdf[bytes_col], pdf[fmt_col]):
                if data is None:
                    continue
                data = bytes(data)
                if fmt == "rawa":
                    sr = int(np.frombuffer(data[:4], dtype=np.uint32)[0])
                    pcm = np.frombuffer(data[4:], dtype=np.int16).astype(np.float64)
                elif fmt == "wav":
                    sr, pcm = decode_wav(data)
                else:
                    raise NotImplementedError(
                        f"audio decoder for fmt={fmt!r} requires codec "
                        "libraries not present in this container"
                    )
                rows.append(
                    {
                        "key": key,
                        "n_samples": len(pcm),
                        "sample_rate": sr,
                        "rms": float(np.sqrt((pcm ** 2).mean())) if len(pcm) else 0.0,
                        "zero_crossings": int((np.diff(np.signbit(pcm)) != 0).sum())
                        if len(pcm) > 1
                        else 0,
                    }
                )
            yield pd.DataFrame(rows, columns=["key", "n_samples", "sample_rate", "rms", "zero_crossings"])

    return df.select(key_col, bytes_col, fmt_col).mapInPandas(gen, schema)
