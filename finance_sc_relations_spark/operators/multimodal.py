"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct; decode /
feature-extract / frame-sample run as Arrow-batched pandas UDFs over
mapInPandas. Two decode kernels are REAL stdlib decoders so the feature
contract is actually exercised end to end (the r2 oracle only checked hash
plumbing):

- BMP (24-bit uncompressed) via struct byte-offset parsing;
- PNG (8-bit RGB, non-interlaced) via stdlib zlib: chunk walk, IDAT
  inflate, and full per-scanline filter reconstruction (None/Sub/Up/
  Average/Paeth);
- WAV (16-bit PCM) via the stdlib `wave` module;
- MP4/ISO-BMFF METADATA via a real box walk (_parse_mp4: ftyp brand, mvhd
  timescale/duration, trak count, mdat range) — the extraction step every
  media pipeline runs before deciding whether to decode; frame sampling
  and features use the located mdat byte stream.

Formats needing external codecs (jpeg; mp4 SAMPLE decode) fall back to a
clearly-marked deterministic digest STUB — the Spark-side contract (schema,
batch shape, partition sizing) stays identical, and a real cluster swaps
the stub for PIL/libvips/ffmpeg without touching the DAG.

Scale notes: binary payloads inflate row size, so media stages repartition by
size (bytes-aware) before the UDF and keep
spark.sql.execution.arrow.maxRecordsPerBatch low enough that a batch of
payloads fits executor memory.
"""

from __future__ import annotations

import hashlib
import io
import logging
import struct
import wave
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META = StructType(
    [
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("format", StringType(), True),       # bmp|png|wav|mp4...
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField("meta", MEDIA_META, False),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("content_sha", StringType(), False),
        StructField("features", ArrayType(FloatType()), False),
        # format-specific integers parsed FROM THE PAYLOAD (not copied from
        # the metadata struct): bmp/png width/height from the headers, wav
        # rate/samples from the RIFF chunks, mp4 timescale/duration/tracks
        # from the ISO-BMFF mvhd/trak walk. Empty for digest-stub formats.
        StructField("probe", MapType(StringType(), LongType()), False),
    ]
)

AUDIO_RATE = 8000  # Hz, 16-bit mono PCM for the synthetic corpus

_LOG = logging.getLogger(__name__)



# ---------------------------------------------------------------------------
# Decode kernels
# ---------------------------------------------------------------------------

def _decode_bmp(payload: bytes) -> np.ndarray:
    """REAL decoder: 24-bit uncompressed BMP -> (h, w, 3) float32 BGR pixel
    block, parsed by byte offsets (BITMAPFILEHEADER + BITMAPINFOHEADER:
    pixel-array offset @10, width @18, height @22, bpp @28; rows bottom-up,
    4-byte padded)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (off,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    if bpp != 24:
        raise ValueError(f"only 24-bit BMP supported, got {bpp}")
    row_bytes = (w * 3 + 3) & ~3
    rows = []
    for r in range(abs(h)):
        start = off + r * row_bytes
        row = np.frombuffer(payload, dtype=np.uint8, count=w * 3, offset=start)
        rows.append(row.reshape(w, 3))
    # positive height = bottom-up storage; normalize to top-down
    block = np.stack(rows[::-1] if h > 0 else rows)
    return block.astype(np.float32)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _decode_png(payload: bytes) -> np.ndarray:
    """REAL decoder: 8-bit RGB non-interlaced PNG -> (h, w, 3) float32
    pixel block via stdlib zlib — chunk walk (IHDR/IDAT/IEND), inflate,
    then per-scanline filter reconstruction: None(0), Sub(1), Up(2),
    Average(3), Paeth(4)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    w = h = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color != 2 or inter != 0:
                raise ValueError("only 8-bit RGB non-interlaced supported")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    bpp, stride = 3, w * 3 + 1
    prior = bytearray(w * 3)
    rows = []
    for r in range(h):
        ft = raw[r * stride]
        line = bytearray(raw[r * stride + 1 : (r + 1) * stride])
        if ft == 1:  # Sub
            for i in range(bpp, len(line)):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(line)):
                line[i] = (line[i] + prior[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(line)):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (left + prior[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(line)):
                left = line[i - bpp] if i >= bpp else 0
                ul = prior[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prior[i], ul)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        prior = line
        rows.append(np.frombuffer(bytes(line), np.uint8).reshape(w, 3))
    return np.stack(rows).astype(np.float32)


def _decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL decoder: 16-bit PCM WAV -> (int16 sample array, frame rate) via
    the stdlib wave module."""
    with wave.open(io.BytesIO(payload)) as wf:
        if wf.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM supported")
        frames = wf.readframes(wf.getnframes())
        rate = wf.getframerate()
    return np.frombuffer(frames, dtype="<i2"), rate


def _decode_stub(payload: bytes) -> np.ndarray:
    """STUB for formats whose codecs aren't in this container (jpeg, and
    mp4 SAMPLE DECODE — mp4 metadata is really parsed, see _parse_mp4): a
    deterministic digest block stands in for decoded content so the
    plumbing stays testable. Clearly NOT a content decode."""
    digest = hashlib.blake2b(payload, digest_size=32).digest()
    return np.frombuffer(digest, dtype=np.uint8).astype(np.float32)


def _parse_jpeg(payload: bytes) -> dict:
    """REAL JPEG/JFIF metadata walk (ITU-T T.81 marker structure) — pure
    stdlib, no codec: SOI check, marker-segment scan (skipping FF fill
    bytes), frame header (SOF0/1/2) for precision/height/width/component
    count, and the entropy-coded byte range between SOS and EOI. Full
    sample decode (huffman + dequant + IDCT) still needs a codec and stays
    stubbed. Raises ValueError on non-JPEG bytes."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    out = {
        "width": None, "height": None, "n_components": None,
        "precision": None, "entropy_off": None, "entropy_len": 0,
    }
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        while pos < len(payload) and payload[pos] == 0xFF:
            pos += 1  # FF fill bytes are legal padding
        if pos + 3 > len(payload):  # marker byte + 2-byte length must fit
            raise ValueError("truncated JPEG marker segment")
        marker = payload[pos]
        pos += 1
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2 frame header
            if pos + 8 > len(payload):
                raise ValueError("truncated JPEG SOF header")
            out["precision"] = payload[pos + 2]
            out["height"] = int.from_bytes(payload[pos + 3 : pos + 5], "big")
            out["width"] = int.from_bytes(payload[pos + 5 : pos + 7], "big")
            out["n_components"] = payload[pos + 7]
        if marker == 0xDA:  # SOS: entropy-coded data runs until EOI
            seg_len = int.from_bytes(payload[pos : pos + 2], "big")
            start = pos + seg_len
            end = payload.rfind(b"\xff\xd9")
            if end < start:
                raise ValueError("JPEG missing EOI after SOS")
            out["entropy_off"], out["entropy_len"] = start, end - start
            break
        seg_len = int.from_bytes(payload[pos : pos + 2], "big")
        if seg_len < 2:
            raise ValueError("malformed JPEG segment length")
        pos += seg_len
    if out["width"] is None:
        raise ValueError("JPEG missing SOF frame header")
    if out["entropy_off"] is None:
        # headers-only stream (e.g. truncated before SOS): not a parse the
        # feature path can use — fail to the digest stub, don't crash later
        raise ValueError("JPEG missing SOS entropy segment")
    return out


def _parse_mp4(payload: bytes) -> dict:
    """REAL ISO-BMFF metadata walk (ISO/IEC 14496-12) — pure stdlib
    int.from_bytes, no codec: top-level box scan for ftyp/moov/mdat, then a
    moov descent for mvhd (version 0 OR 1: timescale + duration) and the
    trak count. This is the metadata-extraction step every real media
    pipeline runs before deciding whether to decode at all. Returns
    {brand, timescale, duration (media units), duration_ms, n_tracks,
    mdat_off, mdat_len}. Raises ValueError on anything that is not a
    plausible BMFF stream — callers fall back to the digest stub."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no leading ftyp)")

    def boxes(buf: bytes, start: int, end: int):
        pos = start
        while pos + 8 <= end:
            size = int.from_bytes(buf[pos : pos + 4], "big")
            btype = buf[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:  # 64-bit largesize
                size = int.from_bytes(buf[pos + 8 : pos + 16], "big")
                hdr = 16
            elif size == 0:  # box extends to end of enclosing scope
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError("malformed BMFF box size")
            yield btype, pos + hdr, pos + size
            pos += size

    out = {
        "brand": None, "timescale": None, "duration": None,
        "duration_ms": None, "n_tracks": 0, "mdat_off": None, "mdat_len": 0,
    }
    for btype, body, bend in boxes(payload, 0, len(payload)):
        if btype == b"ftyp":
            out["brand"] = payload[body : body + 4].decode("latin-1")
        elif btype == b"mdat":
            out["mdat_off"], out["mdat_len"] = body, bend - body
        elif btype == b"moov":
            for ctype, cbody, cend in boxes(payload, body, bend):
                if ctype == b"mvhd":
                    # v0 needs 20 bytes to reach duration, v1 needs 32 —
                    # reject shorter (e.g. empty) boxes instead of
                    # indexing past them
                    if cend - cbody < 20 or (
                        payload[cbody] == 1 and cend - cbody < 32
                    ):
                        raise ValueError("truncated mvhd box")
                    version = payload[cbody]
                    if version == 1:  # 64-bit times
                        ts_off, dur_off, dur_n = cbody + 20, cbody + 24, 8
                    else:
                        ts_off, dur_off, dur_n = cbody + 12, cbody + 16, 4
                    out["timescale"] = int.from_bytes(
                        payload[ts_off : ts_off + 4], "big"
                    )
                    out["duration"] = int.from_bytes(
                        payload[dur_off : dur_off + dur_n], "big"
                    )
                elif ctype == b"trak":
                    out["n_tracks"] += 1
    if not out["timescale"]:
        raise ValueError("BMFF stream missing moov/mvhd timescale")
    out["duration_ms"] = out["duration"] * 1000 // out["timescale"]
    return out


def _decode_and_probe(
    payload: bytes, media_type: str, fmt: str | None
) -> tuple[np.ndarray, dict]:
    """ONE parse per payload -> (feature value stream in [0, 1],
    payload-parsed metadata probe). The probe integers come from the
    payload itself (never copied from the metadata struct — the probe is
    how the pipeline audits that metadata): bmp/png header dims, wav
    rate/samples, jpeg SOF dims, mp4 timescale/duration/track/mdat
    figures. Unparsable/stub formats fall back to (digest block, {}).
    Kept single-pass on purpose: this runs per row inside the hot
    mapInPandas stage, and payload decode dominates its cost."""
    try:
        if media_type == "image" and fmt == "bmp":
            block = _decode_bmp(payload)
            h, w = block.shape[0], block.shape[1]
            return block.ravel() / 255.0, {"width": w, "height": h}
        if media_type == "image" and fmt == "png":
            block = _decode_png(payload)
            h, w = block.shape[0], block.shape[1]
            return block.ravel() / 255.0, {"width": w, "height": h}
        if media_type == "audio" and fmt == "wav":
            samples, rate = _decode_wav(payload)
            values = (samples.astype(np.float32) / 32768.0 + 1.0) / 2.0
            return values, {"rate_hz": rate, "n_samples": len(samples)}
        if media_type == "video" and fmt == "mp4":
            info = _parse_mp4(payload)
            probe = {
                "timescale": info["timescale"],
                "duration_ms": info["duration_ms"],
                "n_tracks": info["n_tracks"],
                "mdat_bytes": info["mdat_len"],
            }
            if info["mdat_off"] is None:
                # valid metadata but no media data (e.g. a DASH/fMP4 init
                # segment): keep the real probe, stub the feature stream
                return _decode_stub(payload) / 255.0, probe
            mdat = np.frombuffer(
                payload, np.uint8,
                count=info["mdat_len"], offset=info["mdat_off"],
            )
            return mdat.astype(np.float32) / 255.0, probe
        if media_type == "image" and fmt == "jpeg":
            # feature source = the REAL entropy-coded byte range located by
            # the marker walk (sample decode stays stubbed: needs a codec)
            info = _parse_jpeg(payload)
            seg = np.frombuffer(
                payload, np.uint8,
                count=info["entropy_len"], offset=info["entropy_off"],
            )
            return seg.astype(np.float32) / 255.0, {
                "width": info["width"],
                "height": info["height"],
                "n_components": info["n_components"],
            }
    except (
        ValueError, IndexError, struct.error, EOFError, wave.Error,
        zlib.error,
    ):
        pass
    return _decode_stub(payload) / 255.0, {}


# ---------------------------------------------------------------------------
# Feature extraction
# ---------------------------------------------------------------------------

def extract_media_features(media: DataFrame, feature_dim: int = 8) -> DataFrame:
    """media (MEDIA_SCHEMA) -> per-item feature vector + content hash.

    features = per-bin means of the decoded value stream over feature_dim
    equal splits — computed from REAL decoded pixels/samples for bmp/wav,
    digest-stub values otherwise. Payload bytes arrive zero-copy through
    Arrow; one decode per item per pass."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, nbytes, shas, feats, probes = [], [], [], [], []
            for rec in batch.itertuples(index=False):
                payload = bytes(rec.payload)
                meta = rec.meta or {}
                mtype, fmt = meta.get("media_type"), meta.get("format")
                # ONE parse serves both features and probe (decode is the
                # dominant per-row cost in this stage)
                values, probe = _decode_and_probe(payload, mtype, fmt)
                vec = np.array(
                    [b.mean() if b.size else 0.0
                     for b in np.array_split(values, feature_dim)],
                    dtype=np.float32,
                )
                ids.append(rec.media_id)
                nbytes.append(len(payload))
                shas.append(hashlib.sha256(payload).hexdigest())
                feats.append(vec)
                probes.append(probe)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "n_bytes": nbytes,
                    "content_sha": shas,
                    "features": feats,
                    "probe": probes,
                }
            )

    return media.mapInPandas(_map, schema=FEATURE_SCHEMA)


def sample_frames(
    media: DataFrame, every_ms: int = 1000, max_frames: int = 10_000
) -> DataFrame:
    """Frame/window sampling: one row per sampled offset of every item with
    a duration (offsets from typed metadata, which IS real).

    - audio/wav: the frame payload is the REAL PCM byte slice of the
      [offset, offset+every_ms) window, cut from the wave-decoded samples;
    - video/mp4: the mvhd duration from the REAL ISO-BMFF walk drives the
      sampling grid (overriding stale struct metadata), and the frame
      payload is the duration-proportional mdat byte range for the window
      — the coarse stand-in for a sample-table (stts/stsz/stco) seek; a
      full codec decode of the seeked frame still needs ffmpeg; an
      mdat-less stream (DASH/fMP4 init segment) keeps the parsed duration
      but falls to digest frames;
    - unparsable/other video: deterministic digest of (payload, offset).

    max_frames caps rows per item: durations are payload-parsed, so one
    corrupt/hostile mvhd (timescale=1, duration=2^32) must not make a
    single row explode into billions of frames and wedge its executor —
    10,000 frames covers ~2.8 h of video at 1 fps; raise it deliberately
    for long-form media.

    Output: (media_id, frame_index, offset_ms, frame_payload)."""
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("frame_index", IntegerType(), False),
            StructField("offset_ms", LongType(), False),
            StructField("frame_payload", BinaryType(), False),
        ]
    )

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            n_clamped = 0
            for rec in batch.itertuples(index=False):
                meta = rec.meta or {}
                duration = meta.get("duration_ms") or 0
                payload = bytes(rec.payload)
                is_wav = (
                    meta.get("media_type") == "audio"
                    and meta.get("format") == "wav"
                )
                mp4 = None
                if is_wav:
                    try:
                        samples, rate = _decode_wav(payload)
                    except (
                        ValueError, EOFError, wave.Error, struct.error,
                    ):
                        # corrupt / non-16-bit PCM: digest frames on the
                        # struct-metadata grid, never a task crash
                        is_wav = False
                elif (
                    meta.get("media_type") == "video"
                    and meta.get("format") == "mp4"
                ):
                    try:
                        mp4 = _parse_mp4(payload)
                        # the PARSED duration is authoritative over struct
                        # metadata — that is the point of the box walk
                        duration = mp4["duration_ms"]
                        if mp4["mdat_off"] is None:
                            # metadata-only stream: keep the parsed
                            # duration, emit digest frames
                            mp4 = None
                    except (ValueError, IndexError, struct.error):
                        mp4 = None
                # hostile-duration guard: payload-parsed durations are
                # attacker-controlled at web scale. Clamps are counted and
                # logged ONCE PER BATCH below (no-silent-caps without the
                # per-row log flood a hostile corpus would otherwise cause)
                if int(duration) > every_ms * max_frames:
                    n_clamped += 1
                duration = min(int(duration), every_ms * max_frames)
                for i, off in enumerate(range(0, int(duration), every_ms)):
                    if is_wav:
                        lo = off * rate // 1000
                        hi = (off + every_ms) * rate // 1000
                        frame = samples[lo:hi].astype("<i2").tobytes()
                    elif mp4 is not None:
                        # duration-proportional mdat byte range for the
                        # window (sample-table-free seek approximation)
                        d = max(int(duration), 1)
                        lo = mp4["mdat_off"] + mp4["mdat_len"] * off // d
                        hi = mp4["mdat_off"] + mp4["mdat_len"] * min(
                            off + every_ms, d
                        ) // d
                        frame = payload[lo:hi]
                    else:
                        # STUB: a real decoder seeks to `off` and decodes a
                        # frame; we emit a deterministic digest block.
                        frame = hashlib.blake2b(
                            payload + off.to_bytes(8, "big"), digest_size=16
                        ).digest()
                    rows.append((rec.media_id, i, off, frame))
            if n_clamped:
                _LOG.warning(
                    "sample_frames: clamped %d item(s) in this batch to "
                    "max_frames=%d (every_ms=%d); raise max_frames for "
                    "long-form media",
                    n_clamped, max_frames, every_ms,
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_index", "offset_ms", "frame_payload"]
            )

    return media.mapInPandas(_map, schema=schema)


# ---------------------------------------------------------------------------
# Synthetic corpus (REAL file formats, deterministic bytes)
# ---------------------------------------------------------------------------

def det_bytes(tag: str, n: int) -> bytes:
    """n deterministic bytes from counter-mode blake2b over `tag` — the
    fixture's randomness source (replicated independently in
    scripts/gen_expected.py)."""
    out = bytearray()
    c = 0
    while len(out) < n:
        out += hashlib.blake2b(f"{tag}|{c}".encode(), digest_size=64).digest()
        c += 1
    return bytes(out[:n])


def make_bmp(tag: str, width: int = 8, height: int = 8) -> bytes:
    """A real 24-bit uncompressed BMP with deterministic pixel bytes."""
    row_bytes = (width * 3 + 3) & ~3
    pix = bytearray()
    raw = det_bytes(tag, width * 3 * height)
    for r in range(height):
        row = raw[r * width * 3 : (r + 1) * width * 3]
        pix += row + b"\x00" * (row_bytes - len(row))
    off = 14 + 40
    size = off + len(pix)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return header + info + bytes(pix)


def make_png(tag: str, width: int = 8, height: int = 8) -> bytes:
    """A real 8-bit RGB non-interlaced PNG with deterministic pixels and a
    DIFFERENT filter type per scanline (row r uses filter r % 5) so the
    decoder's full None/Sub/Up/Average/Paeth reconstruction is exercised."""
    import zlib

    bpp = 3
    raw = det_bytes(tag, width * 3 * height)
    filtered = bytearray()
    prior = bytes(width * 3)
    for r in range(height):
        row = raw[r * width * 3 : (r + 1) * width * 3]
        ft = r % 5
        filtered.append(ft)
        if ft == 0:
            filtered += row
        elif ft == 1:
            filtered += bytes(
                (row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(len(row))
            )
        elif ft == 2:
            filtered += bytes(
                (row[i] - prior[i]) & 0xFF for i in range(len(row))
            )
        elif ft == 3:
            filtered += bytes(
                (row[i] - ((row[i - bpp] if i >= bpp else 0) + prior[i]) // 2)
                & 0xFF
                for i in range(len(row))
            )
        else:
            filtered += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - bpp] if i >= bpp else 0,
                        prior[i],
                        prior[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(len(row))
            )
        prior = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + chunk(b"IEND", b"")
    )


def make_wav(tag: str, duration_ms: int = 5000, rate: int = AUDIO_RATE) -> bytes:
    """A real 16-bit PCM mono WAV with deterministic sample bytes."""
    n_samples = duration_ms * rate // 1000
    pcm = det_bytes(tag, n_samples * 2)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm)
    return buf.getvalue()


def make_jpeg_shell(
    tag: str, width: int = 8, height: int = 8, entropy_bytes: int = 512
) -> bytes:
    """A structurally valid JPEG/JFIF shell: SOI + APP0(JFIF) + DQT +
    SOF0(dims, 3 components) + minimal DHT + SOS + deterministic
    entropy-coded bytes (FF bytes remapped so no accidental markers) + EOI.
    Marker walkers (incl. _parse_jpeg and the oracle's independent
    re-walk) recover real dimensions and the entropy range; the entropy
    payload is NOT a decodable scan — sample decode is explicitly out of
    scope without a codec."""

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01" + b"\x00\x00")
    dqt = seg(0xDB, b"\x00" + bytes([16] * 64))
    sof0 = seg(
        0xC0,
        b"\x08"
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + b"\x03"
        + b"\x01\x11\x00" + b"\x02\x11\x00" + b"\x03\x11\x00",
    )
    dht = seg(0xC4, b"\x00" + bytes([1] + [0] * 15) + b"\x00")
    sos = seg(0xDA, b"\x03" + b"\x01\x00\x02\x00\x03\x00" + b"\x00\x3f\x00")
    entropy = bytes(
        b if b != 0xFF else 0xFE for b in det_bytes(tag, entropy_bytes)
    )
    return b"\xff\xd8" + app0 + dqt + sof0 + dht + sos + entropy + b"\xff\xd9"


def make_mp4(
    tag: str,
    duration_ms: int = 5000,
    timescale: int = 1000,
    n_tracks: int = 1,
    mdat_bytes: int = 4096,
) -> bytes:
    """A minimal VALID ISO-BMFF stream: ftyp(isom) + moov(mvhd v0 with the
    given timescale/duration + one skeletal trak per track) + mdat with
    deterministic payload bytes. Enough structure for any standards-
    conforming box walker (incl. _parse_mp4 and the independent oracle
    re-walk in scripts/gen_expected.py) to recover brand, timescale,
    duration and track count; no codec data, so sample decode stays out of
    scope."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    duration = duration_ms * timescale // 1000
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"                      # version 0 + flags
        + (0).to_bytes(4, "big") * 2             # creation/modification time
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + b"\x00\x01\x00\x00"                    # rate 1.0 (16.16)
        + b"\x01\x00"                            # volume 1.0 (8.8)
        + bytes(10)                              # reserved
        + bytes(36)                              # identity matrix slot
        + bytes(24)                              # pre_defined
        + (n_tracks + 1).to_bytes(4, "big"),     # next_track_ID
    )
    traks = b""
    for t in range(n_tracks):
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07"                  # version 0, enabled flags
            + (0).to_bytes(4, "big") * 2
            + (t + 1).to_bytes(4, "big")         # track_ID
            + bytes(4)                           # reserved
            + duration.to_bytes(4, "big")
            + bytes(60),                         # reserved/layer/matrix/w/h
        )
        traks += box(b"trak", tkhd)
    return (
        box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isomiso2")
        + box(b"moov", mvhd + traks)
        + box(b"mdat", det_bytes(tag, mdat_bytes))
    )


def make_synthetic_media(spark, n: int = 50) -> DataFrame:
    """Deterministic fake media table for tests/benchmarks (no external
    data): REAL BMP + PNG images, WAV audio, and structurally valid
    ISO-BMFF mp4 video (parsed metadata real; sample decode stubbed)."""
    rows = []
    for i in range(n):
        mtype = ["image", "png", "audio", "video"][i % 4]
        if mtype == "image":
            # every second image slot (i % 8 == 4) is a JPEG shell so the
            # marker-walk probe tier is exercised alongside the real
            # decoders; bmp keeps the i % 8 == 0 slots (incl. media_id 0)
            if i % 8 == 4:
                payload = make_jpeg_shell(f"media{i}")
                meta = {"media_type": "image", "format": "jpeg",
                        "width": 8, "height": 8, "duration_ms": None}
            else:
                payload = make_bmp(f"media{i}")
                meta = {"media_type": "image", "format": "bmp",
                        "width": 8, "height": 8, "duration_ms": None}
        elif mtype == "png":
            payload = make_png(f"media{i}")
            meta = {"media_type": "image", "format": "png",
                    "width": 8, "height": 8, "duration_ms": None}
        elif mtype == "audio":
            payload = make_wav(f"media{i}")
            meta = {"media_type": "audio", "format": "wav",
                    "width": None, "height": None, "duration_ms": 5000}
        else:
            dur = 3000 + (i % 3) * 1000
            payload = make_mp4(
                f"media{i}", duration_ms=dur, n_tracks=1 + (i // 4) % 2
            )
            # struct metadata deliberately STALE (always 5000): the BMFF
            # walk must override it (sample_frames trusts the parse)
            meta = {"media_type": "video", "format": "mp4",
                    "width": None, "height": None, "duration_ms": 5000}
        rows.append((i, payload, meta))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
