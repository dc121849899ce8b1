"""Multimodal binary columns: REAL bmp/wav decode kernels (stdlib), digest
stub for codec-needing formats; schema, batching, determinism."""

import hashlib
import struct

import numpy as np

from finance_sc_relations_spark.operators.multimodal import (
    AUDIO_RATE,
    _decode_bmp,
    _decode_wav,
    det_bytes,
    extract_media_features,
    make_bmp,
    make_mp4,
    make_synthetic_media,
    make_wav,
    sample_frames,
)


def test_bmp_decode_roundtrip():
    """The decoded pixel block must equal the bytes the generator planted —
    checked against an independent manual byte-offset read."""
    payload = make_bmp("t1", width=5, height=3)  # width 5 forces row padding
    block = _decode_bmp(payload)
    assert block.shape == (3, 5, 3)
    raw = det_bytes("t1", 5 * 3 * 3)
    # independent read: offset from header, bottom-up rows, 4-byte padding
    off = int.from_bytes(payload[10:14], "little")
    row_bytes = (5 * 3 + 3) & ~3
    for r in range(3):
        planted = raw[r * 15 : (r + 1) * 15]
        stored = payload[off + r * row_bytes : off + r * row_bytes + 15]
        assert planted == stored
        # decoder normalizes to top-down: planted row r is decoded row h-1-r
        assert bytes(block[3 - 1 - r].astype(np.uint8).ravel()) == planted


def test_wav_decode_roundtrip():
    payload = make_wav("t2", duration_ms=100)
    samples, rate = _decode_wav(payload)
    assert rate == AUDIO_RATE
    assert len(samples) == 100 * AUDIO_RATE // 1000
    assert samples.tobytes() == det_bytes("t2", len(samples) * 2)


def test_feature_extraction_real_decode(spark):
    media = make_synthetic_media(spark, n=12)
    a = extract_media_features(media).toPandas().sort_values("media_id")
    b = extract_media_features(media).toPandas().sort_values("media_id")
    assert list(a["content_sha"]) == list(b["content_sha"])
    assert all(len(f) == 8 for f in a["features"])
    # image features are REAL per-bin pixel means: recompute independently
    img = a[a.media_id == 0].iloc[0]
    vals = np.frombuffer(det_bytes("media0", 8 * 8 * 3), dtype=np.uint8)
    expected = [
        float(np.mean(c)) / 255.0 for c in np.array_split(vals.astype(float), 8)
    ]
    # decoded row order (top-down) permutes rows but bins are row-aligned:
    # 8x8x3 = 192 values, 8 bins of 24 = one pixel ROW per bin, reversed
    assert np.allclose(sorted(img["features"]), sorted(expected), atol=1e-6)
    assert (a["n_bytes"] > 0).all()


def test_frame_sampling_real_audio_windows(spark):
    from finance_sc_relations_spark.operators.multimodal import _parse_mp4

    media = make_synthetic_media(spark, n=9)
    frames = sample_frames(media, every_ms=1000).toPandas()
    vids = frames.groupby("media_id").size()
    # 4-way cycle: audio slots are i%4==2 (ids 2, 6; 5000ms -> 5 frames),
    # video i%4==3 (ids 3, 7; mvhd duration 3000/4000ms -> 3/4 frames —
    # the PARSED duration, overriding the deliberately-stale 5000ms struct
    # metadata); images (bmp 0/4/8, png 1/5) have no duration -> no frames
    assert sorted(vids.index) == [2, 3, 6, 7]
    assert vids.to_dict() == {2: 5, 3: 3, 6: 5, 7: 4}
    assert sorted(frames[frames.media_id == 3]["offset_ms"]) == [0, 1000, 2000]
    # audio frames are the REAL PCM slices of each 1s window
    pcm = det_bytes("media2", 5000 * AUDIO_RATE // 1000 * 2)
    aud = frames[frames.media_id == 2].sort_values("offset_ms")
    assert len(aud) == 5  # guard: the loop below must actually run
    for _, row in aud.iterrows():
        lo = int(row.offset_ms) * AUDIO_RATE // 1000 * 2
        hi = lo + AUDIO_RATE * 2
        assert bytes(row.frame_payload) == pcm[lo:hi]
    # video frames are the REAL duration-proportional mdat byte ranges
    payload = make_mp4("media3", duration_ms=3000, n_tracks=1)
    info = _parse_mp4(payload)
    vid = frames[frames.media_id == 3].sort_values("offset_ms")
    for _, row in vid.iterrows():
        off = int(row.offset_ms)
        lo = info["mdat_off"] + info["mdat_len"] * off // 3000
        hi = info["mdat_off"] + info["mdat_len"] * min(off + 1000, 3000) // 3000
        assert bytes(row.frame_payload) == payload[lo:hi]


def test_png_decode_roundtrip_all_filters():
    """make_png writes one scanline per filter type (r % 5); the stdlib
    decoder must reconstruct the exact deterministic pixel bytes through
    None/Sub/Up/Average/Paeth."""
    import numpy as np
    import pytest

    from finance_sc_relations_spark.operators.multimodal import (
        _decode_png,
        det_bytes,
        make_png,
    )

    for tag, w, h in [("p1", 8, 8), ("p2", 5, 7), ("p3", 1, 6)]:
        px = _decode_png(make_png(tag, w, h))
        want = np.frombuffer(det_bytes(tag, w * 3 * h), np.uint8).reshape(
            h, w, 3
        )
        assert px.shape == (h, w, 3)
        assert (px == want.astype(np.float32)).all()

    with pytest.raises(ValueError, match="not a PNG"):
        _decode_png(b"BM" + b"\x00" * 64)


def test_png_features_differ_from_digest_stub(spark):
    """PNG items are decoded for real: their features equal the pixel-bin
    means, not the digest-stub values the old path produced."""
    import numpy as np

    from finance_sc_relations_spark.operators.multimodal import (
        _decode_stub,
        det_bytes,
        extract_media_features,
        make_png,
        make_synthetic_media,
    )

    media = make_synthetic_media(spark, n=8)
    feats = {
        r["media_id"]: np.array(r["features"])
        for r in extract_media_features(media).collect()
    }
    # media_id 1 and 5 are the png slots of the 4-way cycle
    for mid in (1, 5):
        pixels = (
            np.frombuffer(det_bytes(f"media{mid}", 8 * 3 * 8), np.uint8)
            .astype(np.float32)
            / 255.0
        )
        want = np.array(
            [b.mean() for b in np.array_split(pixels, 8)], dtype=np.float32
        )
        assert np.allclose(feats[mid], want, atol=1e-6)
        stub = _decode_stub(make_png(f"media{mid}")) / 255.0
        stub_vec = np.array(
            [b.mean() for b in np.array_split(stub, 8)], dtype=np.float32
        )
        assert not np.allclose(feats[mid], stub_vec)


def test_mp4_box_walk_roundtrip():
    """make_mp4 emits a minimal VALID ISO-BMFF stream; _parse_mp4 must
    recover brand, timescale, mvhd duration and trak count, and reject
    non-BMFF bytes (callers then fall back to the digest stub)."""
    import pytest

    from finance_sc_relations_spark.operators.multimodal import (
        _decode_and_probe,
        _parse_mp4,
    )

    p = make_mp4("t4", duration_ms=4000, timescale=90000, n_tracks=2)
    info = _parse_mp4(p)
    assert info["brand"] == "isom"
    assert info["timescale"] == 90000
    assert info["duration"] == 4000 * 90000 // 1000
    assert info["duration_ms"] == 4000 and info["n_tracks"] == 2
    # mdat payload is the deterministic byte block, located exactly
    assert p[info["mdat_off"] : info["mdat_off"] + info["mdat_len"]] == det_bytes(
        "t4", 4096
    )
    assert _decode_and_probe(p, "video", "mp4")[1] == {
        "timescale": 90000, "duration_ms": 4000, "n_tracks": 2,
        "mdat_bytes": 4096,
    }
    for junk in (b"", b"short", det_bytes("junk", 64)):
        with pytest.raises(ValueError):
            _parse_mp4(junk)
        assert _decode_and_probe(junk, "video", "mp4")[1] == {}


def test_media_probe_parses_payload_not_metadata(spark):
    """The probe column is parsed from payload bytes: image pixel dims, wav
    rate/samples, mp4 timescale/duration/tracks — and stays empty for
    formats without a parser."""
    media = make_synthetic_media(spark, n=8)
    rows = {
        r["media_id"]: dict(r["probe"])
        for r in extract_media_features(media).select("media_id", "probe").collect()
    }
    assert rows[0] == {"width": 8, "height": 8}                    # bmp
    assert rows[1] == {"width": 8, "height": 8}                    # png
    assert rows[4] == {"width": 8, "height": 8, "n_components": 3}  # jpeg
    assert rows[2] == {"rate_hz": AUDIO_RATE, "n_samples": 5000 * AUDIO_RATE // 1000}
    assert rows[3] == {"timescale": 1000, "duration_ms": 3000,
                       "n_tracks": 1, "mdat_bytes": 4096}
    assert rows[7]["duration_ms"] == 4000 and rows[7]["n_tracks"] == 2


def test_jpeg_marker_walk_roundtrip():
    """make_jpeg_shell emits a structurally valid JFIF stream; _parse_jpeg
    recovers SOF dimensions/components and the entropy byte range, and
    rejects non-JPEG bytes."""
    import pytest

    from finance_sc_relations_spark.operators.multimodal import (
        _decode_and_probe,
        _parse_jpeg,
        make_jpeg_shell,
    )

    p = make_jpeg_shell("j1", width=11, height=7, entropy_bytes=64)
    info = _parse_jpeg(p)
    assert (info["width"], info["height"]) == (11, 7)
    assert info["n_components"] == 3 and info["precision"] == 8
    ent = p[info["entropy_off"] : info["entropy_off"] + info["entropy_len"]]
    assert len(ent) == 64 and b"\xff" not in ent  # FF remapped: no markers
    assert p.endswith(b"\xff\xd9")
    assert _decode_and_probe(p, "image", "jpeg")[1] == {
        "width": 11, "height": 7, "n_components": 3
    }
    for junk in (b"", b"\xff\xd8", det_bytes("nope", 32)):
        with pytest.raises(ValueError):
            _parse_jpeg(junk)
        assert _decode_and_probe(junk, "image", "jpeg")[1] == {}


def test_malformed_payloads_fall_back_to_stub_not_crash():
    """Corrupt/truncated payloads of every declared format must hit the
    digest-stub (values) / empty-probe fallback — never raise out of the
    mapInPandas row loop (one bad web-scale payload must not kill a task).
    Repro inputs from the round-5 review: FF-fill run-off jpeg, headers-only
    jpeg (no SOS), empty-mvhd mp4."""
    from finance_sc_relations_spark.operators.multimodal import (
        _decode_and_probe,
        _decode_stub,
        make_jpeg_shell,
    )

    ff_runoff = b"\xff\xd8" + b"\xff" * 8
    full = make_jpeg_shell("trunc", width=8, height=8)
    headers_only = full[: full.index(b"\xff\xda")]
    # moov contains a box claiming type mvhd with an empty (size-8) body
    empty_mvhd = (
        (16).to_bytes(4, "big") + b"ftyp" + b"isom" + bytes(4)
        + (16).to_bytes(4, "big") + b"moov"
        + (8).to_bytes(4, "big") + b"mvhd"
    )
    cases = [
        (ff_runoff, "image", "jpeg"),
        (headers_only, "image", "jpeg"),
        (b"\xff\xd8", "image", "jpeg"),
        (empty_mvhd, "video", "mp4"),
        (b"BM" + b"\x00" * 6, "image", "bmp"),
        (b"\x89PNG\r\n\x1a\n" + b"\x00" * 4, "image", "png"),
        (b"RIFFxxxx", "audio", "wav"),
    ]
    for payload, mtype, fmt in cases:
        values, probe = _decode_and_probe(payload, mtype, fmt)
        assert probe == {}, (mtype, fmt)
        assert (values == _decode_stub(payload) / 255.0).all(), (mtype, fmt)


def test_second_review_fallbacks(spark):
    """Round-5 second-review repros: mdat-less mp4 (init-segment shape)
    keeps its real probe but stubs features and digests frames; corrupt
    PNG DEFLATE falls to the stub; a hostile mvhd duration is capped
    instead of exploding one row into billions of frames."""
    import pytest

    from finance_sc_relations_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _decode_and_probe,
        _decode_stub,
        make_mp4,
        make_png,
    )

    # mdat-less mp4: strip the trailing mdat box make_mp4 appends
    full = make_mp4("init", duration_ms=3000, n_tracks=1)
    mdat_at = full.rindex(b"mdat") - 4
    init_seg = full[:mdat_at]
    values, probe = _decode_and_probe(init_seg, "video", "mp4")
    assert probe["duration_ms"] == 3000 and probe["mdat_bytes"] == 0
    assert (values == _decode_stub(init_seg) / 255.0).all()

    # corrupt IDAT: zlib.error must route to the stub, not kill the task
    png = bytearray(make_png("zc"))
    idat_at = bytes(png).index(b"IDAT") + 4
    png[idat_at : idat_at + 8] = b"\x00" * 8
    values, probe = _decode_and_probe(bytes(png), "image", "png")
    assert probe == {}
    assert (values == _decode_stub(bytes(png)) / 255.0).all()

    # hostile duration: timescale=1 second-units, duration=2^31 "seconds"
    hostile = make_mp4("evil", duration_ms=2**31 * 1000, timescale=1)
    rows = (
        sample_frames(
            spark.createDataFrame(
                [(0, hostile, {"media_type": "video", "format": "mp4",
                               "width": None, "height": None,
                               "duration_ms": 5000})],
                schema=MEDIA_SCHEMA,
            ),
            every_ms=1000,
            max_frames=50,
        )
        .count()
    )
    assert rows == 50

    # mdat-less mp4 through the frame sampler: parsed duration, digest frames
    frames = sample_frames(
        spark.createDataFrame(
            [(0, init_seg, {"media_type": "video", "format": "mp4",
                            "width": None, "height": None,
                            "duration_ms": 5000})],
            schema=MEDIA_SCHEMA,
        ),
        every_ms=1000,
    ).collect()
    assert len(frames) == 3  # parsed 3000ms grid, not the stale 5000ms
    assert len({bytes(r["frame_payload"]) for r in frames}) == 3  # digests



def test_third_review_fallbacks(spark):
    """Round-5 third-review repros: a corrupt WAV row must not crash
    sample_frames (digest frames on the struct grid), and a legitimate
    long-form clamp is applied (and logged) rather than exploding."""
    from finance_sc_relations_spark.operators.multimodal import MEDIA_SCHEMA

    bad_wav = b"RIFF1234WAVEjunk"
    rows = sample_frames(
        spark.createDataFrame(
            [(0, bad_wav, {"media_type": "audio", "format": "wav",
                           "width": None, "height": None,
                           "duration_ms": 3000})],
            schema=MEDIA_SCHEMA,
        ),
        every_ms=1000,
    ).collect()
    assert len(rows) == 3  # struct-metadata grid survives
    assert len({bytes(r["frame_payload"]) for r in rows}) == 3  # digests
