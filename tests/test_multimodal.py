"""Multimodal plumbing tests: schema, batch shape, stub determinism,
metadata-only stats."""

from jsl_engine import multimodal as M


def test_feature_extraction_shape_and_determinism(spark):
    media = M.synth_media(spark, 60, seed=9, partitions=3).cache()
    try:
        feats = M.extract_features(media, dim=16)
        rows = feats.collect()
        assert len(rows) == 60
        assert all(len(r.feature) == 16 for r in rows)
        assert all(-1.0 <= x <= 1.0 for r in rows for x in r.feature)
        # deterministic: same media → same features
        again = {r.media_id: r.feature for r in M.extract_features(media, dim=16).collect()}
        assert all(again[r.media_id] == r.feature for r in rows)
        # sha256 matches the payload
        import hashlib

        payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
        assert all(
            r.payload_sha256 == hashlib.sha256(payloads[r.media_id]).hexdigest()
            and r.n_bytes == len(payloads[r.media_id])
            for r in rows
        )
    finally:
        media.unpersist()


def test_media_stats_kinds(spark):
    media = M.synth_media(spark, 90, seed=9, partitions=2)
    stats = {r.kind: r for r in M.media_stats(media).collect()}
    assert set(stats) == {"image", "audio", "video"}
    assert stats["image"].n == 30
    assert stats["image"].min_width is not None
    assert stats["audio"].avg_duration_ms is not None


def test_media_stats_prunes_payload(spark, tmp_path):
    """media_stats over a parquet media table must not read the blob
    column (n_bytes metadata serves the byte aggregates): ReadSchema in
    the physical plan excludes payload."""
    path = str(tmp_path / "media.parquet")
    M.synth_media(spark, 30, seed=3, partitions=2).write.parquet(path)
    stats = M.media_stats(spark.read.parquet(path))
    plan = stats._sc._jvm.PythonSQLUtils.explainString(
        stats._jdf.queryExecution(), "formatted"
    )
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and all("payload" not in l for l in read_schema), plan[:2000]
    assert {r.kind for r in stats.collect()} == {"image", "audio", "video"}


def test_synth_media_deterministic(spark):
    a = M.synth_media(spark, 40, seed=1, partitions=2).collect()
    b = M.synth_media(spark, 40, seed=1, partitions=4).collect()
    ka = sorted((r.media_id, bytes(r.payload)) for r in a)
    kb = sorted((r.media_id, bytes(r.payload)) for r in b)
    assert ka == kb


def test_resize_images_plumbing(spark):
    """Resize: only oversized images change (metadata + payload + n_bytes
    consistent, aspect preserved); audio/video rows pass through
    byte-identical; schema unchanged."""
    media = M.synth_media(spark, 60, seed=5, partitions=2).cache()
    try:
        out = M.resize_images(media, max_side=32)
        assert out.schema == media.schema
        before = {r.media_id: r for r in media.collect()}
        after = {r.media_id: r for r in out.collect()}
        assert set(before) == set(after)
        changed = 0
        for mid, b in before.items():
            a = after[mid]
            if b.kind != "image":
                assert bytes(a.payload) == bytes(b.payload)
                continue
            if max(b.width, b.height) <= 32:
                assert (a.width, a.height) == (b.width, b.height)
            else:
                changed += 1
                assert max(a.width, a.height) <= 32
                # dims follow the operator's exact scaling formula
                scale = 32 / max(b.width, b.height)
                assert (a.width, a.height) == (
                    max(1, int(b.width * scale)), max(1, int(b.height * scale))
                )
                assert a.n_bytes == len(bytes(a.payload))
        assert changed > 0  # fixture has oversized images
    finally:
        media.unpersist()


def test_sample_frames_grid(spark):
    """Frame sampling: one row per sampled frame, videos only, count
    follows the duration grid capped at max_frames, deterministic."""
    media = M.synth_media(spark, 60, seed=5, partitions=2).cache()
    try:
        frames = M.sample_frames(media, every_ms=1000, max_frames=8)
        rows = frames.collect()
        vids = {r.media_id: r.duration_ms for r in media.where("kind = 'video'").collect()}
        by_media = {}
        for r in rows:
            by_media.setdefault(r.media_id, []).append(r)
        assert set(by_media) == set(vids)
        for mid, fr in by_media.items():
            want = min(8, max(1, vids[mid] // 1000))
            assert len(fr) == want
            assert sorted(f.ts_ms for f in fr) == [j * 1000 for j in range(want)]
        again = {(r.media_id, r.frame_index): bytes(r.frame)
                 for r in M.sample_frames(media, every_ms=1000, max_frames=8).collect()}
        assert all(again[(r.media_id, r.frame_index)] == bytes(r.frame) for r in rows)
    finally:
        media.unpersist()


def test_netpbm_roundtrip_and_real_resize():
    """Pure-numpy netpbm codec: encode->decode is the identity on pixels,
    and resize_nearest produces exactly the nearest-neighbor grid."""
    import numpy as np

    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, size=(20, 30, 3), dtype=np.uint8)
    assert np.array_equal(M.decode_netpbm(M.encode_netpbm(rgb)), rgb)
    gray = rng.integers(0, 256, size=(9, 7), dtype=np.uint8)
    assert np.array_equal(M.decode_netpbm(M.encode_netpbm(gray)), gray)
    # comments + arbitrary whitespace in the header parse too
    hand = b"P5 # a comment\n 2 2 255\n" + bytes([1, 2, 3, 4])
    assert np.array_equal(M.decode_netpbm(hand), np.array([[1, 2], [3, 4]]))
    # non-netpbm -> None (stub fallback signal)
    assert M.decode_netpbm(b"\x89PNG....") is None

    small = M.resize_nearest(rgb, 15, 10)
    assert small.shape == (10, 15, 3)
    rows = (np.arange(10) * 20) // 10
    cols = (np.arange(15) * 30) // 15
    assert np.array_equal(small, rgb[rows][:, cols])


def test_wav_decode_and_audio_feature():
    """stdlib-WAV decode recovers a synthetic sine wave (right length,
    right scale) and the windowed-RMS feature matches a hand-computed
    value; a 100 Hz sine's RMS is ~1/sqrt(2) of its amplitude."""
    import io
    import math
    import wave

    import numpy as np

    rate, n, amp = 8000, 1600, 0.5
    t = np.arange(n) / rate
    x = (amp * np.sin(2 * math.pi * 100 * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(x.tobytes())
    samples, got_rate = M.decode_wav(buf.getvalue())
    assert got_rate == rate and len(samples) == n
    assert abs(samples.max() - amp) < 0.01
    feat = M.audio_feature(samples, dim=16)
    assert len(feat) == 16
    for v in feat[:-1]:  # each full window of a steady sine: RMS = amp/sqrt(2)
        assert abs(v - amp / math.sqrt(2)) < 0.02
    assert M.decode_wav(b"not a wav at all") is None


def test_extract_features_uses_real_decoders(spark):
    """Features for netpbm/WAV rows must equal the locally-computed
    real-decode features (pixels/samples, not byte hashes); only the
    codec-library kind (video/mp4) falls back to the stub."""
    media = M.synth_media(spark, 30, seed=11, partitions=2).cache()
    try:
        feats = {r.media_id: r.feature
                 for r in M.extract_features(media, dim=16).collect()}
        for r in media.collect():
            payload = bytes(r.payload)
            if r.kind == "image":
                want = M.image_feature(M.decode_netpbm(payload), 16)
            elif r.kind == "audio":
                want = M.audio_feature(M.decode_wav(payload)[0], 16)
            else:
                want = M.decode_stub(payload, r.kind, 16)
            got = feats[r.media_id]
            assert all(abs(a - b) < 1e-6 for a, b in zip(got, want)), r.kind
    finally:
        media.unpersist()


def test_real_resize_pixels_survive(spark):
    """resize_images on netpbm payloads must produce decodable payloads
    whose pixels are exactly the nearest-neighbor downsample of the
    original image — real pixels end to end, not a stub transform."""
    import numpy as np

    media = M.synth_media(spark, 30, seed=7, partitions=2).cache()
    try:
        originals = {r.media_id: (bytes(r.payload), r.width, r.height)
                     for r in media.where("kind = 'image'").collect()}
        out = {r.media_id: r for r in
               M.resize_images(media, max_side=16).where("kind = 'image'").collect()}
        checked = 0
        for mid, (payload, w, h) in originals.items():
            a = out[mid]
            if max(w, h) <= 16:
                continue
            arr = M.decode_netpbm(payload)
            want = M.resize_nearest(arr, a.width, a.height)
            got = M.decode_netpbm(bytes(a.payload))
            assert got is not None and np.array_equal(got, want)
            checked += 1
        assert checked > 0
    finally:
        media.unpersist()


def test_malformed_media_routes_to_stub_not_crash():
    """Malformed payloads must return None from the real decoders (stub
    fallback), never raise — a poisoned row must not abort a Spark task:
    bad header tokens, truncated pixels, zero dims, truncated WAV data,
    1-sample audio (ZCR 0, not NaN), dim=1 feature (no division by
    zero)."""
    import math

    assert M.decode_netpbm(b"P6 abc 4 255\n....") is None
    assert M.decode_netpbm(b"P6 4 4 255\nshort") is None
    assert M.decode_netpbm(b"P6 0 0 255\n") is None
    assert M.decode_netpbm(b"P5 2 2 70000\n....") is None
    good = M.encode_netpbm(__import__("numpy").zeros((3, 3), dtype="uint8"))
    assert M.decode_netpbm(good[:-2]) is None  # truncated pixel section

    # WAV truncated mid-frame: header promises more than the data holds
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x01\x02\x03\x04" * 10)
    blob = bytearray(buf.getvalue())
    # the only contract for a mid-frame truncation is "no exception":
    # wave may surface fewer whole frames (valid partial decode) or the
    # guard may reject it (None) — both are acceptable, a crash is not
    M.decode_wav(bytes(blob[:-3]))
    import numpy as np

    f = M.audio_feature(np.array([0.25]), dim=16)
    assert len(f) == 16 and not any(math.isnan(v) for v in f)
    assert f[-1] == 0.0
    assert M.audio_feature(np.array([0.1, -0.1]), dim=1) == [0.0]


def test_png_unfilter_all_five_filters():
    """Decode is pinned against an INDEPENDENT forward implementation of
    the PNG spec's scanline filters, written here from RFC 2083 §6: the
    test filters known pixels with every filter type (one per row, all
    five exercised), assembles a real PNG container, and decode_png must
    invert it exactly."""
    import struct
    import zlib

    import numpy as np

    from jsl_engine.multimodal import decode_png

    rng = np.random.default_rng(7)
    h, w, ch = 5, 11, 3
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    bpp = ch
    stride = w * ch
    flat = img.reshape(h, stride).astype(np.int32)

    def forward_filter(y, ftype):
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, np.int32)
        out = np.zeros(stride, np.int32)
        for x in range(stride):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (cur[x] - pred) & 255
        return out.astype(np.uint8)

    raw = b"".join(
        bytes([f]) + forward_filter(y, f).tobytes()
        for y, f in enumerate([0, 1, 2, 3, 4])
    )

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(raw))
               + chunk(b"IEND", b""))
    got = decode_png(payload)
    assert got is not None and got.shape == (h, w, 3)
    assert np.array_equal(got, img)


def test_png_roundtrip_gray_rgb_palette_alpha():
    """encode_png -> decode_png is bit-for-bit for gray and RGB; palette
    (type 3) resolves through PLTE; alpha planes (types 4/6) are dropped
    to gray/RGB; multi-IDAT streams concatenate."""
    import struct
    import zlib

    import numpy as np

    from jsl_engine.multimodal import decode_png, encode_png

    rng = np.random.default_rng(9)
    gray = rng.integers(0, 256, size=(6, 4), dtype=np.uint8)
    rgb = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(gray)), gray)
    assert np.array_equal(decode_png(encode_png(rgb)), rgb)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    def png(ctype, channels, w, h, body, extra=b""):
        raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))
        z = zlib.compress(raw)
        # split the stream across two IDAT chunks
        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
                + extra
                + chunk(b"IDAT", z[:7]) + chunk(b"IDAT", z[7:])
                + chunk(b"IEND", b""))

    # palette: 4 colors, indices cycle
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], np.uint8)
    idx = (np.arange(12, dtype=np.uint8) % 4).reshape(3, 4)
    p3 = png(3, 1, 4, 3, idx.reshape(3, 4), extra=chunk(b"PLTE", plte.tobytes()))
    assert np.array_equal(decode_png(p3), plte[idx])

    # gray+alpha -> gray plane only
    ga = rng.integers(0, 256, size=(2, 3, 2), dtype=np.uint8)
    assert np.array_equal(decode_png(png(4, 2, 3, 2, ga.reshape(2, -1))), ga[:, :, 0])

    # RGBA -> RGB planes only
    rgba = rng.integers(0, 256, size=(2, 2, 4), dtype=np.uint8)
    assert np.array_equal(decode_png(png(6, 4, 2, 2, rgba.reshape(2, -1))), rgba[:, :, :3])


def test_png_malformed_returns_none():
    """Non-PNG, 16-bit, interlaced, truncated-IDAT and bad-filter-byte
    payloads all route to the stub fallback (None), never raise."""
    import struct
    import zlib

    import numpy as np

    from jsl_engine.multimodal import decode_png, encode_png

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    sig = b"\x89PNG\r\n\x1a\n"
    assert decode_png(b"JFIF not png") is None
    assert decode_png(sig + chunk(b"IHDR", struct.pack(
        ">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)) + chunk(b"IEND", b"")) is None  # 16-bit
    assert decode_png(sig + chunk(b"IHDR", struct.pack(
        ">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)) + chunk(b"IEND", b"")) is None   # interlaced
    ok = encode_png(np.zeros((4, 4), np.uint8))
    assert decode_png(ok[:40]) is None                                     # truncated
    bad = sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)) \
        + chunk(b"IDAT", zlib.compress(b"\x07\x00")) + chunk(b"IEND", b"")
    assert decode_png(bad) is None                                         # filter 7


def test_png_takes_real_path_in_spark_pipeline(spark):
    """extract_features computes POOLED-PIXEL features (not the byte
    stub) for PNG payloads, and resize_images decodes/resizes/re-encodes
    PNG in-container: the output payload is a valid PNG of the new
    dimensions whose pixels are the nearest-neighbor downscale."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine.multimodal import (
        decode_png,
        decode_stub,
        encode_png,
        extract_features,
        image_feature,
        resize_images,
        resize_nearest,
    )

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(64, 48, 3), dtype=np.uint8)
    payload = encode_png(img)
    from jsl_engine.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame([Row(
        media_id=1, kind="image", mime="image/png", width=48, height=64,
        duration_ms=None, n_bytes=len(payload), payload=bytearray(payload),
    )], MEDIA_SCHEMA)
    [feat] = extract_features(df, dim=16).collect()
    assert feat.feature == [float(np.float32(v)) for v in image_feature(img, 16)]
    assert feat.feature != [float(np.float32(v))
                            for v in decode_stub(payload, "image", 16)]

    [rz] = resize_images(df, max_side=32).collect()
    assert (rz.width, rz.height) == (24, 32)
    out = decode_png(bytes(rz.payload))
    assert out is not None
    assert np.array_equal(out, resize_nearest(img, 24, 32))


def test_bmp_roundtrip_padding_and_orientation():
    """encode_bmp -> decode_bmp is exact for widths that force row
    padding (w*3 % 4 != 0); a hand-built top-down (negative height)
    32-bit BMP decodes to the same pixels as its bottom-up 24-bit twin
    (alpha dropped); malformed payloads return None."""
    import struct as st

    import numpy as np

    from jsl_engine.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(3)
    for w in (3, 4, 5, 7):  # strides 9,12,15,21 -> padding 3,0,1,3
        img = rng.integers(0, 256, size=(4, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img)
    gray = rng.integers(0, 256, size=(2, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(gray)),
                          np.stack([gray] * 3, axis=2))

    img = rng.integers(0, 256, size=(3, 2, 3), dtype=np.uint8)
    # hand-build: 32bpp, top-down (h = -3), BGRA pixel order
    body = b""
    for y in range(3):
        for x in range(2):
            r, g, b = (int(v) for v in img[y, x])
            body += bytes([b, g, r, 255])
    payload = (b"BM" + st.pack("<IHHI", 54 + len(body), 0, 0, 54)
               + st.pack("<IiiHHIIiiII", 40, 2, -3, 1, 32, 0, len(body),
                         0, 0, 0, 0) + body)
    assert np.array_equal(decode_bmp(payload), img)

    assert decode_bmp(b"not a bmp") is None
    assert decode_bmp(encode_bmp(img)[:30]) is None          # truncated
    rle = bytearray(encode_bmp(img)); rle[30] = 1             # BI_RLE8
    assert decode_bmp(bytes(rle)) is None


def test_bmp_takes_real_path_in_spark_pipeline(spark):
    """resize_images decodes/resizes/re-encodes BMP in-container and
    extract_features pools real pixels for BMP payloads."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine.multimodal import (
        MEDIA_SCHEMA,
        decode_bmp,
        encode_bmp,
        extract_features,
        image_feature,
        resize_images,
        resize_nearest,
    )

    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, size=(40, 30, 3), dtype=np.uint8)
    payload = encode_bmp(img)
    df = spark.createDataFrame([Row(
        media_id=7, kind="image", mime="image/bmp", width=30, height=40,
        duration_ms=None, n_bytes=len(payload), payload=bytearray(payload),
    )], MEDIA_SCHEMA)
    [feat] = extract_features(df, dim=16).collect()
    assert feat.feature == [float(np.float32(v))
                            for v in image_feature(img, 16)]
    [rz] = resize_images(df, max_side=20).collect()
    assert (rz.width, rz.height) == (15, 20)
    assert np.array_equal(decode_bmp(bytes(rz.payload)),
                          resize_nearest(img, 15, 20))


def test_png_fuzz_random_filters_dims_and_types():
    """Seeded fuzz: random dimensions (incl. 1-pixel edges), random
    color type (gray/RGB/RGBA), and an INDEPENDENT random filter chosen
    per scanline via the forward implementation from the spec — decode
    must invert every combination exactly."""
    import struct
    import zlib

    import numpy as np

    from jsl_engine.multimodal import decode_png

    rng = np.random.default_rng(29)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    for trial in range(12):
        h = int(rng.integers(1, 9))
        w = int(rng.integers(1, 9))
        ctype, ch = [(0, 1), (2, 3), (6, 4)][int(rng.integers(0, 3))]
        img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        bpp, stride = ch, w * ch
        flat = img.reshape(h, stride).astype(np.int32)
        raw = b""
        for y in range(h):
            f = int(rng.integers(0, 5))
            cur = flat[y]
            prev = flat[y - 1] if y > 0 else np.zeros(stride, np.int32)
            out = np.zeros(stride, np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    pq = a + b - c
                    pa, pb, pc2 = abs(pq - a), abs(pq - b), abs(pq - c)
                    pred = a if (pa <= pb and pa <= pc2) else (b if pb <= pc2 else c)
                out[x] = (cur[x] - pred) & 255
            raw += bytes([f]) + out.astype(np.uint8).tobytes()
        payload = (b"\x89PNG\r\n\x1a\n"
                   + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
                   + chunk(b"IDAT", zlib.compress(raw))
                   + chunk(b"IEND", b""))
        got = decode_png(payload)
        want = img[:, :, 0] if ctype == 0 else img[:, :, :3]
        assert got is not None and np.array_equal(got, want), (
            trial, h, w, ctype)


def test_jpeg_roundtrip_gray_rgb_unit_quant():
    """encode_jpeg(quality=None) emits unit quantization tables, so the
    only loss is DCT rounding: constant images decode EXACTLY (the 8x8
    DCT of a constant block is DC-only and the orthonormal basis
    round-trips it), random grayscale within ±2, random RGB within ±4
    (chroma conversion adds rounding). The forward path is written
    independently of the decoder — they pin each other, the PNG
    unfilter-vs-forward-filter pattern."""
    import numpy as np

    from jsl_engine.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(5)
    const = np.full((16, 24), 137, dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(const))
    assert got is not None and got.dtype == np.uint8
    assert np.array_equal(got, const)

    gray = rng.integers(0, 256, size=(33, 41), dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(gray))
    assert got.shape == (33, 41)
    assert np.abs(got.astype(int) - gray.astype(int)).max() <= 2

    rgb = rng.integers(0, 256, size=(17, 29, 3), dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(rgb))
    assert got.shape == (17, 29, 3)
    assert np.abs(got.astype(int) - rgb.astype(int)).max() <= 4


def test_jpeg_subsampling_quality_and_restarts():
    """4:2:0 chroma subsampling reconstructs a smooth gradient closely
    (mean abs error < 2); Annex-K-scaled quality tables decode through
    the DQT path with bounded error on random content; restart markers
    (DRI + RSTn, fresh DC predictors per segment) must not change one
    decoded pixel vs the same image without restarts."""
    import numpy as np

    from jsl_engine.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:40, 0:56]
    grad = np.stack(
        [(yy * 3) % 256, (xx * 2) % 256, ((yy + xx) * 2) % 256], axis=2
    ).astype(np.uint8)
    got = decode_jpeg(encode_jpeg(grad, subsample=True))
    assert got.shape == grad.shape
    assert np.abs(got.astype(int) - grad.astype(int)).mean() < 2.0

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(img, quality=90))
    assert got.shape == img.shape
    assert np.abs(got.astype(int) - img.astype(int)).mean() < 12.0

    plain = decode_jpeg(encode_jpeg(img))
    for interval in (1, 2, 5):
        with_rst = decode_jpeg(encode_jpeg(img, restart_interval=interval))
        assert np.array_equal(with_rst, plain), interval


def test_jpeg_16bit_dqt_precision():
    """Pq=1 (16-bit) quantization table entries decode identically to
    their 8-bit twins when values fit in 8 bits — rewrite the emitted
    DQT segment to 16-bit in place and re-decode."""
    import struct as st

    import numpy as np

    from jsl_engine.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    blob = encode_jpeg(img)
    i = blob.find(b"\xff\xdb")
    (seglen,) = st.unpack_from(">H", blob, i + 2)
    assert seglen == 2 + 1 + 64  # one 8-bit table (grayscale)
    vals = blob[i + 5:i + 5 + 64]
    wide = b"".join(st.pack(">H", v) for v in vals)
    seg16 = st.pack(">H", 2 + 1 + 128) + bytes([0x10]) + wide
    rewritten = blob[:i + 2] + seg16 + blob[i + 2 + seglen:]
    a = decode_jpeg(blob)
    b = decode_jpeg(rewritten)
    assert b is not None and np.array_equal(a, b)


def test_jpeg_malformed_returns_none():
    """Stub-fallback contract: non-JPEG, truncated entropy data, a
    baseline stream relabeled SOF2 (its full-band scan header is
    invalid under progressive rules), 12-bit precision, and
    arithmetic-coded frames all return None — never a task crash."""
    import numpy as np

    from jsl_engine.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    blob = encode_jpeg(img)

    assert decode_jpeg(b"not a jpeg") is None
    assert decode_jpeg(b"\xff\xd8nonsense") is None
    assert decode_jpeg(blob[: len(blob) // 2]) is None  # truncated scan
    assert decode_jpeg(blob[:20]) is None               # truncated header

    sof = blob.find(b"\xff\xc0")
    relabeled = bytearray(blob)
    relabeled[sof + 1] = 0xC2  # baseline scan layout is invalid in SOF2
    assert decode_jpeg(bytes(relabeled)) is None
    arith = bytearray(blob)
    arith[sof + 1] = 0xC9
    assert decode_jpeg(bytes(arith)) is None
    twelve = bytearray(blob)
    twelve[sof + 4] = 12  # precision byte inside SOF payload
    assert decode_jpeg(bytes(twelve)) is None


def test_jpeg_takes_real_path_in_spark_pipeline(spark):
    """extract_features pools REAL decoded pixels for JPEG payloads (==
    image_feature of decode_jpeg, != the byte stub), and resize_images
    decodes/resizes/re-encodes JPEG in-container: the output payload is
    a valid baseline JPEG of the new dimensions whose pixels match the
    nearest-neighbor downscale within the unit-quant tolerance."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine.jpeg import decode_jpeg, encode_jpeg
    from jsl_engine.multimodal import (
        MEDIA_SCHEMA,
        decode_stub,
        extract_features,
        image_feature,
        resize_images,
        resize_nearest,
    )

    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(64, 48, 3), dtype=np.uint8)
    payload = encode_jpeg(img)
    decoded = decode_jpeg(payload)
    df = spark.createDataFrame([Row(
        media_id=3, kind="image", mime="image/jpeg", width=48, height=64,
        duration_ms=None, n_bytes=len(payload), payload=bytearray(payload),
    )], MEDIA_SCHEMA)
    [feat] = extract_features(df, dim=16).collect()
    assert feat.feature == [float(np.float32(v))
                            for v in image_feature(decoded, 16)]
    assert feat.feature != [float(np.float32(v))
                            for v in decode_stub(payload, "image", 16)]

    [rz] = resize_images(df, max_side=32).collect()
    assert (rz.width, rz.height) == (24, 32)
    out = decode_jpeg(bytes(rz.payload))
    assert out is not None and out.shape == (32, 24, 3)
    want = resize_nearest(decoded, 24, 32)
    assert np.abs(out.astype(int) - want.astype(int)).max() <= 4


def test_jpeg_fuzz_random_dims_modes():
    """Seeded fuzz across random dimensions (incl. 1-pixel and exact-MCU
    edges), gray/RGB, 4:4:4 / 4:2:0, and restart intervals: decode always
    returns the right shape, and for quality=None the full-resolution
    channels stay within the DCT-rounding tolerance (4:2:0 chroma is
    block-averaged, so only reconstructed LUMA is pinned there)."""
    import numpy as np

    from jsl_engine.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(44)
    dims = [(1, 1), (8, 8), (7, 9), (16, 17), (23, 8)]
    for trial in range(10):
        h, w = dims[trial % len(dims)]
        gray = trial % 2 == 0
        sub = (not gray) and trial % 3 == 0
        rst = (0, 1, 3)[trial % 3]
        shape = (h, w) if gray else (h, w, 3)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        got = decode_jpeg(encode_jpeg(img, subsample=sub,
                                      restart_interval=rst))
        assert got is not None and got.shape == shape, (trial, shape)
        if gray:
            assert np.abs(got.astype(int) - img.astype(int)).max() <= 2, trial
        elif not sub:
            assert np.abs(got.astype(int) - img.astype(int)).max() <= 4, trial
        else:
            luma = lambda x: (0.299 * x[:, :, 0] + 0.587 * x[:, :, 1]
                              + 0.114 * x[:, :, 2])
            err = np.abs(luma(got.astype(float)) - luma(img.astype(float)))
            # clamping after out-of-gamut chroma can locally distort
            # recovered luma; the mean stays tight
            assert err.mean() <= 8.0, (trial, err.mean())


def test_image_feature_pooling_stability_and_limits():
    """Mean-pooled grid features are (a) stable under lossy re-encoding
    on ANY content, (b) scale-invariant for SMOOTH content, and (c)
    honestly NOT scale-invariant for noise — downscaling noise destroys
    the information any pooled summary carries, which is why the media
    job plants re-encode twins over its random corpus and the resize
    case is pinned here on a smooth fixture."""
    import numpy as np

    from jsl_engine.jpeg import decode_jpeg, encode_jpeg
    from jsl_engine.multimodal import image_feature, resize_nearest

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    yy, xx = np.mgrid[0:48, 0:40]
    smooth = np.stack([
        (yy * 4) % 256,
        255 - (xx * 5) % 256,
        (128 + 100 * np.sin(yy / 9.0) + 20 * np.cos(xx / 7.0)),
    ], axis=2).clip(0, 255).astype(np.uint8)
    f0 = image_feature(smooth, 16)
    # (a) lossy q85 JPEG round trip barely moves the feature
    f_jpeg = image_feature(decode_jpeg(encode_jpeg(smooth, quality=85)), 16)
    assert cos(f0, f_jpeg) > 0.995
    # (b) half-size twin of smooth content pools to nearly the same cells
    f_half = image_feature(resize_nearest(smooth, 20, 24), 16)
    assert cos(f0, f_half) > 0.99
    # (c) noise: re-encode stays close, downscale does not
    rng = np.random.default_rng(3)
    noise = rng.integers(0, 256, size=(48, 40, 3), dtype=np.uint8)
    n0 = image_feature(noise, 16)
    assert cos(n0, image_feature(
        decode_jpeg(encode_jpeg(noise, quality=85)), 16)) > 0.97
    assert cos(n0, image_feature(resize_nearest(noise, 20, 24), 16)) < 0.9
    # totality: tiny images still produce a full-length feature
    assert len(image_feature(np.full((1, 1), 9, np.uint8), 16)) == 16


def test_image_near_duplicates_planted(spark):
    """The multimodal dedup composition end-to-end: one smooth source
    image planted as a 6-way content clique (netpbm / PNG / BMP /
    near-lossless JPEG / lossy q85 JPEG / half-size PNG twin) collapses
    to its lowest id; distinct noise images and an undecodable (stub)
    payload are kept; non-image rows are excluded; keep='greedy' agrees
    on a clique."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine import multimodal as M
    from jsl_engine.jpeg import encode_jpeg

    yy, xx = np.mgrid[0:32, 0:24]
    base = np.stack([
        (yy * 6) % 256, (xx * 7) % 256,
        (128 + 90 * np.sin(yy / 6.0)),
    ], axis=2).clip(0, 255).astype(np.uint8)
    rng = np.random.default_rng(17)

    def media_row(mid, blob, kind="image"):
        return Row(media_id=mid, kind=kind, mime="x", width=24, height=32,
                   duration_ms=None, n_bytes=len(blob),
                   payload=bytearray(blob))

    rows = [
        media_row(1, M.encode_netpbm(base)),
        media_row(2, M.encode_png(base)),
        media_row(3, M.encode_bmp(base)),
        media_row(4, encode_jpeg(base)),
        media_row(5, encode_jpeg(base, quality=85)),
        media_row(6, M.encode_png(M.resize_nearest(base, 12, 16))),
    ]
    for mid in (10, 11, 12):
        rows.append(media_row(
            mid, M.encode_png(rng.integers(0, 256, (32, 24, 3), np.uint8))))
    rows.append(media_row(20, b"not-an-image-blob"))
    rows.append(media_row(30, b"aud", kind="audio"))
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)

    flags = {r.media_id: (r.kept, r.n_dups, r.decoded)
             for r in M.image_near_duplicates(media, threshold=0.97).collect()}
    assert set(flags) == {1, 2, 3, 4, 5, 6, 10, 11, 12, 20}  # images only
    assert flags[1] == (True, 5, True)
    for mid in (2, 3, 4, 5, 6):
        assert flags[mid] == (False, 5, True), mid
    for mid in (10, 11, 12):
        assert flags[mid] == (True, 0, True), mid
    assert flags[20] == (True, 0, False)  # stub feature: always kept

    pairs = M.image_near_duplicates(
        media, threshold=0.97, return_pairs=True).collect()
    assert sorted((r.id_a, r.id_b) for r in pairs) == [
        (a, b) for a in range(1, 7) for b in range(a + 1, 7)]
    assert all(r.cos_sim >= 0.97 for r in pairs)

    greedy = {r.media_id: r.kept for r in M.image_near_duplicates(
        media, threshold=0.97, keep="greedy").collect()}
    assert greedy == {m: k for m, (k, _, _) in flags.items()}

    # the 100-TB path: a pre-materialized features frame short-circuits
    # the decode pass and yields identical flags
    feats = M.extract_features(media, dim=16)
    via_features = {r.media_id: (r.kept, r.n_dups, r.decoded)
                    for r in M.image_near_duplicates(
                        media, features=feats, threshold=0.97).collect()}
    assert via_features == flags


def test_media_job_end_to_end(tmp_path):
    """jobs/media_job.py over a synthetic corpus with planted
    re-encode duplicates: every planted twin is found (dropped with its
    source kept), the report's accounting is consistent, and the
    features/image_flags parquet outputs land."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    out_dir = tmp_path / "media_out"
    res = subprocess.run(
        [sys.executable, str(repo / "jobs" / "media_job.py"),
         "--rows", "300", "--plant-dups", "12", "--cpus", "4",
         "--output", str(out_dir)],
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rep = json.loads(res.stdout.strip().splitlines()[-1])
    assert rep["planted"] == 12
    assert rep["planted_found"] == 12
    assert rep["pairs"] >= 12
    assert rep["images_dropped"] >= 12
    assert rep["n_decoded"] == rep["n_images"]
    assert (out_dir / "features").exists()
    assert (out_dir / "image_flags").exists()


def test_image_phash_invariances():
    """Pure-numpy pHash properties: brightness shift flips ≤ 1 bit (DC
    only) and contrast scaling 0 bits — both of which rotate the grid-
    mean feature's COSINE far below any dup threshold — while distinct
    random images sit near the 32-bit random-pair center; lossless
    re-encode round trips hash to hamming 0."""
    import numpy as np

    from jsl_engine.jpeg import decode_jpeg, encode_jpeg
    from jsl_engine.multimodal import (
        decode_png,
        encode_png,
        image_feature,
        image_phash,
    )

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    yy, xx = np.mgrid[0:48, 0:40]
    img = np.stack([
        (yy * 4) % 256, 255 - (xx * 5) % 256,
        (128 + 100 * np.sin(yy / 9.0) + 20 * np.cos(xx / 7.0)),
    ], axis=2).clip(40, 200).astype(np.uint8)
    h0 = image_phash(img)
    assert -(1 << 63) <= h0 < (1 << 63)  # fits a Spark long

    bright = np.clip(img.astype(int) + 40, 0, 255).astype(np.uint8)
    assert ham(h0, image_phash(bright)) <= 1
    assert cos(image_feature(img, 16), image_feature(bright, 16)) < 0.9

    contrast = np.clip((img.astype(float) - 128) * 1.3 + 128,
                       0, 255).astype(np.uint8)
    assert ham(h0, image_phash(contrast)) <= 1

    assert ham(h0, image_phash(decode_png(encode_png(img)))) == 0
    assert ham(h0, image_phash(decode_jpeg(encode_jpeg(img, quality=85)))) <= 10

    rng = np.random.default_rng(23)
    dists = [ham(h0, image_phash(
        rng.integers(0, 256, (48, 40, 3), np.uint8))) for _ in range(8)]
    assert min(dists) > 16, dists


def test_image_near_duplicates_phash_arm(spark):
    """The phash arm pairs brightness- and contrast-shifted twins the
    feature arm misses, applies the same keep rule, excludes stub rows,
    and the materialized-phashes path yields identical flags."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine import multimodal as M

    yy, xx = np.mgrid[0:40, 0:32]
    base = np.stack([
        (yy * 5) % 256, 255 - (xx * 6) % 256,
        (128 + 80 * np.sin(yy / 7.0)),
    ], axis=2).clip(40, 200).astype(np.uint8)
    bright = np.clip(base.astype(int) + 40, 0, 255).astype(np.uint8)
    contrast = np.clip((base.astype(float) - 128) * 1.25 + 128,
                       0, 255).astype(np.uint8)
    rng = np.random.default_rng(29)

    def media_row(mid, blob, kind="image"):
        return Row(media_id=mid, kind=kind, mime="x", width=32, height=40,
                   duration_ms=None, n_bytes=len(blob),
                   payload=bytearray(blob))

    rows = [
        media_row(1, M.encode_png(base)),
        media_row(2, M.encode_png(bright)),
        media_row(3, M.encode_bmp(contrast)),
    ]
    for mid in (10, 11):
        rows.append(media_row(
            mid, M.encode_png(rng.integers(0, 256, (40, 32, 3), np.uint8))))
    rows.append(media_row(20, b"undecodable"))
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)

    flags = {r.media_id: (r.kept, r.n_dups, r.decoded)
             for r in M.image_near_duplicates(media, method="phash").collect()}
    assert flags[1] == (True, 2, True)
    assert flags[2] == (False, 2, True)
    assert flags[3] == (False, 2, True)
    assert flags[10] == (True, 0, True) and flags[11] == (True, 0, True)
    assert flags[20] == (True, 0, False)

    # the feature arm misses the brightness twin (cosine rotated)
    feat_pairs = {(r.id_a, r.id_b) for r in M.image_near_duplicates(
        media, return_pairs=True).collect()}
    assert (1, 2) not in feat_pairs

    pairs = M.image_near_duplicates(
        media, method="phash", return_pairs=True).collect()
    assert sorted((r.id_a, r.id_b) for r in pairs) == [(1, 2), (1, 3), (2, 3)]
    assert all(r.hamming <= 10 for r in pairs)

    ph = M.image_phashes(media)
    via = {r.media_id: (r.kept, r.n_dups, r.decoded)
           for r in M.image_near_duplicates(
               media, method="phash", phashes=ph).collect()}
    assert via == flags

    import pytest as _pytest
    with _pytest.raises(ValueError, match="method"):
        M.image_near_duplicates(media, method="nope")


def test_audio_near_duplicates_volume_twin(spark):
    """Audio dedup over RMS-envelope features: a volume-scaled re-export
    of the same recording pairs with its source (cosine is amplitude-
    invariant), recordings with different envelopes separate, and
    non-audio rows are excluded."""
    import io
    import wave

    import numpy as np
    from pyspark.sql import Row

    from jsl_engine import multimodal as M

    def wav_blob(x):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes((x.clip(-1, 1) * 20000).astype("<i2").tobytes())
        return buf.getvalue()

    t = np.arange(4000) / 8000.0
    burst_early = np.sin(2 * np.pi * 440 * t) * (t < 0.15)
    burst_late = np.sin(2 * np.pi * 440 * t) * (t > 0.35)

    def media_row(mid, blob, kind="audio"):
        return Row(media_id=mid, kind=kind, mime="audio/wav", width=None,
                   height=None, duration_ms=500, n_bytes=len(blob),
                   payload=bytearray(blob))

    media = spark.createDataFrame([
        media_row(1, wav_blob(burst_early)),
        media_row(2, wav_blob(burst_early * 0.4)),   # volume-scaled twin
        media_row(3, wav_blob(burst_late)),          # different envelope
        media_row(9, M.encode_png(np.zeros((8, 8), np.uint8)), kind="image"),
    ], M.MEDIA_SCHEMA)

    flags = {r.media_id: (r.kept, r.n_dups)
             for r in M.audio_near_duplicates(media, threshold=0.97).collect()}
    assert set(flags) == {1, 2, 3}
    assert flags[1] == (True, 1)
    assert flags[2] == (False, 1)
    assert flags[3] == (True, 0)


def test_gif_roundtrip_lzw_and_interlace():
    """encode_gif → decode_gif is exact across palette sizes (1-255
    colors), dictionary-overflow/clear streams, gray input, and widths
    that exercise LZW code-width growth at the giflib convention; a
    hand-interlaced stream (interlace bit set, rows pre-permuted to the
    4-pass transmission order) decodes back to the original; >256
    colors raises; malformed payloads return None."""
    import numpy as np

    from jsl_engine.multimodal import decode_gif, decode_image, encode_gif

    rng = np.random.default_rng(1)
    for trial, (h, w, ncol) in enumerate(
            [(1, 1, 1), (7, 5, 3), (33, 41, 8), (64, 64, 250),
             (16, 200, 2), (200, 16, 255)]):
        pal = np.unique(rng.integers(0, 256, (ncol, 3), np.uint8), axis=0)
        img = pal[rng.integers(0, len(pal), (h, w))]
        out = decode_gif(encode_gif(img))
        assert out is not None and np.array_equal(out, img), trial

    gray = rng.integers(0, 200, (9, 11), np.uint8)
    assert np.array_equal(decode_gif(encode_gif(gray)),
                          np.stack([gray] * 3, axis=2))

    # dictionary overflow forces the clear-and-rebuild arm
    pal = np.unique(rng.integers(0, 256, (250, 3), np.uint8), axis=0)
    img = pal[rng.integers(0, len(pal), (150, 150))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)

    h, w = 16, 8
    img = pal[rng.integers(0, len(pal), (h, w))]
    order = [*range(0, h, 8), *range(4, h, 8),
             *range(2, h, 4), *range(1, h, 2)]
    blob = bytearray(encode_gif(img[order]))
    desc = 13 + 3 * (2 << (blob[10] & 7))
    assert blob[desc] == 0x2C
    blob[desc + 9] |= 0x40  # interlace flag
    assert np.array_equal(decode_gif(bytes(blob)), img)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="256"):
        encode_gif(rng.integers(0, 256, (40, 40, 3), np.uint8))
    assert decode_gif(b"GIF89a") is None
    assert decode_gif(b"not a gif") is None
    assert decode_gif(encode_gif(img)[:20]) is None
    assert decode_image(encode_gif(img)) is not None  # routed


def test_gif_takes_real_path_in_spark_pipeline(spark):
    """GIF payloads ride the real decode path in extract_features and
    resize_images (re-encoded as GIF with the resized palette image),
    and a GIF re-encode of a PNG image pairs with it in
    image_near_duplicates — container-crossing content dedup."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine import multimodal as M

    rng = np.random.default_rng(6)
    pal = np.unique(rng.integers(0, 256, (32, 3), np.uint8), axis=0)
    img = pal[rng.integers(0, len(pal), (40, 30))]
    gif_blob = M.encode_gif(img)
    png_blob = M.encode_png(img)

    def media_row(mid, blob):
        return Row(media_id=mid, kind="image", mime="x", width=30, height=40,
                   duration_ms=None, n_bytes=len(blob),
                   payload=bytearray(blob))

    media = spark.createDataFrame(
        [media_row(1, png_blob), media_row(2, gif_blob)], M.MEDIA_SCHEMA)
    feats = {r.media_id: (r.decoded, r.feature)
             for r in M.extract_features(media, dim=16).collect()}
    assert feats[2][0] is True
    assert feats[1][1] == feats[2][1]  # same pixels -> same feature

    flags = {r.media_id: r.kept
             for r in M.image_near_duplicates(media).collect()}
    assert flags == {1: True, 2: False}

    [rz] = M.resize_images(
        media.where("media_id = 2"), max_side=20).collect()
    assert (rz.width, rz.height) == (15, 20)
    out = M.decode_gif(bytes(rz.payload))
    assert out is not None
    assert np.array_equal(out, M.resize_nearest(img, 15, 20))


def test_jpeg_progressive_matches_baseline_bitforbit():
    """Progressive (SOF2) decode: the progressive encoder emits the SAME
    quantized coefficients as the baseline path through a 14-scan script
    covering every §G.1.2 mode (interleaved DC first at Al=1, spectral
    AC bands 1-5/6-63 with EOBRUN, DC refinement, AC refinements with
    correction bits and deferred EOBn), so progressive and baseline
    decodes of one input must be equal BIT-FOR-BIT — any
    encoder/decoder asymmetry in the successive-approximation logic
    breaks the equality."""
    import numpy as np

    from jsl_engine.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(0)
    cases = [
        (np.full((16, 24), 137, np.uint8), {}),
        (rng.integers(0, 256, (33, 41), np.uint8), {}),
        (rng.integers(0, 256, (17, 29, 3), np.uint8), {}),
        (rng.integers(0, 256, (24, 24, 3), np.uint8), {"quality": 85}),
        (rng.integers(0, 256, (40, 56, 3), np.uint8), {"subsample": True}),
        (rng.integers(0, 256, (64, 48), np.uint8), {"quality": 50}),
    ]
    for img, kw in cases:
        base = decode_jpeg(encode_jpeg(img, **kw))
        blob = encode_jpeg(img, progressive=True, **kw)
        assert blob[2:4] != b"\xff\xc0" and b"\xff\xc2" in blob[:200]
        prog = decode_jpeg(blob)
        assert prog is not None and np.array_equal(base, prog), kw

    import pytest as _pytest
    with _pytest.raises(ValueError, match="baseline"):
        encode_jpeg(cases[1][0], progressive=True, restart_interval=2)


def test_jpeg_progressive_fuzz_eobrun_zrl_refinement():
    """Seeded fuzz over the coefficient-sparsity regimes that stress
    each progressive coding path: flat images (maximal EOB runs),
    sparse spikes at high quality (ZRL-heavy), smooth gradients at low
    quality (band-empty scans), noise, and 4:2:0 — progressive decode
    must equal baseline decode exactly on every trial. Truncating a
    progressive stream mid-scan still returns None, not a crash."""
    import numpy as np

    from jsl_engine.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    for trial in range(15):
        h = int(rng.integers(1, 70))
        w = int(rng.integers(1, 70))
        mode = trial % 5
        if mode == 0:
            img = rng.integers(0, 256, (h, w, 3), np.uint8)
            kw = {}
        elif mode == 1:
            img = np.full((h, w), int(rng.integers(0, 256)), np.uint8)
            kw = {}
        elif mode == 2:
            yy, xx = np.mgrid[0:h, 0:w]
            img = ((yy + xx) % 256).astype(np.uint8)
            kw = {"quality": 30}
        elif mode == 3:
            img = np.full((h, w, 3), 128, np.uint8)
            for _ in range(6):
                img[rng.integers(0, h), rng.integers(0, w)] = (
                    rng.integers(0, 256, 3))
            kw = {"quality": 90}
        else:
            img = rng.integers(0, 256, (h, w, 3), np.uint8)
            kw = {"subsample": True}
        base = decode_jpeg(encode_jpeg(img, **kw))
        blob = encode_jpeg(img, progressive=True, **kw)
        prog = decode_jpeg(blob)
        assert prog is not None and np.array_equal(base, prog), (trial, mode)
    assert decode_jpeg(blob[: int(len(blob) * 0.6)]) is None


def test_gif_animation_roundtrip_and_compositing():
    """Animated GIF: encode_gif_frames -> decode_gif_frames round-trips
    frames and the GCE delay timeline exactly; hand-built streams pin
    the compositing semantics — transparency leaves the canvas showing
    through, partial frames paint at (left, top), disposal 2 restores
    the rect to background, disposal 3 restores the previous canvas."""
    import struct as st

    import numpy as np

    from jsl_engine.multimodal import (
        _gif_subblocks,
        _lzw_encode,
        decode_gif,
        decode_gif_frames,
        encode_gif_frames,
    )

    rng = np.random.default_rng(2)
    pal = np.unique(rng.integers(0, 256, (40, 3), np.uint8), axis=0)
    frames = [pal[rng.integers(0, len(pal), (12, 10))] for _ in range(4)]
    blob = encode_gif_frames(frames, [50, 120, 70, 200])
    out = decode_gif_frames(blob)
    assert out is not None and len(out) == 4
    assert [t for t, _ in out] == [0, 50, 170, 240]
    for (_, got), want in zip(out, frames):
        assert np.array_equal(got, want)
    assert len(decode_gif_frames(blob, max_frames=2)) == 2
    assert np.array_equal(decode_gif(blob), frames[0])

    # hand-built stream: 6x6 screen, palette [red, green, blue], bg=red
    gp = bytes([250, 0, 0, 0, 250, 0, 0, 0, 250]) + b"\x00" * 3
    hdr = b"GIF89a" + st.pack("<HHBBB", 6, 6, 0x80 | 1, 0, 0) + gp

    def img_block(left, top, w, h, idx, gce=None):
        b = b""
        if gce is not None:
            disposal, delay_cs, trans = gce
            packed = (disposal << 2) | (1 if trans is not None else 0)
            b += st.pack("<BBBBHBB", 0x21, 0xF9, 4, packed, delay_cs,
                         trans if trans is not None else 0, 0)
        b += st.pack("<BHHHHB", 0x2C, left, top, w, h, 0)
        b += bytes([2]) + _gif_subblocks(
            _lzw_encode([int(v) for v in np.ravel(idx)], 2))
        return b

    f_green = np.full((6, 6), 1, int)
    f_mix = np.array([[2, 0], [0, 2]])  # blue + transparent(idx 0)
    payload = (hdr + img_block(0, 0, 6, 6, f_green, gce=(1, 10, None))
               + img_block(2, 2, 2, 2, f_mix, gce=(1, 20, 0)) + b"\x3b")
    out = decode_gif_frames(payload)
    assert [t for t, _ in out] == [0, 100]
    assert (out[0][1] == [0, 250, 0]).all()
    want = out[0][1].copy()
    want[2, 2] = [0, 0, 250]
    want[3, 3] = [0, 0, 250]  # transparent pixels keep prior green
    assert np.array_equal(out[1][1], want)

    f_blue = np.full((2, 2), 2, int)
    payload = (hdr + img_block(2, 2, 2, 2, f_blue, gce=(2, 10, None))
               + img_block(0, 0, 6, 6, np.zeros((6, 6), int),
                           gce=(1, 10, 0)) + b"\x3b")
    out = decode_gif_frames(payload)
    assert (out[1][1][2, 2] == [250, 0, 0]).all()  # disposal 2 -> bg red

    payload = (hdr + img_block(0, 0, 6, 6, f_green, gce=(1, 10, None))
               + img_block(2, 2, 2, 2, f_blue, gce=(3, 10, None))
               + img_block(0, 0, 6, 6, np.zeros((6, 6), int),
                           gce=(1, 10, 0)) + b"\x3b")
    out = decode_gif_frames(payload)
    assert (out[1][1][2, 2] == [0, 0, 250]).all()
    assert (out[2][1][2, 2] == [0, 250, 0]).all()  # disposal 3 restored


def test_sample_frames_real_for_animated_gif(spark):
    """sample_frames takes the REAL path for animated-GIF video rows:
    each grid timestamp emits a PNG of the frame active at that instant
    per the GCE delay timeline (decoded=True); MP4-ish payloads keep
    the deterministic stub (decoded=False) on the same grid."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine import multimodal as M

    rng = np.random.default_rng(4)
    pal = np.unique(rng.integers(0, 256, (16, 3), np.uint8), axis=0)
    frames = [pal[rng.integers(0, len(pal), (8, 6))] for _ in range(3)]
    blob = M.encode_gif_frames(frames, [1500, 1000, 1000])  # ts 0/1500/2500

    rows = [
        Row(media_id=1, kind="video", mime="image/gif", width=6, height=8,
            duration_ms=4000, n_bytes=len(blob), payload=bytearray(blob)),
        Row(media_id=2, kind="video", mime="video/mp4", width=None,
            height=None, duration_ms=3000, n_bytes=3,
            payload=bytearray(b"mp4")),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = M.sample_frames(media, every_ms=1000, max_frames=8).collect()
    gif = sorted((r for r in out if r.media_id == 1),
                 key=lambda r: r.frame_index)
    assert [r.ts_ms for r in gif] == [0, 1000, 2000, 3000]
    assert all(r.decoded for r in gif)
    # ts 0,1000 -> frame0 (active until 1500); 2000 -> frame1; 3000 -> frame2
    want = [frames[0], frames[0], frames[1], frames[2]]
    for r, w in zip(gif, want):
        img = M.decode_png(bytes(r.frame))
        assert img is not None and np.array_equal(img, w), r.frame_index
    mp4 = [r for r in out if r.media_id == 2]
    assert len(mp4) == 3 and not any(r.decoded for r in mp4)


def test_video_near_duplicates_animated_gif(spark):
    """Video dedup completes the modality triple: a re-timed re-encode
    of the same animation pairs with its source (frame sampling is by
    index, so delays don't matter), a REVERSED animation does not
    (temporal order is part of the signature), visually distinct
    animations separate, and undecodable MP4-ish rows are always kept
    with decoded=false."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine import multimodal as M

    rng = np.random.default_rng(12)
    pal = np.unique(rng.integers(0, 256, (24, 3), np.uint8), axis=0)
    seq = [pal[rng.integers(0, len(pal), (10, 8))] for _ in range(5)]
    other = [pal[rng.integers(0, len(pal), (10, 8))] for _ in range(5)]

    def media_row(mid, blob):
        return Row(media_id=mid, kind="video", mime="image/gif", width=8,
                   height=10, duration_ms=2000, n_bytes=len(blob),
                   payload=bytearray(blob))

    media = spark.createDataFrame([
        media_row(1, M.encode_gif_frames(seq, [100] * 5)),
        media_row(2, M.encode_gif_frames(seq, [400] * 5)),   # re-timed twin
        media_row(3, M.encode_gif_frames(seq[::-1], [100] * 5)),  # reversed
        media_row(4, M.encode_gif_frames(other, [100] * 5)),      # distinct
        Row(media_id=9, kind="video", mime="video/mp4", width=None,
            height=None, duration_ms=500, n_bytes=4,
            payload=bytearray(b"mp4!")),
        Row(media_id=20, kind="image", mime="x", width=2, height=2,
            duration_ms=None, n_bytes=10,
            payload=bytearray(M.encode_png(np.zeros((2, 2), np.uint8)))),
    ], M.MEDIA_SCHEMA)

    flags = {r.media_id: (r.kept, r.n_dups, r.decoded)
             for r in M.video_near_duplicates(media).collect()}
    assert set(flags) == {1, 2, 3, 4, 9}  # videos only
    assert flags[1] == (True, 1, True)
    assert flags[2] == (False, 1, True)
    assert flags[3][0] is True and flags[3][1] == 0  # reversal separates
    assert flags[4] == (True, 0, True)
    assert flags[9] == (True, 0, False)

    pairs = [(r.id_a, r.id_b) for r in
             M.video_near_duplicates(media, return_pairs=True).collect()]
    assert pairs == [(1, 2)]

    # materialized-features path yields identical flags
    feats = M.video_features(media)
    via = {r.media_id: (r.kept, r.n_dups, r.decoded)
           for r in M.video_near_duplicates(media, features=feats).collect()}
    assert via == flags


def test_tiff_roundtrip_endianness_and_strips():
    """Uncompressed-TIFF codec: little-endian encode round-trips gray
    and RGB exactly; a hand-built BIG-endian multi-strip RGBA stream
    decodes (alpha dropped); white-is-zero grayscale inverts; compressed
    or truncated streams return None; decode_image routes TIFF — and a
    TIFF re-encode of the same pixels pairs with its PNG twin in the
    image dedup."""
    import struct as st

    import numpy as np

    from jsl_engine.multimodal import decode_image, decode_tiff, encode_tiff

    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, (21, 17, 3), np.uint8)
    assert np.array_equal(decode_tiff(encode_tiff(rgb)), rgb)
    gray = rng.integers(0, 256, (9, 5), np.uint8)
    assert np.array_equal(decode_tiff(encode_tiff(gray)), gray)
    assert decode_image(encode_tiff(rgb)) is not None

    h, w = 6, 4
    img = rng.integers(0, 256, (h, w, 4), np.uint8)
    data = img.tobytes()
    strips = [data[i * w * 4 * 2:(i + 1) * w * 4 * 2] for i in range(3)]
    offs, cnts, cur, blob_data = [], [], 8, b""
    for s_ in strips:
        offs.append(cur)
        cnts.append(len(s_))
        cur += len(s_)
        blob_data += s_
    ifd_off = cur

    def entry(tag, typ, cnt, val):
        b = st.pack(">HHI", tag, typ, cnt)
        return b + (st.pack(">HH", val, 0) if typ == 3 and cnt == 1
                    else st.pack(">I", val))

    bps_off = ifd_off + 2 + 12 * 10 + 4
    arr_off = bps_off + 8
    entries = [
        entry(256, 4, 1, w), entry(257, 4, 1, h),
        entry(258, 3, 4, bps_off), entry(259, 3, 1, 1),
        entry(262, 3, 1, 2), entry(273, 4, 3, arr_off),
        entry(277, 3, 1, 4), entry(278, 4, 1, 2),
        entry(279, 4, 3, arr_off + 12), entry(284, 3, 1, 1),
    ]
    ifd = st.pack(">H", len(entries)) + b"".join(entries) + st.pack(">I", 0)
    tail = (st.pack(">HHHH", 8, 8, 8, 8) + st.pack(">III", *offs)
            + st.pack(">III", *cnts))
    blob = b"MM\x00*" + st.pack(">I", ifd_off) + blob_data + ifd + tail
    assert np.array_equal(decode_tiff(blob), img[:, :, :3])

    wz = bytearray(encode_tiff(gray))
    i = wz.find(st.pack("<HHI", 262, 3, 1))
    wz[i + 8:i + 10] = st.pack("<H", 0)  # photometric white-is-zero
    assert np.array_equal(decode_tiff(bytes(wz)), 255 - gray)

    assert decode_tiff(b"II*\x00junk") is None
    assert decode_tiff(b"not tiff") is None
    lzw = bytearray(encode_tiff(rgb))
    i = lzw.find(st.pack("<HHI", 259, 3, 1))
    lzw[i + 8:i + 10] = st.pack("<H", 5)  # Compression=LZW: unsupported
    assert decode_tiff(bytes(lzw)) is None
    assert decode_tiff(encode_tiff(rgb)[:30]) is None


def test_tiff_pairs_cross_container_in_spark(spark):
    """A TIFF re-encode of the same pixels rides the real feature path
    and pairs with its PNG twin in image_near_duplicates."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine import multimodal as M

    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, (24, 18, 3), np.uint8)
    rows = []
    for mid, blob in ((1, M.encode_png(img)), (2, M.encode_tiff(img))):
        rows.append(Row(media_id=mid, kind="image", mime="x", width=18,
                        height=24, duration_ms=None, n_bytes=len(blob),
                        payload=bytearray(blob)))
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    flags = {r.media_id: (r.kept, r.decoded)
             for r in M.image_near_duplicates(media).collect()}
    assert flags == {1: (True, True), 2: (False, True)}


def test_decoder_bomb_and_allocation_guards():
    """Untrusted-corpus robustness: a PNG whose stream inflates far past
    its header-implied size is rejected by the BOUNDED inflate (no
    multi-GB allocation), oversized header dimensions are rejected
    before any allocation in PNG and GIF, and normal round-trips are
    untouched."""
    import struct as st
    import zlib

    import numpy as np

    from jsl_engine.multimodal import (
        decode_gif_frames,
        decode_png,
        encode_gif_frames,
        encode_png,
    )

    def chunk(typ, data):
        return (st.pack(">I", len(data)) + typ + data
                + st.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    bomb = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", st.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * (10 * 1024 * 1024)))
            + chunk(b"IEND", b""))
    assert decode_png(bomb) is None

    huge = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", st.pack(">IIBBBBB", 60000, 60000, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00"))
            + chunk(b"IEND", b""))
    assert decode_png(huge) is None

    g = (b"GIF89a" + st.pack("<HHBBB", 60000, 60000, 0, 0, 0) + b"\x3b")
    assert decode_gif_frames(g) is None

    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (9, 7, 3), np.uint8)
    assert decode_png(encode_png(img)) is not None
    pal = np.unique(rng.integers(0, 256, (9, 3), np.uint8), axis=0)
    frames = [pal[rng.integers(0, len(pal), (5, 4))] for _ in range(3)]
    blob = encode_gif_frames(frames, [10] * 3)
    assert len(decode_gif_frames(blob)) == 3
    # the bounded-decode prefix contract: max_frames caps work per row
    assert len(decode_gif_frames(blob, max_frames=2)) == 2


def test_mp4_container_parse_and_builder():
    """ISO-BMFF box parsing: the independently written builder
    round-trips brand/duration/track metadata (video and audio
    tracks); hand-built version-1 mvhd and 64-bit largesize boxes
    parse; malformed sizes and non-MP4 payloads return None without
    over-reading."""
    import struct as st

    from jsl_engine.mp4 import build_mp4, parse_mp4

    blob = build_mp4(duration_ms=5500, width=640, height=360,
                     codec=b"avc1", n_samples=165, mdat=b"\x00" * 256)
    meta = parse_mp4(blob)
    assert meta["brand"] == "isom" and meta["duration_ms"] == 5500
    [trk] = meta["tracks"]
    assert trk == {"kind": "vide", "codec": "avc1", "width": 640,
                   "height": 360, "duration_ms": 5500, "n_samples": 165}

    [trk] = parse_mp4(build_mp4(duration_ms=3000, codec=b"mp4a",
                                kind=b"soun", n_samples=129))["tracks"]
    assert (trk["kind"], trk["codec"], trk["width"],
            trk["n_samples"]) == ("soun", "mp4a", None, 129)

    def box(t, b):
        return st.pack(">I", len(b) + 8) + t + b

    mvhd1 = (bytes([1]) + b"\x00\x00\x00"
             + st.pack(">QQIQ", 0, 0, 1000, 7000) + b"\x00" * 80)
    payload = (box(b"ftyp", b"mp42" + st.pack(">I", 0))
               + box(b"moov", box(b"mvhd", mvhd1)))
    assert parse_mp4(payload)["duration_ms"] == 7000
    # 64-bit largesize framing of the same moov
    inner = box(b"mvhd", mvhd1)
    large = (st.pack(">I", 1) + b"moov" + st.pack(">Q", 16 + len(inner))
             + inner)
    payload = box(b"ftyp", b"mp42" + st.pack(">I", 0)) + large
    assert parse_mp4(payload)["duration_ms"] == 7000

    assert parse_mp4(b"not an mp4") is None
    assert parse_mp4(b"") is None
    assert parse_mp4(st.pack(">I", 0xFFFFFFF0) + b"ftypisom") is None


def test_media_probe_detects_metadata_drift(spark):
    """media_probe reads each payload's OWN container metadata and flags
    disagreement with the claimed columns: wrong claimed dims on a PNG
    and wrong claimed duration on an MP4 are caught; consistent rows
    and rows whose container carries no comparable field are clean;
    every container type is identified."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine import multimodal as M
    from jsl_engine.jpeg import encode_jpeg
    from jsl_engine.mp4 import build_mp4

    rng = np.random.default_rng(15)
    img = rng.integers(0, 256, (20, 30, 3), np.uint8)

    def media_row(mid, kind, blob, w=None, h=None, dur=None):
        return Row(media_id=mid, kind=kind, mime="x", width=w, height=h,
                   duration_ms=dur, n_bytes=len(blob),
                   payload=bytearray(blob))

    rows = [
        media_row(1, "image", M.encode_png(img), w=30, h=20),     # clean
        media_row(2, "image", M.encode_png(img), w=99, h=20),     # dims lie
        media_row(3, "video", build_mp4(duration_ms=4000), dur=4000),
        media_row(4, "video", build_mp4(duration_ms=4000), dur=9000),
        media_row(5, "image", M.encode_bmp(img), w=30, h=20),
        media_row(6, "image", M.encode_tiff(img), w=30, h=20),
        media_row(7, "image", encode_jpeg(img), w=30, h=20),
        media_row(8, "video", b"opaque-bytes", dur=5),            # unknown
    ]
    probe = {r.media_id: r for r in M.media_probe(
        spark.createDataFrame(rows, M.MEDIA_SCHEMA)).collect()}
    assert probe[1].container == "png" and not probe[1].dims_drift
    assert probe[2].dims_drift
    assert probe[3].container == "mp4" and not probe[3].duration_drift
    assert probe[4].duration_drift
    assert probe[4].codec == "avc1" and probe[4].n_tracks == 1
    assert probe[5].container == "bmp" and not probe[5].dims_drift
    assert probe[6].container == "tiff" and not probe[6].dims_drift
    assert probe[7].container == "jpeg" and not probe[7].dims_drift
    assert probe[7].probed_width == 30 and probe[7].probed_height == 20
    assert probe[8].container == "unknown"
    assert not probe[8].dims_drift and not probe[8].duration_drift


def test_resize_preserves_gif_animation(spark):
    """resize_images must not flatten an animated GIF stored as an image
    row: every frame is resized and the delay timeline survives."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine import multimodal as M

    rng = np.random.default_rng(9)
    pal = np.unique(rng.integers(0, 256, (12, 3), np.uint8), axis=0)
    frames = [pal[rng.integers(0, len(pal), (48, 40))] for _ in range(3)]
    blob = M.encode_gif_frames(frames, [50, 120, 200])
    media = spark.createDataFrame([Row(
        media_id=1, kind="image", mime="image/gif", width=40, height=48,
        duration_ms=None, n_bytes=len(blob), payload=bytearray(blob),
    )], M.MEDIA_SCHEMA)
    [rz] = M.resize_images(media, max_side=24).collect()
    assert (rz.width, rz.height) == (20, 24)
    out = M.decode_gif_frames(bytes(rz.payload))
    assert out is not None and len(out) == 3
    assert [t for t, _ in out] == [0, 50, 170]
    for (_, got), want in zip(out, frames):
        assert np.array_equal(got, M.resize_nearest(want, 20, 24))


def test_gif_lzw_fuzz_depths_and_lengths():
    """Seeded fuzz of the LZW pair in isolation: random index streams
    at every min-code depth (2-8), lengths from 1 to past the 4096-entry
    dictionary clear, skewed and uniform symbol distributions — decode
    must reproduce the stream exactly (the width-clock convention has a
    one-position failure mode only a dense sweep reliably hits)."""
    import numpy as np

    from jsl_engine.multimodal import _lzw_decode, _lzw_encode

    rng = np.random.default_rng(99)
    for trial in range(40):
        depth = int(rng.integers(2, 9))
        n = int(rng.integers(1, 9000))
        n_syms = 1 << depth
        if trial % 3 == 0:
            # skewed: long runs -> deep dictionary chains
            idx = np.repeat(
                rng.integers(0, n_syms, size=max(1, n // 8)), 8
            )[:n].tolist()
        else:
            idx = rng.integers(0, n_syms, size=n).tolist()
        body = _lzw_encode(idx, depth)
        out = _lzw_decode(body, depth, n)
        assert out == idx, (trial, depth, n)


def test_media_near_dup_defaults_materialize_decode_once(spark):
    """r8 (round-7 verdict item 1): the un-materialized defaults of the
    media near-dup entry points must EAGERLY materialize their
    signature pass at construction — the decode is THE dominant media
    cost and the downstream banding/verify/SemDeDup branches would
    otherwise re-run it once per consuming branch. Gate: building the
    frame (no action on it) runs the materialization job and leaves a
    cached signature table; pairs equal the features=-materialized
    path."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine import multimodal as M

    yy, xx = np.mgrid[0:32, 0:24]
    base = np.stack([
        (yy * 5) % 256, (xx * 9) % 256, (yy + xx) % 256,
    ], axis=2).astype(np.uint8)
    rng = np.random.default_rng(3)

    def media_row(mid, blob):
        return Row(media_id=mid, kind="image", mime="x", width=24,
                   height=32, duration_ms=None, n_bytes=len(blob),
                   payload=bytearray(blob))

    rows = [
        media_row(1, M.encode_png(base)),
        media_row(2, M.encode_bmp(base)),
        media_row(3, M.encode_netpbm(base)),
    ]
    for mid in (10, 11):
        rows.append(media_row(
            mid, M.encode_png(rng.integers(0, 256, (32, 24, 3), np.uint8))))
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, mime string, width int, height int, "
        "duration_ms int, n_bytes long, payload binary",
    )

    jsc = spark.sparkContext._jsc.sc()
    for entry, kw in (
        (M.image_near_duplicates, {}),
        (M.image_near_duplicates, {"method": "phash"}),
        (M.video_near_duplicates, {}),
        (M.audio_near_duplicates, {}),
    ):
        before = jsc.getRDDStorageInfo()
        n_cached_before = len(before)
        out = entry(media, **kw)   # construction only — no action here
        after = jsc.getRDDStorageInfo()
        assert len(after) > n_cached_before, (
            f"{entry.__name__}({kw}) did not eagerly materialize its "
            "signature pass at construction"
        )
        out.collect()  # the composed frame still executes cleanly

    # pairs unchanged vs the caller-materialized path
    feats = M.extract_features(media, dim=16)
    feats.cache().count()
    default_pairs = {
        (r.id_a, r.id_b)
        for r in M.image_near_duplicates(media, return_pairs=True).collect()
    }
    mat_pairs = {
        (r.id_a, r.id_b)
        for r in M.image_near_duplicates(
            media, features=feats, return_pairs=True
        ).collect()
    }
    assert default_pairs == mat_pairs and {(1, 2), (1, 3), (2, 3)} <= mat_pairs
