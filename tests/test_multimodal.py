"""Multimodal plumbing + REAL stdlib decode kernels (PPM/BMP/WAV).

Asserted here: schema, determinism, batch-shape independence, and --
new in round 4 -- that features and resizes are computed from actual
pixels/samples: known payloads must produce independently recomputed
stats, and undecodable codecs must keep raising through the strict
path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from uofi_payroll_etl_main_spark.llm.multimodal import (
    FEATURE_DIM,
    _fake_feature,
    decode_media,
    encode_bmp,
    encode_png,
    encode_ppm,
    encode_wav,
    extract_features,
    resize_media,
    resize_nearest,
    sample_frames,
    synth_media,
)


def test_synth_media_schema_and_determinism(spark):
    df = synth_media(spark, 30)
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema == {
        "media_id": "bigint",
        "kind": "string",
        "payload": "binary",
        "meta": "map<string,string>",
    }
    a = sorted((r.media_id, bytes(r.payload)) for r in df.collect())
    b = sorted((r.media_id, bytes(r.payload)) for r in synth_media(spark, 30).collect())
    assert a == b  # deterministic across invocations
    kinds = {r.kind for r in df.collect()}
    assert kinds == {"image", "audio", "video"}


def test_ppm_roundtrip_and_known_decode():
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    payload = encode_ppm(px)
    assert payload.startswith(b"P6\n3 2\n255\n")
    got = decode_media(payload, "image")
    assert got["width"] == 3 and got["height"] == 2
    assert np.array_equal(got["pixels"], px)


def test_bmp_roundtrip_matches_ppm_decode():
    px = (np.arange(4 * 5 * 3, dtype=np.int64) * 17 % 256).astype(np.uint8).reshape(4, 5, 3)
    got = decode_media(encode_bmp(px), "image")
    assert got["width"] == 5 and got["height"] == 4
    assert np.array_equal(got["pixels"], px)


def test_png_roundtrip():
    px = (np.arange(6 * 7 * 3, dtype=np.int64) * 29 % 256).astype(np.uint8).reshape(6, 7, 3)
    payload = encode_png(px)
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    got = decode_media(payload, "image")
    assert got["width"] == 7 and got["height"] == 6
    assert np.array_equal(got["pixels"], px)


def _png_forward_filter(px: np.ndarray, filters: list[int], nch: int = 3) -> bytes:
    """Independent FORWARD scanline filter (PNG spec 9.2) -- the test-side
    half of the codec: product code only implements the inverse."""
    import struct as _struct
    import zlib as _zlib

    h, w, _ = px.shape
    stride = w * nch
    flat = px.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    for r in range(h):
        f = filters[r % len(filters)]
        cur = flat[r]
        prev = flat[r - 1] if r > 0 else np.zeros(stride, dtype=np.int32)
        out = np.empty(stride, dtype=np.int32)
        for i in range(stride):
            a = cur[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (cur[i] - pred) & 0xFF
        raw += bytes([f]) + out.astype(np.uint8).tobytes()
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(typ, data):
        return (
            _struct.pack(">I", len(data)) + typ + data
            + _struct.pack(">I", _zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    colortype = {1: 0, 3: 2, 4: 6}[nch]
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", _zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_all_filter_types_decode():
    # every scanline filter type, produced by an independent forward
    # implementation, must invert to the original pixels
    px = ((np.arange(8 * 9 * 3, dtype=np.int64) * 53 + 11) % 256).astype(np.uint8).reshape(8, 9, 3)
    payload = _png_forward_filter(px, filters=[0, 1, 2, 3, 4])
    got = decode_media(payload, "image")
    assert np.array_equal(got["pixels"], px)


def test_png_gray_and_rgba_variants():
    h, w = 4, 5
    gray = ((np.arange(h * w) * 37) % 256).astype(np.uint8).reshape(h, w, 1)
    payload = _png_forward_filter(gray, filters=[0, 2], nch=1)
    got = decode_media(payload, "image")
    assert got["pixels"].shape == (h, w, 3)
    assert np.array_equal(got["pixels"], np.repeat(gray, 3, axis=2))

    rgba = ((np.arange(h * w * 4) * 19) % 256).astype(np.uint8).reshape(h, w, 4)
    payload = _png_forward_filter(rgba, filters=[1, 4], nch=4)
    got = decode_media(payload, "image")
    assert np.array_equal(got["pixels"], rgba[:, :, :3])


def test_png_unsupported_variants_raise():
    import struct as _struct
    import zlib as _zlib

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(typ, data):
        return (
            _struct.pack(">I", len(data)) + typ + data
            + _struct.pack(">I", _zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    # 16-bit depth
    bad = sig + chunk(b"IHDR", _struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
    with pytest.raises(NotImplementedError):
        decode_media(bad, "image")
    # palette color type
    bad = sig + chunk(b"IHDR", _struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
    with pytest.raises(NotImplementedError):
        decode_media(bad, "image")
    # Adam7 interlace
    bad = sig + chunk(b"IHDR", _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
    with pytest.raises(NotImplementedError):
        decode_media(bad, "image")


def test_wav_roundtrip():
    samples = np.array([0, 1000, -1000, 32767, -32768, 5], dtype=np.int16)
    got = decode_media(encode_wav(samples, rate=16000), "audio")
    assert got["rate"] == 16000
    assert np.array_equal(got["samples"], samples)


def test_extract_features_real_pixel_stats(spark):
    """Known payload -> independently recomputed feature values."""
    df = synth_media(spark, 24)
    feats = {r.media_id: r.feature for r in extract_features(df).collect()}
    rows = {r.media_id: (r.kind, bytes(r.payload)) for r in df.collect()}
    assert len(feats) == 24
    for mid, (kind, payload) in rows.items():
        f = feats[mid]
        assert len(f) == FEATURE_DIM
        if kind == "image":
            d = decode_media(payload, kind)
            px = d["pixels"].astype(np.float64) / 255.0
            assert f[0] == d["width"] and f[1] == d["height"] and f[2] == 3.0
            assert f[3] == pytest.approx(px[:, :, 0].mean(), abs=1e-6)
            assert f[6] == pytest.approx(px.std(), abs=1e-6)
        elif kind == "audio":
            d = decode_media(payload, kind)
            s = d["samples"].astype(np.float64) / 32768.0
            assert f[0] == 8000.0 and f[1] == len(s) and f[2] == 1.0
            assert f[3] == pytest.approx(s.mean(), abs=1e-6)
            assert f[5] == pytest.approx(s.min(), abs=1e-6)
        else:  # video: opaque -> crc32 fallback in [0, 1)
            assert all(0.0 <= x < 1.0 for x in f)


def test_extract_features_partitioned_batches(spark):
    # batch shape must not affect results: 1 partition vs 8 partitions
    df = synth_media(spark, 40)
    one = {r.media_id: r.feature for r in extract_features(df.coalesce(1)).collect()}
    many = {r.media_id: r.feature for r in extract_features(df.repartition(8)).collect()}
    assert one == many


def test_strict_mode_raises_on_undecodable(spark):
    with pytest.raises(NotImplementedError, match="no decoder available"):
        decode_media(b"\x89PNG\r\n", "image")
    # video payloads are opaque -> strict mode surfaces the gate
    df = synth_media(spark, 6)
    with pytest.raises(Exception, match="no decoder available"):
        extract_features(df, use_stub=False).collect()
    # in auto mode the opaque video rows fall back to the crc32 stub
    out = {r.media_id: r for r in extract_features(df).collect()}
    assert len(out) == 6
    videos = {r.media_id: bytes(r.payload) for r in df.filter("kind = 'video'").collect()}
    assert videos
    for mid, payload in videos.items():
        assert out[mid].feature == pytest.approx(_fake_feature(payload))
        assert all(0.0 <= x < 1.0 for x in out[mid].feature)


def test_sample_frames_every_n(spark):
    df = synth_media(spark, 30)
    out = sample_frames(df, every_n=2).collect()
    assert all(r.frame_idx % 2 == 0 for r in out)
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    meta = {r.media_id: int(r.meta["frames"]) for r in df.filter("kind = 'video'").collect()}
    assert set(by_media) == set(meta)  # only video rows sampled
    for mid, idxs in by_media.items():
        assert sorted(idxs) == list(range(0, meta[mid], 2))


def test_resize_media_real_nearest_neighbor(spark):
    df = synth_media(spark, 30)
    out = resize_media(df, width=4, height=3)
    assert out.columns == ["media_id", "kind", "width", "height", "payload"]
    rows = out.collect()
    assert rows and all(r.kind == "image" for r in rows)
    src = {r.media_id: bytes(r.payload) for r in df.filter("kind = 'image'").collect()}
    for r in rows:
        # output is a real 4x3 PPM whose pixels equal an independent
        # nearest-neighbor resample of the decoded source
        d = decode_media(bytes(r.payload), "image")
        assert (d["width"], d["height"]) == (4, 3)
        expect = resize_nearest(decode_media(src[r.media_id], "image")["pixels"], 4, 3)
        assert np.array_equal(d["pixels"], expect)


def test_resize_media_stub_mode_stays_deterministic(spark):
    df = synth_media(spark, 30)
    first = {r.media_id: bytes(r.payload) for r in resize_media(df, 32, 16, use_stub=True).collect()}
    again = {r.media_id: bytes(r.payload) for r in resize_media(df, 32, 16, use_stub=True).collect()}
    other = {r.media_id: bytes(r.payload) for r in resize_media(df, 64, 64, use_stub=True).collect()}
    assert first == again
    assert all(len(v) == 32 for v in first.values())
    assert all(first[k] != other[k] for k in first)


def test_media_payloads_roundtrip_parquet(spark, tmp_path):
    """Binary payload columns must survive the parquet sink byte-exact
    (the lakehouse contract every multimodal pipeline rests on)."""
    path = str(tmp_path / "media")
    df = synth_media(spark, 36)
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    a = {r.media_id: bytes(r.payload) for r in df.collect()}
    b = {r.media_id: bytes(r.payload) for r in back.collect()}
    assert a == b
    # and the decode path runs identically on the read-back frame
    feats_mem = {r.media_id: r.feature for r in extract_features(df).collect()}
    feats_pq = {r.media_id: r.feature for r in extract_features(back).collect()}
    assert feats_mem == feats_pq


class TestImageDhash:
    def _frame(self, spark, rows):
        from uofi_payroll_etl_main_spark.llm.multimodal import MEDIA_SCHEMA

        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_cross_codec_hash_stability(self, spark):
        """The same pixels under PPM/PNG/JPEG-95 must hash identically
        (the whole point of a perceptual hash)."""
        from uofi_payroll_etl_main_spark.llm.multimodal import (
            _synth_pixels, dhash64, encode_jpeg, encode_png, encode_ppm, image_dhash,
        )

        px = _synth_pixels(16, 12, 5)
        other = _synth_pixels(16, 12, 77)
        df = self._frame(spark, [
            (1, "image", bytearray(encode_ppm(px)), {}),
            (2, "image", bytearray(encode_png(px)), {}),
            (3, "image", bytearray(encode_jpeg(px, quality=95)), {}),
            (4, "image", bytearray(encode_ppm(other)), {}),
            (5, "audio", bytearray(b"RIFFxxxxWAVE"), {}),
        ])
        h = {r.media_id: r.dhash for r in image_dhash(df).collect()}
        assert set(h) == {1, 2, 3, 4}  # non-image rows excluded
        assert h[1] == h[2] == h[3]
        assert h[1] != h[4]
        # spark-side hash equals the plain python kernel
        assert h[1] == dhash64(px)

    def test_planted_duplicates_all_recalled(self, spark):
        from pyspark.sql import functions as F
        from uofi_payroll_etl_main_spark.llm.multimodal import (
            image_dup_candidates, synth_media,
        )

        base = synth_media(spark, 30)
        shifted = synth_media(spark, 30).withColumn("media_id", F.col("media_id") + 1000)
        pairs = {
            (r.doc_a, r.doc_b)
            for r in image_dup_candidates(base.unionByName(shifted), max_hamming=3).collect()
        }
        image_ids = [r.media_id for r in base.filter("kind = 'image'").collect()]
        expect = {(i, i + 1000) for i in image_ids}
        assert expect <= pairs  # every planted dup recalled (hamming 0)

    def test_undecodable_images_yield_null_and_drop(self, spark):
        from uofi_payroll_etl_main_spark.llm.multimodal import (
            _synth_pixels, encode_ppm, image_dhash, image_dup_candidates,
        )

        df = self._frame(spark, [
            (1, "image", bytearray(b"\xff\xd8garbage-not-a-real-jpeg"), {}),
            (2, "image", bytearray(encode_ppm(_synth_pixels(8, 8, 1))), {}),
        ])
        # decode failure inside the kernel must not kill the job
        out = {r.media_id: r.dhash for r in image_dhash(df).collect()}
        assert out[2] is not None
        assert image_dup_candidates(df).count() == 0


class TestAudioVad:
    def test_segments_match_constructed_activity(self, spark):
        from uofi_payroll_etl_main_spark.llm.multimodal import (
            MEDIA_SCHEMA, audio_vad, encode_wav, vad_segments,
        )

        rate = 8000
        frame = rate // 50  # 20ms frames
        silence = np.zeros(frame * 10, dtype=np.int16)          # 200ms
        tone = (np.sin(np.arange(frame * 10) * 0.3) * 8000).astype(np.int16)
        samples = np.concatenate([silence, tone, silence, tone])
        # python kernel: exactly two active runs at the tone intervals
        segs = vad_segments(samples, rate, frame_ms=20, threshold_db=-30.0)
        assert [(s, e) for s, e, _ in segs] == [(200, 400), (600, 800)]
        assert all(db > -30.0 for _, _, db in segs)

        df = spark.createDataFrame(
            [(7, "audio", bytearray(encode_wav(samples, rate)), {}),
             (8, "image", bytearray(b"P6 garbage"), {})],
            MEDIA_SCHEMA,
        )
        rows = sorted(
            (r.media_id, r.seg_start_ms, r.seg_end_ms)
            for r in audio_vad(df).collect()
        )
        assert rows == [(7, 200, 400), (7, 600, 800)]

    def test_all_silence_yields_no_segments(self, spark):
        from uofi_payroll_etl_main_spark.llm.multimodal import (
            MEDIA_SCHEMA, audio_vad, encode_wav,
        )

        df = spark.createDataFrame(
            [(1, "audio", bytearray(encode_wav(np.zeros(4000, dtype=np.int16))), {})],
            MEDIA_SCHEMA,
        )
        assert audio_vad(df).count() == 0

    def test_synth_corpus_end_to_end(self, spark):
        from uofi_payroll_etl_main_spark.llm.multimodal import audio_vad, synth_media

        # synth clips are 64-160 samples (8-20ms at 8kHz): use 5ms
        # frames so every clip holds at least one full frame
        out = audio_vad(synth_media(spark, 30), frame_ms=5).collect()
        # synthetic audio is loud throughout -> one segment per clip
        assert out and all(r.seg_start_ms == 0 for r in out)
        assert all(r.seg_end_ms > 0 and r.mean_db > -30 for r in out)


class TestAudioFingerprint:
    def _tone(self, freq, n=2000, rate=8000, amp=8000.0):
        t = np.arange(n) / rate
        return (amp * np.sin(2 * np.pi * freq * t)).astype(np.int16)

    def test_gain_invariant_and_discriminative(self):
        from uofi_payroll_etl_main_spark.llm.multimodal import audio_fp64

        a = audio_fp64(self._tone(440), 8000)
        # uniform gain change: identical fingerprint
        assert audio_fp64(self._tone(440, amp=2000.0), 8000) == a
        # mild requantization noise: nearby fingerprint
        noisy = self._tone(440) + np.int16(3)
        ham = bin((audio_fp64(noisy, 8000) ^ a) & (2**64 - 1)).count("1")
        assert ham <= 3
        # a chirp has a different spectral trajectory than a steady tone
        t = np.arange(2000) / 8000.0
        chirp = (8000 * np.sin(2 * np.pi * (200 + 1500 * t) * t)).astype(np.int16)
        ham2 = bin((audio_fp64(chirp, 8000) ^ a) & (2**64 - 1)).count("1")
        assert ham2 > 3
        # too short to frame -> None
        assert audio_fp64(np.zeros(10, dtype=np.int16), 8000) is None

    def test_planted_duplicates_all_recalled(self, spark):
        from uofi_payroll_etl_main_spark.llm.multimodal import (
            audio_dup_candidates, synth_media,
        )

        base = synth_media(spark, 30)
        shifted = synth_media(spark, 30).withColumn(
            "media_id", F.col("media_id") + 1000
        )
        pairs = audio_dup_candidates(
            base.unionByName(shifted), max_hamming=0
        ).collect()
        got = {(r.doc_a, r.doc_b) for r in pairs}
        # audio rows are media_id % 3 == 1; every one has its +1000 twin
        planted = {(i, i + 1000) for i in range(30) if i % 3 == 1
                   and (64 + i % 97) >= 18}
        assert planted <= got
        assert all(r.hamming == 0 for r in pairs if (r.doc_a, r.doc_b) in planted)


class TestDecodeQuarantine:
    """Corrupt-media quarantine lane: deliberately damaged fixtures per
    format must land in status='quarantined' with the error recorded,
    clean rows stay 'ok', unknown formats stay 'unsupported' -- and the
    scan never raises (the 100 TB contract: one bad byte-string must
    not kill a task)."""

    def _df(self, spark, rows):
        from uofi_payroll_etl_main_spark.llm.multimodal import MEDIA_SCHEMA

        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_per_format_corruption_statuses(self, spark):
        import hashlib

        from uofi_payroll_etl_main_spark.llm.multimodal import (
            _synth_pixels,
            _synth_samples,
            decode_quarantine,
            encode_jpeg,
            encode_png,
            encode_ppm,
            encode_wav,
        )

        px = _synth_pixels(8, 6, 3)
        ppm = encode_ppm(px)
        png = encode_png(px)
        jpg = encode_jpeg(px, quality=92)
        wav = encode_wav(_synth_samples(80, 3), rate=8000)
        bad_png = bytearray(png)
        bad_png[len(bad_png) // 2] ^= 0xFF  # corrupt inside IDAT
        rows = [
            (0, "image", ppm, {"codec": "ppm"}),
            (1, "image", ppm[: len(ppm) // 2], {"codec": "ppm"}),  # truncated
            (2, "image", png, {"codec": "png"}),
            (3, "image", bytes(bad_png), {"codec": "png"}),        # bad IDAT byte
            (4, "image", jpg, {"codec": "jpeg"}),
            (5, "image", jpg[: len(jpg) - 40], {"codec": "jpeg"}),  # truncated scan
            (6, "image", jpg[:2] + b"\xff\x01" + jpg[2:], {"codec": "jpeg"}),  # bad marker
            (7, "audio", wav, {"codec": "wav"}),
            (8, "audio", wav[:20], {"codec": "wav"}),              # truncated header
            (9, "video", hashlib.sha256(b"v").digest(), {"codec": "synthetic"}),
        ]
        got = {
            r.media_id: r
            for r in decode_quarantine(self._df(spark, rows)).collect()
        }
        assert got[0].status == "ok" and got[0].error is None
        assert got[2].status == "ok" and got[4].status == "ok"
        assert got[7].status == "ok"
        for mid in (1, 3, 5, 6, 8):
            assert got[mid].status == "quarantined", (mid, got[mid])
            assert got[mid].error, mid
        assert got[9].status == "unsupported"
        assert "NotImplementedError" in got[9].error
        assert got[3].codec == "png" and got[3].n_bytes == len(png)

    def test_corrupt_media_is_deterministic_and_selective(self, spark):
        from uofi_payroll_etl_main_spark.llm.multimodal import (
            corrupt_media,
            decode_quarantine,
            synth_media,
        )

        media = corrupt_media(synth_media(spark, 60), every_n=5)
        # untouched rows keep their exact payloads
        clean = synth_media(spark, 60).withColumnRenamed("payload", "orig")
        joined = media.join(clean.select("media_id", "orig"), "media_id")
        same = joined.filter(
            (F.pmod(F.col("media_id"), F.lit(5)) != 0)
            & (F.col("payload") != F.col("orig"))
        ).count()
        assert same == 0
        touched = joined.filter(
            (F.pmod(F.col("media_id"), F.lit(5)) == 0)
            & (F.col("payload") == F.col("orig"))
        ).count()
        assert touched == 0
        # the quarantine scan is idempotent-deterministic: two runs agree
        a = sorted(map(tuple, decode_quarantine(media).collect()))
        b = sorted(map(tuple, decode_quarantine(media).collect()))
        assert a == b
        # damaged rows exist in BOTH failure lanes across the corpus
        statuses = {r.status for r in decode_quarantine(media).collect()}
        assert "quarantined" in statuses and "ok" in statuses

    def test_quarantine_never_raises_on_garbage(self, spark):
        from uofi_payroll_etl_main_spark.llm.multimodal import decode_quarantine

        rows = [
            (0, "image", b"", {"codec": "empty"}),
            (1, "image", b"P6", {"codec": "ppm"}),
            (2, "image", b"\x89PNG\r\n\x1a\n" + b"\x00" * 4, {"codec": "png"}),
            (3, "audio", b"RIFFxxxxWAVE", {"codec": "wav"}),
            (4, "image", b"\xff\xd8\xff", {"codec": "jpeg"}),
        ]
        out = decode_quarantine(self._df(spark, rows)).collect()
        assert len(out) == 5
        assert all(r.status in ("quarantined", "unsupported") for r in out)


class TestGif:
    def test_roundtrip_plain_and_interlaced(self, spark):
        import numpy as np

        from uofi_payroll_etl_main_spark.llm.multimodal import (
            _decode_gif,
            _encode_gif,
        )

        rng = np.random.RandomState(11)
        for h, w, ncol, inter in [(17, 23, 5, False), (32, 16, 200, False),
                                  (21, 9, 7, True), (1, 1, 1, False),
                                  (40, 40, 256, True)]:
            pal = rng.randint(0, 256, (ncol, 3)).astype(np.uint8)
            img = pal[rng.randint(0, ncol, (h, w))]
            got_w, got_h, out = _decode_gif(_encode_gif(img, interlace=inter))
            assert (got_w, got_h) == (w, h)
            assert (out == img).all(), (h, w, ncol, inter)

    def test_lzw_dictionary_growth_and_clear(self, spark):
        """A long low-entropy image drives the LZW dictionary past one
        width increase; a >4096-code image forces a mid-stream clear."""
        import numpy as np

        from uofi_payroll_etl_main_spark.llm.multimodal import (
            _decode_gif,
            _encode_gif,
        )

        pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
        idx = (np.arange(300 * 300) % 7 % 2).reshape(300, 300)
        img = pal[idx]
        got_w, got_h, out = _decode_gif(_encode_gif(img))
        assert (out == img).all()

    def test_corruption_raises_not_hangs(self, spark):
        import numpy as np

        import pytest as _pytest

        from uofi_payroll_etl_main_spark.llm.multimodal import (
            _decode_gif,
            _encode_gif,
            decode_media,
        )

        img = np.tile(np.array([[10, 20, 30]], dtype=np.uint8), (8, 8, 1))
        enc = _encode_gif(img)
        with _pytest.raises((ValueError, IndexError)):
            _decode_gif(enc[: len(enc) // 2])  # truncation
        with _pytest.raises(ValueError):
            _decode_gif(b"NOTGIF" + enc[6:])  # bad magic
        d = decode_media(enc, "image")  # dispatcher route
        assert d["width"] == 8 and (d["pixels"] == img).all()

    def test_quarantine_routes_bad_gifs(self, spark):
        import numpy as np

        from uofi_payroll_etl_main_spark.llm.multimodal import (
            _encode_gif,
            decode_quarantine,
        )

        pal = np.array([[0, 0, 0], [200, 100, 50]], dtype=np.uint8)
        img = pal[(np.arange(64) % 2).reshape(8, 8)]
        good = _encode_gif(img)
        bad = good[: len(good) // 3]
        rows = [(0, "image", bytearray(good), {}), (1, "image", bytearray(bad), {})]
        df = spark.createDataFrame(
            rows, "media_id long, kind string, payload binary, meta map<string,string>"
        )
        out = {r["media_id"]: r["status"] for r in decode_quarantine(df).collect()}
        assert out[0] == "ok" and out[1] == "quarantined", out


def test_mm_oracle_arithmetic_assumptions(spark):
    """Pin the arithmetic the r8 mm value-oracles rely on: PPM payload
    length = header + 3wh, stdlib WAV = 44-byte canonical header + 2n,
    and resize_pixel_stats equals a brute-force NumPy nearest-neighbor
    resample of the generator formula."""
    import numpy as np

    from uofi_payroll_etl_main_spark.llm.multimodal import (
        _synth_pixels,
        _synth_samples,
        encode_ppm,
        encode_wav,
        resize_nearest,
        resize_pixel_stats,
        synth_media,
    )

    for mid in (0, 12, 24, 36, 48):
        w, h = 8 + mid % 9, 6 + mid % 5
        assert len(encode_ppm(_synth_pixels(w, h, mid))) == (
            3 + len(str(w)) + 1 + len(str(h)) + 1 + 4 + 3 * w * h
        )
    for mid in (1, 4, 7, 100):
        n = 64 + mid % 97
        assert len(encode_wav(_synth_samples(n, mid), rate=8000)) == 44 + 2 * n

    got = {
        r["media_id"]: (r["px_sum"], r["px_min"], r["px_max"])
        for r in resize_pixel_stats(synth_media(spark, 24), 64, 64).collect()
    }
    want = {}
    for mid in range(24):
        if mid % 3 == 0 and (mid // 3) % 4 in (0, 1):  # ppm + png rows
            w, h = 8 + mid % 9, 6 + mid % 5
            px = resize_nearest(_synth_pixels(w, h, mid), 64, 64).astype(np.int64)
            want[mid] = (int(px.sum()), int(px.min()), int(px.max()))
    assert got == want


class TestAudioEnvelopeTier:
    """The integer-exact envelope fingerprint tier (r10: the value-
    oracle lane behind mm_audio_dedup) and the modulated synth corpus
    both gates run on."""

    def test_envelope_fp64_matches_hand_computation(self):
        import numpy as np

        from uofi_payroll_etl_main_spark.llm.multimodal import (
            audio_envelope_fp64,
        )

        rng_vals = [((5 * 7 + i * 13) % 4096 - 2048) * ((5 + i // 16) % 5)
                    for i in range(100)]
        samples = np.array(rng_vals, dtype=np.int16)
        got = audio_envelope_fp64(samples)
        # hand replay: double array_split -> int energies -> bits
        x = samples.astype(np.int64)
        bands = np.zeros((9, 8), dtype=np.int64)
        for t, seg in enumerate(np.array_split(x, 9)):
            for b, sub in enumerate(np.array_split(seg, 8)):
                bands[t, b] = int((sub * sub).sum())
        h = 0
        for bit in (bands[1:] > bands[:-1]).flatten():
            h = (h << 1) | int(bit)
        want = h - (1 << 64) if h >= (1 << 63) else h
        assert got == want
        assert -(1 << 63) <= got < (1 << 63)

    def test_envelope_batch_matches_scalar_on_awkward_lengths(self):
        """The r11 vectorized batch path (one reduceat over the
        concatenated stream) must reproduce the scalar fingerprint
        bit-for-bit, including the reduceat hazard cases: empty
        sub-bands (len < 72), a zero-length band whose offset equals
        the stream end (last clip shorter than 72), None rows, and
        too-short clips."""
        import numpy as np

        from uofi_payroll_etl_main_spark.llm.multimodal import (
            _envelope_fp64_batch,
            audio_envelope_fp64,
        )

        rng = np.random.RandomState(7)
        lengths = [0, 1, 8, 9, 10, 17, 18, 63, 71, 72, 73, 100, 144, 1000, 9]
        clips = [
            rng.randint(-32768, 32768, size=n).astype(np.int16)
            for n in lengths
        ]
        clips.insert(3, None)  # undecodable payload slot
        clips.append(np.zeros(90, dtype=np.int16))  # all-zero energies
        want = [None if c is None else audio_envelope_fp64(c) for c in clips]
        assert _envelope_fp64_batch(clips) == want
        # a batch ENDING on a clip with empty trailing sub-bands pins
        # the offset == stream-length reduceat edge
        tail = [rng.randint(-32768, 32768, size=10).astype(np.int16)]
        assert _envelope_fp64_batch(tail) == [audio_envelope_fp64(tail[0])]

    def test_envelope_fp64_amplitude_invariant_and_short_none(self):
        import numpy as np

        from uofi_payroll_etl_main_spark.llm.multimodal import (
            audio_envelope_fp64,
        )

        base = np.array(
            [((i * 37) % 800 - 400) for i in range(90)], dtype=np.int16
        )
        assert audio_envelope_fp64(base * 3) == audio_envelope_fp64(base)
        assert audio_envelope_fp64(np.array([1] * 8, dtype=np.int16)) is None

    def test_envelope_dup_candidates_find_planted_pairs(self, spark):
        from pyspark.sql import functions as F

        from uofi_payroll_etl_main_spark.llm.multimodal import (
            audio_dup_candidates,
            synth_audio_modulated,
        )

        base = synth_audio_modulated(spark, 16)
        shifted = synth_audio_modulated(spark, 16).withColumn(
            "media_id", F.col("media_id") + 1000
        )
        out = audio_dup_candidates(
            base.unionByName(shifted), max_hamming=3, method="envelope"
        ).collect()
        pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
        # every planted copy found at hamming 0; fingerprints otherwise
        # discriminate (no cross-clip pair sneaks under the threshold)
        for m in range(16):
            assert pairs.get((m, m + 1000)) == 0
        assert all(a + 1000 == b for (a, b) in pairs)

    def test_modulated_vad_splits_and_resumes_runs(self, spark):
        from uofi_payroll_etl_main_spark.llm.multimodal import (
            audio_vad,
            synth_audio_modulated,
        )

        out = audio_vad(
            synth_audio_modulated(spark, 64, block=40, base_len=400),
            frame_ms=5,
        ).collect()
        per_clip: dict[int, list] = {}
        for r in out:
            per_clip.setdefault(r["media_id"], []).append(
                (r["seg_start_ms"], r["seg_end_ms"])
            )
        # the corpus must exercise REAL segmentation: every clip splits
        # into >= 2 runs (silent frames between them), segments ordered
        # and non-overlapping with actual gaps
        assert per_clip and all(len(v) >= 2 for v in per_clip.values())
        for segs in per_clip.values():
            segs.sort()
            for (s1, e1), (s2, e2) in zip(segs, segs[1:]):
                assert e1 < s2  # a merged run never touches the next


def test_vad_gate_frames_keep_float_safety_margin():
    """The mm_audio_vad value oracle depends on the engine's and
    DuckDB's float paths agreeing on every frame's active/inactive
    decision.  That holds because no non-silent frame sits within
    float-rounding distance of the -30 dB threshold -- assert the
    measured margin floor (min over the gate corpus: ~0.023 dB,
    ~12 orders above the ~1e-16 relative cross-engine divergence) so
    a corpus/threshold/frame-size change that lands a frame near the
    boundary fails HERE instead of going nondeterministic in the
    gate."""
    import numpy as np

    from uofi_payroll_etl_main_spark.llm.multimodal import (
        _synth_samples_modulated,
    )

    margins = []
    for m in range(64):
        n_s = 400 + m % 97
        s = _synth_samples_modulated(n_s, m, block=40).astype(np.float64)
        flen = 40  # 5ms at 8kHz, the gate's framing
        nf = len(s) // flen
        frames = s[: nf * flen].reshape(nf, flen) / 32768.0
        rms = np.sqrt((frames**2).mean(axis=1))
        db = 20.0 * np.log10(np.maximum(rms, 1e-10))
        margins.extend(abs(d + 30.0) for d in db if d > -190.0)  # skip silence
    assert margins and min(margins) > 0.01, min(margins)
