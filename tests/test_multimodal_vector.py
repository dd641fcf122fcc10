"""Unit tests for multimodal plumbing (Arrow-batched stages) and vector
math (numpy cross-check of the JVM-side folds)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from db_writer_redshift_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    return multimodal.synthesize_media(docs, "doc_id", "text")


def _shape(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_media_schema_and_type_assignment(media):
    assert _shape(media.schema) == _shape(multimodal.MEDIA_SCHEMA)
    types = {r.doc_id: r.media_type for r in media.collect()}
    assert types == {0: "image", 1: "audio", 2: "video"}  # id % 3 round-robin


def test_extract_features_deterministic(spark, media):
    a = {r.doc_id: (r.checksum, r.width, r.height) for r in multimodal.extract_features(media).collect()}
    b = {r.doc_id: (r.checksum, r.width, r.height) for r in multimodal.extract_features(media).collect()}
    assert a == b and len(a) == 3
    for checksum, width, height in a.values():
        assert checksum is not None and 16 <= width < 80 and 16 <= height < 80


def test_resize_stub_preserves_schema_and_truncates(spark, media):
    out = multimodal.resize_stub(media, max_dim=2)
    assert _shape(out.schema) == _shape(multimodal.MEDIA_SCHEMA)
    for r in out.collect():
        assert r.n_bytes <= 8  # max_dim * 4


def test_decode_real_raises(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"bytes", "image")


def test_cosine_sim_matches_numpy(spark):
    from db_writer_redshift_spark.functions.vector import cosine_sim

    a = [1.0, 2.0, 3.0, 4.0]
    b = [0.5, -1.0, 2.0, 0.0]
    expected = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    df = spark.createDataFrame([(a, b)], "va array<double>, vb array<double>")
    got = df.select(cosine_sim(F.col("va"), F.col("vb")).alias("c")).collect()[0].c
    assert abs(got - expected) < 1e-12


def test_cosine_sim_zero_norm_null(spark):
    from db_writer_redshift_spark.functions.vector import cosine_sim

    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], "va array<double>, vb array<double>")
    assert df.select(cosine_sim(F.col("va"), F.col("vb")).alias("c")).collect()[0].c is None


def test_frame_sample_explodes_videos_only(spark, media):
    frames = multimodal.frame_sample_stub(media, n_frames=4, fps_ms=40)
    assert _shape(frames.schema) == _shape(multimodal.FRAME_SCHEMA)
    rows = frames.collect()
    # only doc 2 (id % 3 == 2) is video -> exactly 4 frames for it
    assert {r.doc_id for r in rows} == {2}
    assert [r.frame_idx for r in sorted(rows, key=lambda r: r.frame_idx)] == [0, 1, 2, 3]
    assert [r.frame_ts_ms for r in sorted(rows, key=lambda r: r.frame_idx)] == [0, 40, 80, 120]
    # frames partition the payload prefix deterministically
    payload = b"delta epsilon zeta"
    step = max(1, len(payload) // 4)
    got = b"".join(r.frame_payload for r in sorted(rows, key=lambda r: r.frame_idx))
    assert got == payload[: step * 4]
    again = multimodal.frame_sample_stub(media, n_frames=4, fps_ms=40).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


class TestRealImageDecode:
    """Round-5: BMP/PPM decode is REAL (dependency-free spec
    implementations), proven against hand-computed pixel values."""

    def test_known_bmp_exact_stats(self):
        # 2x2 grayscale values 10,20,30,40 -> mean 25, sum 3*100
        payload = multimodal.encode_bmp([10, 20, 30, 40], 2, 2)
        assert payload[:2] == b"BM"
        got = multimodal.decode_image(payload)
        assert got == {
            "width": 2,
            "height": 2,
            "n_pixels": 4,
            "px_sum": 300,
            "px_mean_e6": 25_000_000,
        }

    def test_bmp_row_padding_and_orientation(self):
        # width 3 -> 9-byte rows padded to 12; decoder must skip the pad
        # and un-reverse the bottom-up row order.
        px = list(range(6))  # 3x2
        got = multimodal.decode_image(multimodal.encode_bmp(px, 3, 2))
        assert (got["width"], got["height"]) == (3, 2)
        assert got["px_sum"] == 3 * sum(px)

    def test_known_ppm_exact_stats(self):
        payload = multimodal.encode_ppm([0, 255], 1, 2)
        assert payload.startswith(b"P6\n1 2\n255\n")
        got = multimodal.decode_image(payload)
        assert got["px_sum"] == 3 * 255
        assert got["px_mean_e6"] == 127_500_000
        assert (got["width"], got["height"]) == (1, 2)

    def test_bmp_ppm_agree_on_same_pixels(self):
        px = [7, 11, 13, 17, 19, 23, 29, 31]
        a = multimodal.decode_image(multimodal.encode_bmp(px, 4, 2))
        b = multimodal.decode_image(multimodal.encode_ppm(px, 4, 2))
        assert a == b

    def test_codec_boundary_still_raises(self):
        # a PNG signature over garbage is now a MALFORMED png (round 7:
        # decode_png is real), so ValueError — not the codec boundary
        with pytest.raises(ValueError):
            multimodal.decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)
        with pytest.raises(NotImplementedError):
            multimodal.decode_real(b"\xff\xd8\xff" + b"\x00" * 64, "image")
        with pytest.raises(ValueError):
            multimodal.decode_image(b"plain text payload, no image magic")
        # text that merely starts with 'BM' fails strict header checks
        with pytest.raises(ValueError):
            multimodal.decode_image(b"BMW dealerships report record sales this quarter etc.")


class TestRealPngDecode:
    """Round-7: non-interlaced 8-bit gray/RGB PNG decode is REAL (stdlib
    zlib inflate + the full five-filter defilter incl. Paeth), proven by
    construction round trips and the hand-rolled variant chunks below."""

    @staticmethod
    def _chunk(tag: bytes, data: bytes) -> bytes:
        import binascii
        import struct

        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", binascii.crc32(tag + data))
        )

    def test_rgb_round_trip_exercises_all_filters(self):
        # height 5 -> encode_png cycles filter types 0..4; equality with
        # the direct pixel sum proves every defilter branch (incl. Paeth)
        px = [(7 * k + 13) % 256 for k in range(4 * 5)]
        got = multimodal.decode_image(multimodal.encode_png(px, 4, 5))
        assert got == {
            "width": 4,
            "height": 5,
            "n_pixels": 20,
            "px_sum": 3 * sum(px),
            "px_mean_e6": (1_000_000 * 3 * sum(px)) // (3 * 20),
        }

    def test_png_bmp_ppm_agree_on_same_pixels(self):
        px = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47]
        a = multimodal.decode_image(multimodal.encode_bmp(px, 4, 3))
        b = multimodal.decode_image(multimodal.encode_ppm(px, 4, 3))
        c = multimodal.decode_image(multimodal.encode_png(px, 4, 3))
        assert a == b == c

    def test_grayscale_color_type_0(self):
        # hand-build a color-type-0 PNG: 2x2 gray, Up filter on row 2
        import struct
        import zlib

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
        raw = bytes([0, 10, 20]) + bytes([2, (30 - 10) & 0xFF, (40 - 20) & 0xFF])
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + self._chunk(b"IHDR", ihdr)
            + self._chunk(b"IDAT", zlib.compress(raw))
            + self._chunk(b"IEND", b"")
        )
        got = multimodal.decode_image(payload)
        assert got["px_sum"] == 100  # single channel: 10+20+30+40
        assert got["px_mean_e6"] == 25_000_000  # / (1 * n_pixels)

    def test_crc_mismatch_is_value_error(self):
        p = bytearray(multimodal.encode_png([1, 2, 3, 4], 2, 2))
        p[-5] ^= 0xFF  # corrupt IEND CRC
        with pytest.raises(ValueError):
            multimodal.decode_png(bytes(p))

    def test_subbyte_depths_round_trip(self):
        # round-8 wave 3: 1/2/4-bit gray and palette decode for real.
        # Sub-byte samples are the TOP depth bits of the 8-bit value,
        # packed MSB-first with per-row padding; palette statistics go
        # through the PLTE (255 + 7i per pixel for i < 16 — indices
        # alone would NOT match).
        px = [(i * 53 + 7) % 256 for i in range(6 * 5)]
        for depth in (1, 2, 4):
            for interlace in (0, 1):
                gray = multimodal.decode_png(
                    multimodal.encode_png(
                        px, 6, 5, color_type=0, depth=depth, interlace=interlace
                    )
                )
                assert gray["px_sum"] == sum(v >> (8 - depth) for v in px)
                pal = multimodal.decode_png(
                    multimodal.encode_png(
                        px, 6, 5, color_type=3, depth=depth, interlace=interlace
                    )
                )
                assert pal["px_sum"] == sum(
                    255 + 7 * (v >> (8 - depth)) for v in px
                )
                assert pal["px_sum"] != sum(v >> (8 - depth) for v in px)

    def test_spec_invalid_ihdr_combinations_are_value_error(self):
        # every VALID combination decodes now; what's left outside the
        # table is malformed per spec §11.2.2 — ValueError, not
        # NotImplementedError (JPEG keeps the NotImplementedError lane)
        import struct
        import zlib

        idat = self._chunk(b"IDAT", zlib.compress(b"\x00" * 8))
        iend = self._chunk(b"IEND", b"")
        for depth, color, interlace in (
            (16, 3, 0),  # 16-bit palette
            (4, 2, 0),  # sub-byte RGB
            (2, 4, 0),  # sub-byte gray+alpha
            (3, 0, 0),  # non-power-of-two depth
        ):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)
            payload = (
                b"\x89PNG\r\n\x1a\n" + self._chunk(b"IHDR", ihdr) + idat + iend
            )
            with pytest.raises(ValueError, match="invalid PNG IHDR"):
                multimodal.decode_png(payload)

    def test_palette_color_type_3(self):
        # encoder round trip: channel stats come from PLTE lookups, so
        # the expected sum uses (7v mod 256) + 255 per pixel — summing
        # raw indices would NOT match (the non-identity palette is what
        # makes this a real proof)
        px = [(i * 53 + 7) % 256 for i in range(6 * 5)]
        got = multimodal.decode_png(multimodal.encode_png(px, 6, 5, color_type=3))
        exp = sum((7 * v) % 256 + 255 for v in px)
        assert got["px_sum"] == exp
        assert got["px_sum"] != sum(px)  # indices alone are wrong
        assert got["px_mean_e6"] == 1_000_000 * exp // (3 * 30)

    def test_alpha_color_types_4_and_6(self):
        # the synthetic alpha a(v) = (3v+7) mod 256 is part of the sum,
        # so skipping the alpha byte gives the wrong statistics
        px = [(i * 53 + 7) % 256 for i in range(6 * 5)]
        a = lambda v: (3 * v + 7) % 256  # noqa: E731
        got4 = multimodal.decode_png(multimodal.encode_png(px, 6, 5, color_type=4))
        assert got4["px_sum"] == sum(v + a(v) for v in px)
        assert got4["px_mean_e6"] == 1_000_000 * got4["px_sum"] // (2 * 30)
        got6 = multimodal.decode_png(multimodal.encode_png(px, 6, 5, color_type=6))
        assert got6["px_sum"] == sum(3 * v + a(v) for v in px)
        assert got6["px_mean_e6"] == 1_000_000 * got6["px_sum"] // (4 * 30)
        assert got4["px_sum"] != sum(px) and got6["px_sum"] != 3 * sum(px)

    def test_palette_png_missing_plte_is_value_error(self):
        import struct
        import zlib

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
        raw = bytes([0, 1, 2]) + bytes([0, 3, 4])
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + self._chunk(b"IHDR", ihdr)
            + self._chunk(b"IDAT", zlib.compress(raw))
            + self._chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="missing PLTE"):
            multimodal.decode_png(payload)

    def test_palette_index_out_of_range_is_value_error(self):
        import struct
        import zlib

        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + self._chunk(b"IHDR", ihdr)
            + self._chunk(b"PLTE", bytes((1, 2, 3, 4, 5, 6)))  # 2 entries
            + self._chunk(b"IDAT", zlib.compress(bytes([0, 1, 5])))
            + self._chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="palette index"):
            multimodal.decode_png(payload)

    def test_truncated_idat_is_value_error(self):
        good = multimodal.encode_png([5, 6, 7, 8], 2, 2)
        with pytest.raises(ValueError):
            multimodal.decode_png(good[: len(good) - 20])

    def test_extract_features_real_path_for_png_in_spark(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world"), (2, "")], "doc_id long, text string"
        )
        media = multimodal.synthesize_png_media(df, "doc_id", "text")
        rows = {r.doc_id: r for r in multimodal.extract_features(media).collect()}
        w1, h1 = 5 + 1 % 4, 5 + 1 % 3
        text = "hello world"
        exp = sum(ord(text[k % len(text)]) % 256 for k in range(w1 * h1))
        assert (rows[1].width, rows[1].height) == (w1, h1)
        assert rows[1].px_sum == 3 * exp
        assert rows[2].px_sum == 0  # empty text -> all-zero pixels

    def test_decode_real_now_real_for_bmp(self):
        payload = multimodal.encode_bmp([100], 1, 1)
        got = multimodal.decode_real(payload, "image")
        assert got["px_mean_e6"] == 100_000_000

    def test_extract_features_real_path_in_spark(self, spark):
        df = spark.createDataFrame(
            [(1, "abc xyz abc"), (2, "")], "doc_id long, text string"
        )
        media = multimodal.synthesize_bmp_media(df, "doc_id", "text")
        rows = {r.doc_id: r for r in multimodal.extract_features(media).collect()}
        # doc 1: width 4+1%5=5, height 3+1%3=4 -> 20 px cycled over the text
        text = "abc xyz abc"
        exp = [ord(text[k % len(text)]) % 256 for k in range(20)]
        assert (rows[1].width, rows[1].height) == (5, 4)
        assert rows[1].px_sum == 3 * sum(exp)
        # doc 2: empty text -> all-zero pixels, real geometry decoded
        assert (rows[2].width, rows[2].height) == (4 + 2 % 5, 3 + 2 % 3)
        assert rows[2].px_sum == 0 and rows[2].px_mean_e6 == 0
        # stub path columns stay NULL-free for n_bytes/checksum
        assert all(r.checksum is not None for r in rows.values())


class TestRealWavDecode:
    """decode_wav parses actual RIFF/PCM bytes; stats proven by hand."""

    def test_known_wav_exact_stats(self):
        samples = [0, 256, -256, 32767, -32768, 1000]
        payload = multimodal.encode_wav(samples, 8000)
        assert len(payload) == 44 + 2 * len(samples)
        got = multimodal.decode_wav(payload)
        assert got["sample_rate"] == 8000
        assert got["n_samples"] == 6
        assert got["peak_abs"] == 32768
        assert got["amp_sum"] == sum(samples)
        assert got["amp_sumsq"] == sum(s * s for s in samples)

    def test_wav_chunk_walk_skips_extra_chunks(self):
        import struct

        base = multimodal.encode_wav([100, -100], 8000)
        # splice a LIST chunk between fmt and data (players tolerate this)
        fmt_end = 12 + 8 + 16
        extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
        spliced = base[:fmt_end] + extra + base[fmt_end:]
        spliced = (
            spliced[:4]
            + struct.pack("<I", len(spliced) - 8)
            + spliced[8:]
        )
        got = multimodal.decode_wav(spliced)
        assert got["n_samples"] == 2 and got["amp_sum"] == 0

    def test_wav_codec_boundary(self):
        import struct

        good = multimodal.encode_wav([1, 2, 3], 8000)
        # format tag 85 (MP3) -> recognized but needs a codec
        mp3ish = bytearray(good)
        mp3ish[20:22] = struct.pack("<H", 85)
        with pytest.raises(NotImplementedError):
            multimodal.decode_wav(bytes(mp3ish))
        with pytest.raises(ValueError):
            multimodal.decode_wav(b"plain text, not audio at all")
        with pytest.raises(ValueError):
            multimodal.decode_wav(b"RIFF\x00\x00\x00\x00JUNK")

    def test_ima_adpcm_round_trip_matches_independent_fold(self):
        # decode(encode(x)) must equal the textbook IMA reconstruction,
        # replayed here independently of the codec module's helpers
        import random

        STEP = list(multimodal._IMA_STEP)
        IDX = list(multimodal._IMA_INDEX)

        def ref(samples):
            pred, idx = samples[0], 0
            out = [pred]
            for s in samples[1:]:
                step = STEP[idx]
                delta = s - pred
                sign = delta < 0
                d = -delta if sign else delta
                nib = 0
                if d >= step:
                    nib |= 4
                    d -= step
                if d >= step >> 1:
                    nib |= 2
                    d -= step >> 1
                if d >= step >> 2:
                    nib |= 1
                diff = (step >> 3) + (step if nib & 4 else 0)
                diff += (step >> 1) if nib & 2 else 0
                diff += (step >> 2) if nib & 1 else 0
                pred = max(-32768, min(32767, pred - diff if sign else pred + diff))
                idx = max(0, min(88, idx + IDX[nib]))
                out.append(pred)
            return out

        rng = random.Random(11)
        for _ in range(25):
            n = rng.randint(2, 89)
            samples = [rng.randint(-32768, 32512) for _ in range(n)]
            got = multimodal.decode_wav(multimodal.encode_wav_ima(samples))
            exp = ref(samples)
            assert got["n_samples"] == n
            assert got["amp_sum"] == sum(exp)
            assert got["peak_abs"] == max(abs(x) for x in exp)
            assert got["amp_sumsq"] == sum(x * x for x in exp)

    def test_ima_adpcm_multiblock_round_trip(self):
        # fixed-size blocks: predictor re-anchors per block header, the
        # step index carries across the boundary — verified against an
        # independent per-block replay for several block sizes
        import random

        STEP = list(multimodal._IMA_STEP)
        IDX = list(multimodal._IMA_INDEX)

        def ref(samples, spb):
            out, idx = [], 0
            for b0 in range(0, len(samples), spb):
                blk = samples[b0 : b0 + spb]
                pred = blk[0]
                out.append(pred)
                for s in blk[1:]:
                    step = STEP[idx]
                    delta = s - pred
                    sign = delta < 0
                    d = -delta if sign else delta
                    nib = 0
                    if d >= step:
                        nib |= 4
                        d -= step
                    if d >= step >> 1:
                        nib |= 2
                        d -= step >> 1
                    if d >= step >> 2:
                        nib |= 1
                    diff = (step >> 3) + (step if nib & 4 else 0)
                    diff += (step >> 1) if nib & 2 else 0
                    diff += (step >> 2) if nib & 1 else 0
                    pred = max(
                        -32768, min(32767, pred - diff if sign else pred + diff)
                    )
                    idx = max(0, min(88, idx + IDX[nib]))
                    out.append(pred)
            return out

        rng = random.Random(3)
        for _ in range(15):
            n = rng.randint(2, 89)
            spb = rng.choice([2, 5, 16, 33, n])
            samples = [rng.randint(-32768, 32512) for _ in range(n)]
            got = multimodal.decode_wav(
                multimodal.encode_wav_ima(samples, samples_per_block=spb)
            )
            exp = ref(samples, spb)
            assert got["n_samples"] == n
            assert got["amp_sum"] == sum(exp)
            assert got["peak_abs"] == max(abs(x) for x in exp)
            assert got["amp_sumsq"] == sum(x * x for x in exp)

    def test_ima_adpcm_accepts_padded_last_block(self):
        # spec-conforming writers (ffmpeg et al.) pad EVERY block to
        # nBlockAlign; our twin encoder writes the last block short —
        # the decoder must accept both layouts with identical stats
        import struct

        samples = [((11 * k) % 256 - 128) * 256 for k in range(40)]
        short = multimodal.encode_wav_ima(samples, samples_per_block=16)
        base = multimodal.decode_wav(short)
        # rebuild with the data chunk's last block padded to blockAlign
        pos, chunks = 12, {}
        while pos + 8 <= len(short):
            cid = short[pos : pos + 4]
            (csz,) = struct.unpack("<I", short[pos + 4 : pos + 8])
            chunks[cid] = short[pos + 8 : pos + 8 + csz]
            pos += 8 + csz + (csz & 1)
        block_align = 4 + 16 // 2  # spb=16
        data = bytearray(chunks[b"data"])
        full_blocks = 40 // 16  # 2 full + 1 short block of 8 samples
        used_last = len(data) - full_blocks * block_align
        data += bytes(block_align - used_last)  # pad the short block

        def chunk(tag, body):
            return tag + struct.pack("<I", len(body)) + body

        payload = (
            b"RIFF"
            + struct.pack(
                "<I",
                4
                + len(chunk(b"fmt ", chunks[b"fmt "]))
                + len(chunk(b"fact", chunks[b"fact"]))
                + len(chunk(b"data", bytes(data))),
            )
            + b"WAVE"
            + chunk(b"fmt ", chunks[b"fmt "])
            + chunk(b"fact", chunks[b"fact"])
            + chunk(b"data", bytes(data))
        )
        assert multimodal.decode_wav(payload) == base

    def test_ima_adpcm_long_clip_needs_explicit_blocks(self):
        with pytest.raises(ValueError, match="65535"):
            multimodal.encode_wav_ima([0] * 70_000)
        # with explicit blocks the same clip encodes fine
        assert multimodal.decode_wav(
            multimodal.encode_wav_ima([0] * 70_000, samples_per_block=505)
        )["n_samples"] == 70_000

    def test_short_fmt_chunk_is_value_error(self):
        import struct

        body = b"\x01\x00"  # 2-byte fmt
        chunk = b"fmt " + struct.pack("<I", len(body)) + body
        payload = (
            b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WAVE" + chunk
        )
        with pytest.raises(ValueError):
            multimodal.decode_wav(payload)

    def test_ima_adpcm_compresses_4x(self):
        samples = [((7 * k) % 256 - 128) * 256 for k in range(2000)]
        adpcm = multimodal.encode_wav_ima(samples)
        pcm = multimodal.encode_wav(samples)
        # 4-bit codes vs 16-bit samples: payload well under half of PCM
        # once past the fixed container overhead
        assert len(adpcm) < len(pcm) // 2

    def test_ima_adpcm_malformed_and_boundary(self):
        import struct

        good = bytearray(multimodal.encode_wav_ima([1, 2, 3, 4, 5, 6]))
        # stereo -> NotImplementedError
        stereo = bytearray(good)
        stereo[22:24] = struct.pack("<H", 2)
        with pytest.raises(NotImplementedError):
            multimodal.decode_wav(bytes(stereo))
        # fact claiming more samples than the data holds -> ValueError
        n_off = bytes(good).find(b"fact") + 8
        lying = bytearray(good)
        lying[n_off : n_off + 4] = struct.pack("<I", 500)
        with pytest.raises(ValueError):
            multimodal.decode_wav(bytes(lying))

    def test_extract_audio_features_in_spark(self, spark):
        df = spark.createDataFrame(
            [(1, "abc"), (2, "")], "doc_id long, text string"
        )
        media = multimodal.synthesize_wav_media(df, "doc_id", "text")
        rows = {
            r.doc_id: r
            for r in multimodal.extract_audio_features(media).collect()
        }
        n1 = 40 + 1 % 50
        exp = [(ord("abc"[k % 3]) % 256 - 128) * 256 for k in range(n1)]
        assert rows[1].n_samples == n1
        assert rows[1].amp_sum == sum(exp)
        assert rows[1].amp_sumsq == sum(s * s for s in exp)
        assert rows[2].peak_abs == 0 and rows[2].amp_sum == 0

    def test_extract_audio_features_bad_payload_null_row(self, spark):
        from pyspark.sql import Row

        media = spark.createDataFrame(
            [
                Row(
                    doc_id=1,
                    media_type="audio",
                    payload=b"not a wav",
                    mime="audio/wav",
                    n_bytes=9,
                )
            ],
            multimodal.MEDIA_SCHEMA,
        )
        (row,) = multimodal.extract_audio_features(media).collect()
        assert row.n_samples is None and row.amp_sum is None


class TestPng16Adam7:
    def test_depth16_scales_by_257(self):
        px = [(i * 53 + 7) % 256 for i in range(6 * 5)]
        for ct in (0, 2, 4, 6):
            d8 = multimodal.decode_png(multimodal.encode_png(px, 6, 5, color_type=ct))
            d16 = multimodal.decode_png(
                multimodal.encode_png(px, 6, 5, color_type=ct, depth=16)
            )
            assert d16["px_sum"] == 257 * d8["px_sum"], ct

    def test_adam7_sum_invariant_under_interlace(self):
        # interlacing permutes pixels; sums must match the linear decode
        # across odd geometries where pass dims exercise every branch
        for (w, h) in ((1, 1), (2, 3), (7, 5), (8, 8), (9, 2), (16, 9)):
            px = [(i * 29 + 3) % 256 for i in range(w * h)]
            for ct in (0, 2, 3, 4, 6):
                lin = multimodal.decode_png(
                    multimodal.encode_png(px, w, h, color_type=ct, interlace=0)
                )
                il = multimodal.decode_png(
                    multimodal.encode_png(px, w, h, color_type=ct, interlace=1)
                )
                assert il["px_sum"] == lin["px_sum"], (w, h, ct)
                assert il["n_pixels"] == w * h

    def test_interlaced_truncation_is_value_error(self):
        import struct
        import zlib

        px = list(range(8 * 8))
        good = multimodal.encode_png(px, 8, 8, color_type=2, interlace=1)
        # rebuild with one byte chopped off the inflated stream
        raw = None
        pos = 8
        parts = {}
        while pos + 8 <= len(good):
            (length,) = struct.unpack(">I", good[pos:pos + 4])
            tag = good[pos + 4:pos + 8]
            parts[tag] = good[pos + 8:pos + 8 + length]
            pos += 12 + length
        short = zlib.compress(zlib.decompress(parts[b"IDAT"])[:-1])

        def chunk(tag, data):
            import binascii

            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", binascii.crc32(tag + data)))

        bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", parts[b"IHDR"])
               + chunk(b"IDAT", short) + chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="length mismatch"):
            multimodal.decode_png(bad)

    def test_sub_byte_depth_decodes_hand_built_payload(self):
        # round-8 wave 3 flipped this from NotImplementedError to a real
        # decode: a hand-built 2x2 gray image at each sub-byte depth is
        # one packed byte per scanline (2 samples of 1/2/4 bits), and
        # the stride math must account for the bit packing exactly
        import struct
        import zlib

        import binascii

        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", binascii.crc32(tag + data)))

        for depth in (1, 2, 4):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, 0, 0, 0, 0)
            # filter 0 + one packed byte per row; MSB-first samples
            # (1, 0) in row 1 and (0, 1) in row 2
            hi = 1 << (8 - depth)
            lo = 1 << (8 - 2 * depth) if depth < 8 else 1
            raw = bytes([0, hi]) + bytes([0, lo])
            payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                       + chunk(b"IDAT", zlib.compress(raw))
                       + chunk(b"IEND", b""))
            got = multimodal.decode_png(payload)
            assert got["n_pixels"] == 4
            assert got["px_sum"] == 2  # two set samples of value 1


class TestDualPathWalkers:
    """Round-9 vectorization (VERDICT r8 #4): the numpy PNG pass walker
    and the closed-form stub checksum must be bit-equal to their
    per-byte Python twins on every spec-valid shape — the same
    forced-path discipline as the NTILE quickselect dual path."""

    def test_png_walkers_bit_equal_every_ihdr_combination(self, monkeypatch):
        for color, depths in multimodal._PNG_VALID_DEPTHS.items():
            for depth in depths:
                for interlace in (0, 1):
                    for dim in (1, 7, 24):  # tiny, fixture-shaped, multi-row
                        px = [(k * 13 + 5) % 256 for k in range(dim * dim)]
                        p = multimodal.encode_png(
                            px, dim, dim, color_type=color,
                            depth=depth, interlace=interlace,
                        )
                        monkeypatch.setattr(
                            multimodal, "_PNG_NP_MIN_BYTES", 1 << 60
                        )
                        r_py = multimodal.decode_png(p)
                        monkeypatch.setattr(
                            multimodal, "_PNG_NP_MIN_BYTES", 0
                        )
                        r_np = multimodal.decode_png(p)
                        assert r_py == r_np, (color, depth, interlace, dim)

    def test_png_numpy_walker_errors_match(self, monkeypatch):
        import binascii
        import struct
        import zlib

        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", binascii.crc32(tag + data)))

        monkeypatch.setattr(multimodal, "_PNG_NP_MIN_BYTES", 0)
        # out-of-range scanline filter
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
        raw = bytes([7, 1, 2]) + bytes([0, 3, 4])
        bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="filter 7 out of range"):
            multimodal.decode_png(bad)
        # pixel data length mismatch
        short = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                 + chunk(b"IDAT", zlib.compress(raw[:-1]))
                 + chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="length mismatch"):
            multimodal.decode_png(short)

    def test_stub_checksum_paths_bit_equal(self, monkeypatch):
        for n in (0, 1, 100, 255, 256, 257, 1500, 5000):
            payload = bytes((k * 7 + 3) % 256 for k in range(n))
            monkeypatch.setattr(multimodal, "_CHK_NP_MIN_BYTES", 1 << 60)
            c_py = multimodal._stub_checksum(payload)
            monkeypatch.setattr(multimodal, "_CHK_NP_MIN_BYTES", 0)
            c_np = multimodal._stub_checksum(payload)
            assert c_py == c_np, n

    def test_stub_checksum_power_table_stays_bounded(self, monkeypatch):
        """The cached 31^k table stops at _CHK_POWS_MAX entries: a longer
        payload is checksummed from a throwaway extension, bit-equal to
        the per-byte loop."""
        monkeypatch.setattr(multimodal, "_CHK_POWS", [1])
        monkeypatch.setattr(multimodal, "_CHK_POWS_MAX", 1000)
        monkeypatch.setattr(multimodal, "_CHK_NP_MIN_BYTES", 0)
        for n, cached in ((600, 600), (5000, 600), (800, 800), (1001, 800)):
            payload = bytes((k * 7 + 3) % 256 for k in range(n))
            want = 0
            for i, byte in enumerate(payload):
                want = (want * 31 + byte + i) % (1 << 31)
            assert multimodal._stub_checksum(payload) == want, n
            assert len(multimodal._CHK_POWS) == cached, n
