"""REAL image decode through the multimodal mapInPandas path: synthetic
PPM/PGM/BMP payloads built byte-by-byte from the format specs, decoded with
the pure-numpy decoder inside Spark, features asserted exactly."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from healthcare_rcm_etl_pipeline_spark.operators.multimodal import (
    decode_image,
    extract_features,
)


def make_ppm(w: int, h: int) -> tuple[bytes, np.ndarray]:
    img = (np.arange(w * h * 3, dtype=np.int64) * 7 % 256).astype(np.uint8).reshape(h, w, 3)
    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + img.tobytes(), img


def make_pgm(w: int, h: int) -> tuple[bytes, np.ndarray]:
    img = (np.arange(w * h, dtype=np.int64) * 13 % 256).astype(np.uint8).reshape(h, w, 1)
    return b"P5\n%d %d\n255\n" % (w, h) + img.tobytes(), img


def make_bmp(w: int, h: int) -> tuple[bytes, np.ndarray]:
    """Uncompressed 24-bit BI_RGB, bottom-up, rows padded to 4 bytes."""
    img = (np.arange(w * h * 3, dtype=np.int64) * 11 % 256).astype(np.uint8).reshape(h, w, 3)
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = img[y, :, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    pix_off = 54
    header = struct.pack(
        "<2sIHHI", b"BM", pix_off + len(rows), 0, 0, pix_off
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return bytes(header) + bytes(rows), img


@pytest.mark.parametrize("maker,ch", [(make_ppm, 3), (make_pgm, 1), (make_bmp, 3)])
def test_decode_image_roundtrip(maker, ch):
    payload, img = maker(13, 7)  # odd width exercises BMP row padding
    out = decode_image(payload)
    assert out.shape == (7, 13, ch)
    np.testing.assert_array_equal(out, img)


def test_extract_features_real_decode_in_spark(spark):
    ppm, ppm_img = make_ppm(13, 7)
    bmp, bmp_img = make_bmp(5, 4)
    rows = [(1, bytearray(ppm)), (2, bytearray(bmp)), (3, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in extract_features(df).collect()}

    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (13, 7, 3)
    assert got[1]["decoded"] and got[1]["mean_luma"] == pytest.approx(float(ppm_img.mean()))
    assert (got[2]["width"], got[2]["height"], got[2]["channels"]) == (5, 4, 3)
    assert got[2]["decoded"] and got[2]["mean_luma"] == pytest.approx(float(bmp_img.mean()))
    # non-image payload: declared fake — flagged, channels 0, null luma
    # (pandas NaN is the float64 NA sentinel, so Arrow lands it as null)
    assert not got[3]["decoded"] and got[3]["channels"] == 0
    assert got[3]["mean_luma"] is None


def make_wav(rate: int = 8000, channels: int = 1, n: int = 800, bits: int = 16):
    """Synthesize a PCM WAV byte-by-byte from the RIFF spec: a full-scale-ish
    sine at rate/8 Hz per channel."""
    t = np.arange(n)
    wave = (0.5 * np.sin(2 * np.pi * t / 8.0))
    if bits == 16:
        raw = np.tile((wave * 32767).astype("<i2"), (channels, 1)).T.tobytes()
        block, bps = channels * 2, rate * channels * 2
    else:
        raw = np.tile((wave * 127 + 128).astype(np.uint8), (channels, 1)).T.tobytes()
        block, bps = channels, rate * channels
    fmt = struct.pack("<HHIIHH", 1, channels, rate, bps, block, bits)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(raw)) + raw
    samples = np.tile(wave, (channels, 1)).T
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body, samples


def test_decode_wav_roundtrip():
    from healthcare_rcm_etl_pipeline_spark.operators.multimodal import decode_wav

    payload, expect = make_wav(rate=16000, channels=2, n=640)
    wav = decode_wav(payload)
    assert (wav["sample_rate"], wav["channels"], wav["bits"]) == (16000, 2, 16)
    assert wav["samples"].shape == (640, 2)
    # int16 write truncates toward zero and decode divides by 32768, so the
    # worst-case roundtrip error is two LSBs
    np.testing.assert_allclose(wav["samples"], expect, atol=2 / 32767)


def test_extract_audio_features_in_spark(spark):
    from healthcare_rcm_etl_pipeline_spark.operators.multimodal import (
        extract_audio_features,
    )

    wav, _ = make_wav(rate=8000, channels=1, n=800)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"ID3not-really-audio"))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in extract_audio_features(df).collect()}
    real = out[1]
    assert real.decoded and real.sample_rate == 8000 and real.n_samples == 800
    assert abs(real.duration_sec - 0.1) < 1e-9
    # RMS of a 0.5-amplitude sine ~ 0.5/sqrt(2); zcr of rate/8 Hz sine ~ 1/4
    assert abs(real.rms - 0.5 / np.sqrt(2)) < 0.01
    assert abs(real.zcr - 0.25) < 0.02
    fake = out[2]
    # pandas NaN is Arrow's null sentinel, so fake metrics surface as NULL
    assert not fake.decoded and fake.duration_sec is None and fake.n_samples == 0


def test_sample_frames_real_pnm_stream_in_spark(spark):
    from healthcare_rcm_etl_pipeline_spark.operators.multimodal import sample_frames

    f0, img0 = make_ppm(8, 6)
    f1, _ = make_ppm(8, 6)
    f2, img2 = make_pgm(5, 4)
    stream = f0 + f1 + f2  # 3-frame 'video'
    df = spark.createDataFrame(
        [(1, bytearray(stream)), (2, bytearray(b"\x00\x00\x00 ftypisommp4"))],
        "doc_id long, payload binary",
    )
    rows = sample_frames(df, every=2).collect()  # frames 0 and 2
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    real = sorted(by_doc[1], key=lambda r: r.frame_idx)
    assert [(r.frame_idx, r.width, r.height, r.decoded) for r in real] == [
        (0, 8, 6, True),
        (1, 5, 4, True),  # every=2 sampled original frames 0 and 2
    ]
    assert abs(real[0].mean_luma - float(img0.mean())) < 1e-9
    assert abs(real[1].mean_luma - float(img2.mean())) < 1e-9
    # container format: one flagged placeholder row, never silent absence
    fake = by_doc[2]
    assert len(fake) == 1 and not fake[0].decoded


def test_decode_wav_zero_channels_is_value_error_not_crash():
    """A crafted fmt chunk with channels=0 must land in the flagged-fake
    fallback (ValueError), not ZeroDivisionError out of the Spark worker."""
    from healthcare_rcm_etl_pipeline_spark.operators.multimodal import (
        audio_features,
        decode_wav,
    )

    fmt = struct.pack("<HHIIHH", 1, 0, 8000, 0, 0, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    with pytest.raises(ValueError):
        decode_wav(payload)
    assert audio_features(payload)[-1] is False  # lenient path: flagged fake


def test_split_pnm_stream_truncated_header_keeps_prior_frames():
    from healthcare_rcm_etl_pipeline_spark.operators.multimodal import (
        split_pnm_stream,
    )

    f0, _ = make_ppm(8, 6)
    frames = split_pnm_stream(f0 + b"P6 8")  # cut inside 2nd frame's header
    assert frames == [f0]


def test_split_pnm_stream_16bit_later_frame_keeps_prior_frames():
    """An unsupported (maxval>255) frame MID-stream salvages prior frames —
    same policy as truncation; only a 16-bit FIRST frame raises."""
    from healthcare_rcm_etl_pipeline_spark.operators.multimodal import (
        split_pnm_stream,
    )

    f0, _ = make_ppm(8, 6)
    deep = b"P6\n8 6\n65535\n" + b"\x00" * (8 * 6 * 3 * 2)
    assert split_pnm_stream(f0 + deep) == [f0]
    with pytest.raises(ValueError):
        split_pnm_stream(deep)


class TestPngCodec:
    def test_roundtrip_all_channel_counts_and_filters(self):
        import numpy as np

        from healthcare_rcm_etl_pipeline_spark.operators.png import (
            decode_png,
            encode_png,
        )

        rng = np.random.default_rng(0)
        for ch in (1, 2, 3, 4):
            for ft in (None, 0, 1, 2, 3, 4):
                img = rng.integers(0, 256, size=(11, 7, ch), dtype=np.uint8)
                back = decode_png(encode_png(img, filter_type=ft))
                assert back.shape == img.shape and (back == img).all(), (ch, ft)

    def test_palette_expands_to_rgb(self):
        import numpy as np

        from healthcare_rcm_etl_pipeline_spark.operators.png import (
            decode_png,
            encode_png,
        )

        rng = np.random.default_rng(1)
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, size=(9, 13, 1), dtype=np.uint8)
        back = decode_png(encode_png(idx, palette=pal))
        assert back.shape == (9, 13, 3)
        assert (back == pal[idx[:, :, 0]]).all()

    def test_rejections_stay_flagged(self):
        import struct
        import zlib

        import numpy as np

        from healthcare_rcm_etl_pipeline_spark.operators.multimodal import (
            decode_features,
        )
        from healthcare_rcm_etl_pipeline_spark.operators.png import (
            _SIG,
            _chunk,
            encode_png,
        )

        # Adam7-interlaced IHDR -> ValueError -> flagged fallback
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)
        raw = zlib.compress(bytes(4 * (1 + 12)))
        interlaced = _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", raw) + _chunk(b"IEND", b"")
        feats = decode_features(interlaced)
        assert feats[4] is False  # decoded flag

        # 16-bit depth likewise
        ihdr16 = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
        deep = _SIG + _chunk(b"IHDR", ihdr16) + _chunk(b"IDAT", raw) + _chunk(b"IEND", b"")
        assert decode_features(deep)[4] is False

        # real payload decodes for contrast
        ok = encode_png(np.full((4, 4, 3), 77, dtype=np.uint8))
        w, h, ch, luma, decoded = decode_features(ok)
        assert (w, h, ch, luma, decoded) == (4, 4, 3, 77.0, True)

    def test_decode_image_dispatches_png(self):
        import numpy as np

        from healthcare_rcm_etl_pipeline_spark.operators.multimodal import (
            decode_image,
        )
        from healthcare_rcm_etl_pipeline_spark.operators.png import encode_png

        img = np.full((6, 5, 3), 123, dtype=np.uint8)
        assert (decode_image(encode_png(img)) == img).all()
