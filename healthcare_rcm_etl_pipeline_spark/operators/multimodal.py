"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The Spark-side architecture is real and tested: binary columns travel as
``BinaryType``, feature extraction runs as Arrow-batched ``mapInPandas``
with an explicit output schema, and partitioning/batching is controlled by
the caller.

Decode is REAL for the formats a numpy-only container can parse —
binary netpbm (P6 RGB / P5 gray), uncompressed 24-bit BI_RGB BMP, and
baseline-sequential JPEG (a full T.81 Huffman + IDCT decoder in
operators/jpeg.py) — implemented from the published format specs in pure
numpy (``decode_image``).
Formats that genuinely need PIL/ffmpeg (progressive JPEG, PNG's zlib
streams, video containers) fall back to ``decode_stub``, which emits
deterministic fake dimensions flagged ``decoded=False`` so fake features
can never be mistaken for real ones downstream.

At 100 TB: payload bytes stay in executors end-to-end (parquet binary ->
Arrow batch -> pandas bytes), nothing is collected; `maxRecordsPerBatch`
bounds batch memory; the extraction is embarrassingly parallel.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def _pnm_tokens(payload: bytes, n: int) -> tuple[list[int], int]:
    """First n whitespace-separated numeric tokens after the magic, skipping
    '#' comments (netpbm spec); returns (tokens, offset past final token's
    single whitespace separator)."""
    toks: list[int] = []
    i = 2  # past magic
    while len(toks) < n:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if i < len(payload) and payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        toks.append(int(payload[i:j]))
        i = j
    return toks, i + 1  # exactly one whitespace byte after maxval


def decode_image(payload: bytes) -> np.ndarray:
    """Pure-numpy image decode -> array of shape (h, w, channels).

    Supports binary netpbm (P6 RGB, P5 gray, maxval<=255), uncompressed
    24-bit BI_RGB BMP (bottom-up or top-down), baseline-sequential
    JFIF/JPEG (full entropy + IDCT pipeline in operators/jpeg.py — SOF0,
    4:4:4/4:2:2/4:2:0, restart markers), and non-interlaced 8-bit PNG
    (gray/RGB/palette/alpha, all five scanline filters — operators/png.py,
    zlib from the stdlib). Raises ValueError for anything else
    (progressive JPEG, Adam7/16-bit PNG, containers), which routes the
    payload to the flagged ``decode_stub`` fallback.
    """
    magic = payload[:2]
    if magic == b"\xff\xd8":
        from healthcare_rcm_etl_pipeline_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from healthcare_rcm_etl_pipeline_spark.operators.png import decode_png

        return decode_png(payload)
    if magic in (b"P6", b"P5"):
        (w, h, maxval), off = _pnm_tokens(payload, 3)
        if maxval > 255:
            raise ValueError("16-bit netpbm not supported")
        ch = 3 if magic == b"P6" else 1
        n = w * h * ch
        arr = np.frombuffer(payload, dtype=np.uint8, count=n, offset=off)
        return arr.reshape(h, w, ch)
    if magic == b"BM":
        pix_off = int.from_bytes(payload[10:14], "little")
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        comp = int.from_bytes(payload[30:34], "little")
        if bpp != 24 or comp != 0:
            raise ValueError(f"only 24-bit BI_RGB BMP supported (bpp={bpp}, comp={comp})")
        bottom_up = h > 0
        h = abs(h)
        stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=pix_off
        ).reshape(h, stride)[:, : w * 3]
        img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        return img[::-1] if bottom_up else img
    raise ValueError(f"unsupported format (magic={magic!r})")


JPEG_SYNTH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synthesize_jpeg_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL-JPEG payload per row (mapInPandas): a solid-color
    image whose dimensions/color/quality/subsampling are pure functions of
    the id. Solid color is the oracle-friendly fixture: a flat block's only
    nonzero coefficient is the DC = 8*(v-128), which is even, and quality
    >= 93 keeps the DC quantizer at 1 or 2 — so quantization is EXACT and
    the decoded mean_luma equals the color bit-for-bit, checkable in plain
    SQL with no tolerance."""
    id_name = id_col

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from healthcare_rcm_etl_pipeline_spark.operators.jpeg import encode_jpeg

        for pdf in batches:
            payloads = []
            for raw in pdf[id_name]:
                i = int(raw)
                w, h, v = 8 + i % 16, 8 + i % 8, i % 256
                img = np.full((h, w, 3), v, dtype=np.uint8)
                payloads.append(
                    encode_jpeg(img, quality=93 + i % 8, subsample=(i % 2 == 0))
                )
            yield pd.DataFrame(
                {"doc_id": pdf[id_name].astype("int64"), "payload": payloads}
            )

    return df.select(id_col).mapInPandas(_gen, JPEG_SYNTH_SCHEMA)


def synthesize_png_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL-PNG payload per row (mapInPandas): a solid-color
    image whose dimensions, channel count (gray / RGB / palette), and
    scanline filter are pure functions of the id. PNG is LOSSLESS, so the
    decoded mean_luma equals the color exactly for ANY filter choice — the
    oracle pins dims/channels/mean with zero tolerance while the row-
    cycling filters exercise every unfilter path in production plumbing."""
    id_name = id_col

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from healthcare_rcm_etl_pipeline_spark.operators.png import encode_png

        for pdf in batches:
            payloads = []
            for raw in pdf[id_name]:
                i = int(raw)
                w, h, v = 5 + i % 13, 4 + i % 9, i % 256
                kind = i % 3
                if kind == 0:  # grayscale
                    img = np.full((h, w, 1), v, dtype=np.uint8)
                    payloads.append(encode_png(img))
                elif kind == 1:  # RGB
                    img = np.full((h, w, 3), v, dtype=np.uint8)
                    payloads.append(encode_png(img))
                else:  # palette: index 1 -> solid color v
                    pal = np.zeros((2, 3), dtype=np.uint8)
                    pal[1] = v
                    idx = np.ones((h, w, 1), dtype=np.uint8)
                    payloads.append(encode_png(idx, palette=pal))
            yield pd.DataFrame(
                {"doc_id": pdf[id_name].astype("int64"), "payload": payloads}
            )

    return df.select(id_col).mapInPandas(_gen, JPEG_SYNTH_SCHEMA)


def decode_stub(payload: bytes) -> tuple[int, int]:
    """Fallback for formats needing PIL/ffmpeg: deterministic fake
    (width, height) derived from the payload hash (stable, testable,
    flagged as fake by its callers)."""
    h = hashlib.sha256(payload).digest()
    return 16 + h[0] % 240, 16 + h[1] % 240


def decode_features(payload: bytes) -> tuple[int, int, int, float, bool]:
    """(width, height, channels, mean_luma, decoded) — real decode when the
    format allows, declared fake otherwise."""
    try:
        img = decode_image(payload)
        return img.shape[1], img.shape[0], img.shape[2], float(img.mean()), True
    except ValueError:
        w, h = decode_stub(payload)
        return w, h, 0, float("nan"), False


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zcr", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("frame_sha256", T.StringType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def decode_wav(payload: bytes) -> dict:
    """Pure-numpy RIFF/WAV PCM decode (the published RIFF spec: 12-byte
    header then length-prefixed chunks; fmt tag 1 = integer PCM, 16- or
    8-bit). Returns {sample_rate, channels, bits, samples(np.ndarray float
    in [-1, 1], shape (n, channels))}. Raises ValueError for anything that
    is not uncompressed PCM WAV — compressed audio (mp3/ogg/aac) needs
    codec libraries this container doesn't ship."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, fmt, data = 12, None, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        sz = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    tag = int.from_bytes(fmt[0:2], "little")
    if tag != 1:
        raise ValueError(f"only integer PCM supported (fmt tag {tag})")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if channels < 1 or rate < 1:
        # a crafted/corrupt fmt chunk must land in the flagged-fake
        # fallback (ValueError), not ZeroDivisionError out of the worker
        raise ValueError(f"invalid fmt chunk (channels={channels}, rate={rate})")
    if bits == 16:
        raw = np.frombuffer(data, dtype="<i2", count=(len(data) // 2) // channels * channels)
        samples = raw.astype(np.float64) / 32768.0
    elif bits == 8:  # 8-bit WAV is unsigned, midpoint 128
        raw = np.frombuffer(data, dtype=np.uint8, count=len(data) // channels * channels)
        samples = (raw.astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"{bits}-bit PCM not supported")
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "samples": samples.reshape(-1, channels),
    }


def audio_features(payload: bytes) -> tuple:
    """(sample_rate, channels, bits, n_samples, duration, rms, peak, zcr,
    decoded) — real for PCM WAV, declared-fake fallback otherwise (the
    image-path policy applied to audio)."""
    try:
        wav = decode_wav(payload)
        s = wav["samples"]
        mono = s.mean(axis=1)
        n = s.shape[0]
        zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if n > 1 else 0.0
        return (
            wav["sample_rate"], wav["channels"], wav["bits"], n,
            n / wav["sample_rate"] if wav["sample_rate"] else float("nan"),
            float(np.sqrt(np.mean(s * s))) if n else 0.0,
            float(np.abs(s).max()) if n else 0.0,
            zcr,
            True,
        )
    except ValueError:
        h = hashlib.sha256(payload).digest()
        return (8000 * (1 + h[0] % 6), 1 + h[1] % 2, 16, 0, float("nan"),
                float("nan"), float("nan"), float("nan"), False)


def extract_audio_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched audio feature extraction (mapInPandas) — same plumbing
    contract as ``extract_features``: payload bytes never leave executors,
    explicit output schema, one output row per input row."""
    id_name, payload_name = id_col, payload_col

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_name]
            feats = [audio_features(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_name].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int32"),
                    "sample_rate": pd.Series([f[0] for f in feats], dtype="int32"),
                    "channels": pd.Series([f[1] for f in feats], dtype="int32"),
                    "bits": pd.Series([f[2] for f in feats], dtype="int32"),
                    "n_samples": pd.Series([f[3] for f in feats], dtype="int64"),
                    "duration_sec": pd.Series([f[4] for f in feats], dtype="float64"),
                    "rms": pd.Series([f[5] for f in feats], dtype="float64"),
                    "peak": pd.Series([f[6] for f in feats], dtype="float64"),
                    "zcr": pd.Series([f[7] for f in feats], dtype="float64"),
                    "decoded": pd.Series([f[8] for f in feats], dtype="bool"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(_extract, AUDIO_SCHEMA)


def split_pnm_stream(payload: bytes) -> list[bytes]:
    """Split a concatenated binary-netpbm stream (back-to-back P6/P5 frames
    — the pnm-pipe 'video' layout ffmpeg emits with ``-f image2pipe``) into
    individual frame payloads. Raises ValueError if the payload does not
    start with a netpbm magic."""
    frames: list[bytes] = []
    i = 0
    while i + 2 <= len(payload):
        magic = payload[i : i + 2]
        if magic not in (b"P6", b"P5"):
            if not frames:
                raise ValueError("not a netpbm stream")
            break  # trailing garbage after the last full frame
        try:
            (w, h, maxval), off = _pnm_tokens(payload[i:], 3)
        except ValueError:
            if not frames:
                raise
            break  # stream cut inside a later frame's HEADER: keep priors
        if maxval > 255:
            if not frames:
                raise ValueError("16-bit netpbm not supported")
            break  # unsupported LATER frame: keep priors, same policy as
            # a truncated frame — raising would discard good frames
        ch = 3 if magic == b"P6" else 1
        end = i + off + w * h * ch
        if end > len(payload):
            break  # truncated final frame's pixel data: drop it
        frames.append(payload[i:end])
        i = end
    if not frames:
        raise ValueError("no complete frames")
    return frames


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every: int = 1,
    max_frames: int = 32,
) -> DataFrame:
    """Frame sampling over video payloads (mapInPandas, EXPLODING output:
    one row per sampled frame). Real for concatenated-netpbm streams —
    every ``every``-th frame up to ``max_frames``, each decoded for
    (width, height, mean_luma) with a content sha256. Container formats
    (mp4/webm) need ffmpeg: they emit ONE placeholder row flagged
    ``decoded=false`` so downstream counts stay honest. The plumbing
    contract — schema, batching, per-frame rows — is identical either way,
    which is the part a real cluster cares about."""
    id_name, payload_name = id_col, payload_col

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "frame_idx", "width", "height",
                                    "mean_luma", "frame_sha256", "decoded")}
            for doc_id, p in zip(pdf[id_name], pdf[payload_name]):
                payload = bytes(p)
                try:
                    frames = split_pnm_stream(payload)[::every][:max_frames]
                    for idx, fr in enumerate(frames):
                        img = decode_image(fr)
                        rows["doc_id"].append(int(doc_id))
                        rows["frame_idx"].append(idx)
                        rows["width"].append(img.shape[1])
                        rows["height"].append(img.shape[0])
                        rows["mean_luma"].append(float(img.mean()))
                        rows["frame_sha256"].append(hashlib.sha256(fr).hexdigest())
                        rows["decoded"].append(True)
                except ValueError:
                    w, h = decode_stub(payload)
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_idx"].append(0)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["mean_luma"].append(float("nan"))
                    rows["frame_sha256"].append(hashlib.sha256(payload).hexdigest())
                    rows["decoded"].append(False)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(rows["frame_idx"], dtype="int32"),
                    "width": pd.Series(rows["width"], dtype="int32"),
                    "height": pd.Series(rows["height"], dtype="int32"),
                    "mean_luma": pd.Series(rows["mean_luma"], dtype="float64"),
                    "frame_sha256": pd.Series(rows["frame_sha256"], dtype="object"),
                    "decoded": pd.Series(rows["decoded"], dtype="bool"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(_sample, FRAME_SCHEMA)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Treat a text column as an opaque binary payload (UTF-8 bytes) — the
    stand-in for real image/audio bytes in this container."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def extract_features(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas)."""
    id_name, payload_name = id_col, payload_col

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_name]
            feats = [decode_features(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_name].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int32"),
                    "sha256": payloads.map(lambda p: hashlib.sha256(bytes(p)).hexdigest()),
                    "width": pd.Series([f[0] for f in feats], dtype="int32"),
                    "height": pd.Series([f[1] for f in feats], dtype="int32"),
                    "channels": pd.Series([f[2] for f in feats], dtype="int32"),
                    "mean_luma": pd.Series([f[3] for f in feats], dtype="float64"),
                    "decoded": pd.Series([f[4] for f in feats], dtype="bool"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(_extract, FEATURE_SCHEMA)
