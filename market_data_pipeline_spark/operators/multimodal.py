"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed through Arrow-batched ``mapInPandas``.

Every media family has a REAL parse path: PNG/BMP images via
``imagecodec.py`` (zlib inflate + full filter reconstruction + CRC), PCM
WAV audio and YUV4MPEG2 video via ``avcodec.py`` — so
encode→decode→feature round trips are true codec paths, byte-exact.
Compressed codecs (JPEG/MP3/H.264) genuinely need PIL/ffmpeg; the
``*_stub`` variants remain for payloads without a codec and are clearly
marked. At 100 TB the rules encoded here: binary payloads never pass
through a shuffle you can avoid (derive features, then drop the blob), and
batch memory = maxRecordsPerBatch × payload size, tuned at the reader.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("kind", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


def documents_as_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a media-shaped table from documents: the text bytes stand in for
    an encoded payload. This is how binary columns enter the engine —
    ``binary`` + a typed metadata struct, no parsing at scan time."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image/fake").alias("kind"),
            (F.length(F.col(text_col)) % 640 + 16).cast("int").alias("width"),
            (F.length(F.col(text_col)) % 480 + 16).cast("int").alias("height"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> bytes:
    """STUB decode: a real pipeline calls PIL/ffmpeg here. Deterministic fake:
    identity. Raises for None to mirror codec failure paths."""
    if payload is None:
        raise NotImplementedError("decode of null payload (no codec in container)")
    return payload


def extract_media_features(df: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """Decode → feature-extract over ``mapInPandas``: per Arrow batch, emit
    (media_id, n_bytes, byte_mean, head_hash). The blob is dropped in the
    output schema — features travel, payloads don't."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("byte_mean", T.DoubleType(), True),
            T.StructField("head_hash", T.StringType(), True),
        ]
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = _fake_decode(bytes(payload))
                rows.append(
                    {
                        "media_id": mid,
                        "n_bytes": len(raw),
                        # +1e-9 before rounding, mirrored in the SQL oracle:
                        # payload-length divisors make exact .5×10⁻⁶ means
                        # (e.g. x/256), where Python's half-even and SQL's
                        # half-up split — the nudge moves both sides off
                        # the boundary identically
                        "byte_mean": round(sum(raw) / len(raw) + 1e-9, 6)
                        if raw
                        else None,
                        # fingerprint of the head bytes, hashed via their
                        # UPPERCASE hex so any engine (DuckDB md5 is
                        # VARCHAR-only) can reproduce it byte-for-byte
                        "head_hash": hashlib.md5(
                            raw[:64].hex().upper().encode()
                        ).hexdigest(),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "n_bytes", "byte_mean", "head_hash"])

    return df.select("media_id", "payload").mapInPandas(feats, schema=out_schema)


def documents_as_png(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", width: int = 32
) -> DataFrame:
    """Build a media table with REAL PNG payloads: the document's UTF-8
    bytes become a zero-padded ``width``-wide grayscale image, encoded by
    the stdlib codec. Deterministic, loss-free (the text bytes are literally
    the pixel values), and every downstream decode is a true codec path —
    the fixture generator for the image operators, and the pattern a real
    ingest uses to wrap raw bytes into typed media rows."""
    from market_data_pipeline_spark.operators import imagecodec as ic

    out_schema = MEDIA_SCHEMA

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, txt in zip(pdf[id_col], pdf[text_col]):
                raw = (txt or "").encode("utf-8")
                h = max(1, -(-len(raw) // width))
                buf = np.zeros(h * width, dtype=np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                payload = ic.png_encode(buf.reshape(h, width, 1))
                rows.append(
                    {
                        "media_id": mid,
                        "payload": payload,
                        "meta": {
                            "kind": "image/png",
                            "width": width,
                            "height": h,
                            "n_bytes": len(payload),
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    return df.select(id_col, text_col).mapInPandas(encode, schema=out_schema)


def extract_image_stats(df: DataFrame) -> DataFrame:
    """REAL decode → per-image stats: dimensions and channel count from the
    parsed header, pixel sum/mean from the reconstructed pixel buffer. The
    blob is dropped in the output — features travel, payloads don't."""
    from market_data_pipeline_spark.operators import imagecodec as ic

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("px_sum", T.LongType(), True),
            T.StructField("px_mean", T.DoubleType(), True),
        ]
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = ic.decode(bytes(payload))
                h, w, c = img.shape
                total = int(img.sum(dtype="int64"))
                rows.append(
                    {
                        "media_id": mid,
                        "width": w,
                        "height": h,
                        "channels": c,
                        "px_sum": total,
                        "px_mean": round(total / img.size, 6),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "channels", "px_sum", "px_mean"],
            )

    return df.select("media_id", "payload").mapInPandas(stats, schema=out_schema)


def resize_images(df: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """REAL resize: decode (PNG/BMP) → nearest-neighbor index map →
    re-encode PNG. Output payloads are valid PNGs of the target size and
    the metadata is derived from the actually-decoded image, not assumed."""
    from market_data_pipeline_spark.operators import imagecodec as ic

    out_schema = MEDIA_SCHEMA

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = ic.decode(bytes(payload))
                small = ic.resize_nearest(img, target_w, target_h)
                out = ic.png_encode(small)
                rows.append(
                    {
                        "media_id": mid,
                        "payload": out,
                        "meta": {
                            "kind": "image/png",
                            "width": target_w,
                            "height": target_h,
                            "n_bytes": len(out),
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    return df.select("media_id", "payload").mapInPandas(resize, schema=out_schema)


def documents_as_wav(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sample_rate: int = 16000,
) -> DataFrame:
    """Media table with REAL WAV payloads: the document's UTF-8 bytes become
    little-endian PCM-16 mono samples (odd tail byte zero-padded), wrapped
    in a valid RIFF/WAVE container by the stdlib codec."""
    from market_data_pipeline_spark.operators import avcodec as av

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, txt in zip(pdf[id_col], pdf[text_col]):
                raw = (txt or "").encode("utf-8")
                if len(raw) % 2:
                    raw += b"\x00"
                samples = (
                    np.frombuffer(raw, dtype="<i2")
                    if raw
                    else np.zeros(0, dtype="<i2")
                )
                payload = av.wav_encode(samples, sample_rate=sample_rate)
                rows.append(
                    {
                        "media_id": mid,
                        "payload": payload,
                        "meta": {
                            "kind": "audio/wav",
                            "width": None,
                            "height": None,
                            "n_bytes": len(payload),
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    return df.select(id_col, text_col).mapInPandas(encode, schema=MEDIA_SCHEMA)


def extract_audio_stats(df: DataFrame) -> DataFrame:
    """REAL WAV decode → per-clip stats: sample/channel counts and rate
    from the parsed fmt chunk, amplitude sum over the decoded PCM frames."""
    from market_data_pipeline_spark.operators import avcodec as av

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_samples", T.LongType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("amp_sum", T.LongType(), True),
        ]
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                s, rate = av.wav_decode(bytes(payload))
                rows.append(
                    {
                        "media_id": mid,
                        "n_samples": s.shape[0],
                        "channels": s.shape[1],
                        "sample_rate": rate,
                        "amp_sum": int(s.sum(dtype="int64")),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "channels", "sample_rate", "amp_sum"],
            )

    return df.select("media_id", "payload").mapInPandas(stats, schema=out_schema)


def documents_as_y4m(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    frame_w: int = 16,
    frame_h: int = 16,
) -> DataFrame:
    """Media table with REAL Y4M video payloads: the document's bytes fill
    ``frame_w×frame_h`` luma frames (zero-padded; at least one frame), in a
    valid YUV4MPEG2 Cmono stream."""
    from market_data_pipeline_spark.operators import avcodec as av

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        fsz = frame_w * frame_h
        for pdf in batches:
            rows = []
            for mid, txt in zip(pdf[id_col], pdf[text_col]):
                raw = (txt or "").encode("utf-8")
                n_frames = max(1, -(-len(raw) // fsz))
                buf = np.zeros(n_frames * fsz, dtype=np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                payload = av.y4m_encode(buf.reshape(n_frames, frame_h, frame_w))
                rows.append(
                    {
                        "media_id": mid,
                        "payload": payload,
                        "meta": {
                            "kind": "video/y4m",
                            "width": frame_w,
                            "height": frame_h,
                            "n_bytes": len(payload),
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    return df.select(id_col, text_col).mapInPandas(encode, schema=MEDIA_SCHEMA)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """REAL video frame sampling: decode the Y4M stream, keep frames
    0, n, 2n, … and emit per-kept-frame luma sums — the
    decode→sample→feature shape a real video pipeline uses (the stub twin
    below survives for payloads with no codec)."""
    from market_data_pipeline_spark.operators import avcodec as av

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_no", T.IntegerType(), False),
            T.StructField("y_sum", T.LongType(), True),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames, _fps = av.y4m_decode(bytes(payload))
                for k in range(0, frames.shape[0], every_n):
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_no": k,
                            "y_sum": int(frames[k].sum(dtype="int64")),
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_no", "y_sum"])

    return df.select("media_id", "payload").mapInPandas(sample, schema=out_schema)


def resize_stub(df: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """STUB resize: records the would-be output dims in metadata without
    decoding (no codec available). The schema/plumbing is the deliverable."""
    return df.withColumn(
        "meta",
        F.struct(
            F.col("meta.kind").alias("kind"),
            F.lit(target_w).alias("width"),
            F.lit(target_h).alias("height"),
            F.col("meta.n_bytes").alias("n_bytes"),
        ),
    )


def jpeg_roundtrip_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 32,
    quality: int = 90,
    psnr_floor: float = 28.0,
) -> DataFrame:
    """REAL lossy-codec round trip: the document's UTF-8 bytes become a
    ``width``-wide grayscale image, encoded to baseline JFIF by the
    dependency-free JPEG codec (``jpegcodec.py``), decoded back, and
    graded — (media_id, width, height, channels, n_jpeg_bytes ordering
    flags, psnr_ok).

    JPEG is lossy, so unlike the PNG round trip the decoded pixel sum is
    not oracle-predictable; what IS exactly predictable — and pinned by
    the SQL oracle via the same ok-flag contract as sketch_accuracy — is
    the parsed geometry (width/height/channels from the decoded frame,
    which must match the pre-encode construction exactly) and the
    fidelity floor (PSNR > ``psnr_floor`` dB for text-byte images at the
    default quality; a broken DCT/Huffman path craters PSNR immediately).
    """
    from market_data_pipeline_spark.operators import jpegcodec as jc

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("compressed", T.BooleanType(), True),
            T.StructField("psnr_ok", T.BooleanType(), True),
        ]
    )

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, txt in zip(pdf[id_col], pdf[text_col]):
                raw = (txt or "").encode("utf-8")
                h = max(1, -(-len(raw) // width))
                buf = np.zeros(h * width, dtype=np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                img = buf.reshape(h, width, 1)
                payload = jc.jpeg_encode(img, quality=quality)
                dec = jc.jpeg_decode(payload)
                dh, dw, dc = dec.shape
                rows.append(
                    {
                        "media_id": mid,
                        "width": dw,
                        "height": dh,
                        "channels": dc,
                        "compressed": len(payload) > 0,
                        "psnr_ok": jc.psnr(img, dec) > psnr_floor,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "channels",
                    "compressed", "psnr_ok",
                ],
            )

    return df.select(id_col, text_col).mapInPandas(roundtrip, schema=out_schema)


def audio_adpcm_roundtrip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sample_rate: int = 8000,
) -> DataFrame:
    """IMA ADPCM round trip per document: UTF-8 bytes → PCM-16 samples
    (the documents_as_wav derivation) → 4-bit IMA ADPCM encode → REAL
    container decode, asserting the encoder/decoder STATE-AGREEMENT
    invariant — the decoded stream must equal the encoder's own mirrored
    reconstruction bit-for-bit (``state_ok``). n_samples is the padded
    block total (1 + 8k samples per block), which the SQL oracle pins in
    closed form from the text byte length; the flag contract is the
    sketch_accuracy pattern (engine-side invariant, oracle expects TRUE).

    Arrow ``mapInPandas`` like every codec path — the 100 TB shape is
    per-row byte work riding the scan, no shuffle at all."""
    from market_data_pipeline_spark.operators import avcodec as av

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("state_ok", T.BooleanType(), False),
        ]
    )

    def rt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, txt in zip(pdf[id_col], pdf[text_col]):
                raw = (txt or "").encode("utf-8")
                if len(raw) % 2:
                    raw += b"\x00"
                samples = (
                    np.frombuffer(raw, dtype="<i2").astype(np.int16)
                    if raw
                    else np.zeros(0, dtype=np.int16)
                )
                payload, recon = av.ima_adpcm_encode(samples, sample_rate)
                decoded, rate = av.wav_decode(payload)
                ok = (
                    rate == sample_rate
                    and decoded.shape[1] == 1
                    and np.array_equal(decoded[:, 0], recon)
                )
                rows.append(
                    {
                        "media_id": mid,
                        "n_samples": int(decoded.shape[0]),
                        "state_ok": bool(ok),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "n_samples", "state_ok"])

    return df.select(id_col, text_col).mapInPandas(rt, schema=out_schema)


def gif_animation_roundtrip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    frame_w: int = 16,
    frame_h: int = 12,
) -> DataFrame:
    """GIF round trip per document: UTF-8 bytes become palette indices
    tiled into ceil(len/(w·h)) frames of one (w, h) animation (zero-pad
    tail), LZW-encoded to a real GIF89a and decoded back. Emits the
    frame count (closed form from the byte length — the oracle pins it),
    the decoded logical-screen pixel count, and ``lzw_ok`` — every
    decoded frame equals its source indices through the 256-gray
    palette, bit-for-bit (LZW is lossless; FALSE means a real codec
    bug). Flag contract per sketch_accuracy. Arrow ``mapInPandas``,
    per-row byte work riding the scan."""
    from market_data_pipeline_spark.operators import gifcodec as gc

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_frames", T.LongType(), False),
            T.StructField("n_pixels", T.LongType(), False),
            T.StructField("lzw_ok", T.BooleanType(), False),
        ]
    )
    per_frame = frame_w * frame_h

    def rt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, txt in zip(pdf[id_col], pdf[text_col]):
                raw = (txt or "").encode("utf-8")
                n_frames = max(1, -(-len(raw) // per_frame))
                padded = raw + b"\x00" * (n_frames * per_frame - len(raw))
                arr = np.frombuffer(padded, dtype=np.uint8).reshape(
                    n_frames, frame_h, frame_w
                )
                payload = gc.gif_encode([arr[i] for i in range(n_frames)])
                frames, (sw, sh) = gc.gif_decode(payload)
                gray = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
                ok = (
                    (sw, sh) == (frame_w, frame_h)
                    and len(frames) == n_frames
                    and all(
                        np.array_equal(frames[i], gray[arr[i]])
                        for i in range(n_frames)
                    )
                )
                rows.append(
                    {
                        "media_id": mid,
                        "n_frames": int(n_frames),
                        "n_pixels": int(len(frames) * sw * sh),
                        "lzw_ok": bool(ok),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_frames", "n_pixels", "lzw_ok"]
            )

    return df.select(id_col, text_col).mapInPandas(rt, schema=out_schema)
