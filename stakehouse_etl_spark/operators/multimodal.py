"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB (per the build brief): media
lives as an opaque ``binary`` column plus a typed metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages so bytes never round-trip through Python row
objects. The codecs here are numpy BMP/WAV (fully specified byte
layouts, below) plus the deterministic ``fake_decode`` stand-in; the
Spark-side plumbing — schema, partition flow, UDF signature, batch
shape — is real and tested.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def attach_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Wrap a text column as a binary payload — the plumbing-level
    stand-in for real media bytes (UTF-8 encode, JVM-side)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("blob").alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


_BYTE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("byte_sum", LongType()),
        StructField("byte_min", IntegerType()),
        StructField("byte_max", IntegerType()),
        StructField("checksum", LongType()),
    ]
)


def byte_features(media: DataFrame) -> DataFrame:
    """Feature-extraction stage over binary payloads via Arrow-batched
    ``mapInPandas``: bytes → numpy view → vectorized stats. The batch
    iterator shape (many payloads per Arrow batch, zero-copy into
    numpy) is exactly how a real decode/feature stage runs at scale."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Measured (BASELINE.md / PLANS.md): min/max run as uint8
        # ufunc.reduceat over one concatenated buffer + offset vector
        # (no widened copy, no per-row Python call); sums stay a
        # per-row C reduction because every whole-batch alternative
        # (astype int64/f64 + reduceat, bincount, cumsum) forces ≥8×
        # the memory traffic of the uint8 input and loses on
        # bandwidth. Net 2-3× over the naive per-row loop at 50-1000 B
        # payloads, never slower at 5 KB.
        for pdf in batches:
            mids = pdf["media_id"].to_numpy(np.int64)
            payloads = pdf["payload"].tolist()
            n = len(payloads)
            lens = np.fromiter((len(p) for p in payloads), np.int64, count=n)
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            starts = np.zeros(n, dtype=np.int64)
            if n > 1:
                np.cumsum(lens[:-1], out=starts[1:])
            mins = np.zeros(n, dtype=np.int64)
            maxs = np.zeros(n, dtype=np.int64)
            nonempty = lens > 0
            if buf.size:
                # Offsets of only the non-empty rows: empty rows occupy
                # zero bytes, so consecutive non-empty starts delimit
                # exactly their own segments.
                ne_starts = starts[nonempty]
                mins[nonempty] = np.minimum.reduceat(buf, ne_starts)
                maxs[nonempty] = np.maximum.reduceat(buf, ne_starts)
            sums = np.fromiter(
                (np.frombuffer(p, np.uint8).sum() for p in payloads),
                np.int64,
                count=n,
            )
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "n_bytes": lens,
                    "byte_sum": sums,
                    "byte_min": mins.astype(np.int32),
                    "byte_max": maxs.astype(np.int32),
                    "checksum": sums % 997,
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        extract, schema=_BYTE_FEATURES_SCHEMA
    )


_RESAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_out", LongType()),
        StructField("out_sum", LongType()),
        StructField("out_min", IntegerType()),
        StructField("out_max", IntegerType()),
    ]
)


def resample_payload(media: DataFrame, stride: int = 4) -> DataFrame:
    """Resize/downsample stage (the image-resize / audio-resample
    analog): keep every ``stride``-th byte of the payload. Same
    Arrow-batched ``mapInPandas`` contract as the real codec stage —
    a deployment swaps the numpy stride for PIL.resize / librosa
    resample without touching the plan."""

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"].to_numpy(), pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8)[::stride]
                s = int(arr.sum())
                rows.append(
                    (
                        int(mid),
                        int(arr.size),
                        s,
                        int(arr.min()) if arr.size else 0,
                        int(arr.max()) if arr.size else 0,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_out", "out_sum", "out_min", "out_max"]
            )

    return media.select("media_id", "payload").mapInPandas(
        resample, schema=_RESAMPLE_SCHEMA
    )


def fake_decode(media: DataFrame, frame_bytes: int = 64) -> DataFrame:
    """Deterministic stand-in for the codec: 'frames' are fixed-size
    byte stripes, 'pixels' are byte values — exercises the real
    frame-sampling partition flow (one input row → many frame rows)."""

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_mean", LongType()),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"].to_numpy(), pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8)
                for i in range(0, len(arr), frame_bytes):
                    chunk = arr[i : i + frame_bytes]
                    # integer mean (floor) keeps it engine-exact
                    rows.append((int(mid), i // frame_bytes, int(chunk.sum()) // len(chunk)))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_mean"])

    return media.select("media_id", "payload").mapInPandas(decode, schema=schema)


# ---------------------------------------------------------------------------
# REAL container-format codecs (no external libs needed)
# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed, bottom-up, BGR, 4-byte row padding) and
# RIFF/WAV (PCM16 mono, chunk-walked) are fully specified byte layouts
# that numpy can encode and decode without PIL/ffmpeg — so the "real
# codec" stage is exercised END-TO-END in this container: encoder
# emits genuine files, decoder parses genuine headers, and the
# per-image/per-clip stats are verified against a closed-form oracle.
# A deployment swaps these for PIL/ffmpeg behind the SAME mapInPandas
# contract; the padding/endianness/row-flip handling here is the real
# thing, not a stub.

_BMP_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def _bmp_encode_one(mid: int, w: int, h: int) -> bytes:
    """A real 24-bit BMP: file header + BITMAPINFOHEADER + bottom-up
    BGR rows padded to 4 bytes. Pixel channels follow the generative
    formula the oracle recomputes."""
    import struct

    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    r = (x * 3 + y * 5 + mid) % 256
    g = (x * 7 + y * 11 + 2 * mid) % 256
    b = (x * 13 + y * 17 + 3 * mid) % 256
    rgb = np.stack(
        [b, g, r], axis=2
    ).astype(np.uint8)  # BMP stores BGR
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    rows = []
    for yy in range(h - 1, -1, -1):  # bottom-up row order
        rows.append(rgb[yy].tobytes() + b"\x00" * pad)
    pixel_data = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(pixel_data), 0, 0, 54
    )
    return header + info + pixel_data


def encode_bmp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id rows → (media_id, payload) of REAL BMP files; sizes vary per
    id so row padding (w*3 % 4) is exercised in every variant."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids = pdf[id_col].to_numpy(np.int64)
            payloads = [
                _bmp_encode_one(int(m), 4 + int(m) % 5, 3 + int(m) % 4)
                for m in mids
            ]
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )
    return df.select(id_col).mapInPandas(enc, schema=schema)


def decode_bmp(media: DataFrame) -> DataFrame:
    """REAL BMP decoder: validates magic/bpp/compression, reads the
    dimensions from BITMAPINFOHEADER, strips row padding, un-flips the
    bottom-up rows, splits BGR — then reduces to exact per-channel
    int64 sums. Raises on malformed input instead of guessing."""
    import struct

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(
                pdf["media_id"].to_numpy(np.int64), pdf["payload"]
            ):
                if payload[:2] != b"BM":
                    raise ValueError(f"media {mid}: not a BMP")
                offset = struct.unpack_from("<I", payload, 10)[0]
                (
                    hdr_sz,
                    w,
                    h,
                    _planes,
                    bpp,
                    comp,
                ) = struct.unpack_from("<IiiHHI", payload, 14)
                if hdr_sz < 40 or bpp != 24 or comp != 0:
                    raise ValueError(f"media {mid}: unsupported BMP variant")
                row_bytes = w * 3
                stride = row_bytes + ((-row_bytes) % 4)
                if len(payload) < offset + stride * abs(h):
                    raise ValueError(f"media {mid}: truncated BMP")
                buf = np.frombuffer(
                    payload, np.uint8, count=stride * abs(h), offset=offset
                ).reshape(abs(h), stride)[:, :row_bytes]
                img = buf.reshape(abs(h), w, 3)
                if h > 0:  # bottom-up: un-flip to top-down
                    img = img[::-1]
                img64 = img.astype(np.int64)
                rows.append(
                    (
                        int(mid),
                        int(w),
                        int(abs(h)),
                        int(img64[:, :, 2].sum()),  # R
                        int(img64[:, :, 1].sum()),  # G
                        int(img64[:, :, 0].sum()),  # B
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        dec, schema=_BMP_DECODE_SCHEMA
    )


_WAV_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sample_sum", LongType()),
        StructField("sample_min", IntegerType()),
        StructField("sample_max", IntegerType()),
    ]
)


def _wav_encode_one(mid: int, n: int) -> bytes:
    """A real RIFF/WAVE file: fmt chunk (PCM, mono, 16-bit, 16 kHz) + data
    chunk of int16-LE samples, plus a junk LIST chunk so decoders must
    actually WALK chunks rather than assume fixed offsets."""
    import struct

    i = np.arange(n, dtype=np.int64)
    samples = (((i * 13 + mid * 7) % 65536) - 32768).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 16000 * 2, 2, 16)
    junk = b"spark-graft metadata"
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", len(junk)) + junk
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def encode_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids = pdf[id_col].to_numpy(np.int64)
            payloads = [
                _wav_encode_one(int(m), 50 + int(m) % 32) for m in mids
            ]
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )
    return df.select(id_col).mapInPandas(enc, schema=schema)


def decode_wav(media: DataFrame) -> DataFrame:
    """REAL RIFF/WAVE decoder: validates the RIFF/WAVE magic, WALKS
    the chunk list (fmt may be followed by LIST/JUNK chunks before
    data — fixed-offset readers break on real files), checks PCM16
    mono, then reduces the int16 samples to exact stats."""
    import struct

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(
                pdf["media_id"].to_numpy(np.int64), pdf["payload"]
            ):
                if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
                    raise ValueError(f"media {mid}: not a RIFF/WAVE")
                pos, rate, samples = 12, None, None
                while pos + 8 <= len(payload):
                    cid = payload[pos : pos + 4]
                    (sz,) = struct.unpack_from("<I", payload, pos + 4)
                    body = pos + 8
                    if cid == b"fmt ":
                        fmt_code, ch, rate, _, _, bits = struct.unpack_from(
                            "<HHIIHH", payload, body
                        )
                        if fmt_code != 1 or ch != 1 or bits != 16:
                            raise ValueError(
                                f"media {mid}: unsupported WAV format"
                            )
                    elif cid == b"data":
                        samples = np.frombuffer(
                            payload, dtype="<i2", count=sz // 2, offset=body
                        )
                    pos = body + sz + (sz % 2)  # chunks are word-aligned
                if rate is None or samples is None:
                    raise ValueError(f"media {mid}: missing fmt/data chunk")
                s64 = samples.astype(np.int64)
                rows.append(
                    (
                        int(mid),
                        int(rate),
                        int(s64.size),
                        int(s64.sum()),
                        int(s64.min()),
                        int(s64.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "n_samples",
                    "sample_sum",
                    "sample_min",
                    "sample_max",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        dec, schema=_WAV_DECODE_SCHEMA
    )


_BMP_HIST_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("bin", IntegerType()),
        StructField("r_cnt", LongType()),
        StructField("g_cnt", LongType()),
        StructField("b_cnt", LongType()),
    ]
)


def bmp_channel_histogram(media: DataFrame) -> DataFrame:
    """Decode→analyze on the real BMP path: per-image per-channel
    16-bin value histograms (bin = value div 16), Arrow-batched and
    fully vectorized (one ``np.bincount`` per channel per image —
    no per-pixel Python). Emits only non-empty bins, so the output
    is ≤ images × 16 rows regardless of resolution; the global
    rollup is a downstream groupBy. Same header validation as
    ``decode_bmp`` (multimodal.py:327) — malformed input raises."""
    import struct

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "bin": [],
                "r_cnt": [],
                "g_cnt": [],
                "b_cnt": [],
            }
            for mid, payload in zip(
                pdf["media_id"].to_numpy(np.int64), pdf["payload"]
            ):
                if payload[:2] != b"BM":
                    raise ValueError(f"media {mid}: not a BMP")
                offset = struct.unpack_from("<I", payload, 10)[0]
                hdr_sz, w, h, _planes, bpp, comp = struct.unpack_from(
                    "<IiiHHI", payload, 14
                )
                if hdr_sz < 40 or bpp != 24 or comp != 0:
                    raise ValueError(f"media {mid}: unsupported BMP variant")
                row_bytes = w * 3
                stride = row_bytes + ((-row_bytes) % 4)
                if len(payload) < offset + stride * abs(h):
                    raise ValueError(f"media {mid}: truncated BMP")
                buf = np.frombuffer(
                    payload, np.uint8, count=stride * abs(h), offset=offset
                ).reshape(abs(h), stride)[:, :row_bytes]
                img = buf.reshape(abs(h), w, 3)
                hists = [
                    np.bincount(
                        (img[:, :, ch].ravel() // 16), minlength=16
                    )
                    for ch in (2, 1, 0)  # R, G, B
                ]
                nz = np.nonzero(hists[0] + hists[1] + hists[2])[0]
                out["media_id"].extend([int(mid)] * len(nz))
                out["bin"].extend(int(b) for b in nz)
                out["r_cnt"].extend(int(hists[0][b]) for b in nz)
                out["g_cnt"].extend(int(hists[1][b]) for b in nz)
                out["b_cnt"].extend(int(hists[2][b]) for b in nz)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        dec, schema=_BMP_HIST_SCHEMA
    )
