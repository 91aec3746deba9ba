"""Data-pipeline queries, wave 29: the multimodal chain completed on
real formats, plus a privacy DQ gate.

- nearest-neighbor resize of REAL decoded BMPs (exact index math)
- multi-frame container with offset table (video frame-sampling
  analog: parse index, seek, decode every k-th frame)
- k-anonymity audit over quasi-identifiers
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from stakehouse_etl_spark.io.sources import load_table
from stakehouse_etl_spark.operators.multimodal import _bmp_encode_one, encode_bmp
from stakehouse_etl_spark.operators.text import fan_out
from stakehouse_etl_spark.queries.registry import register

RESIZE_W, RESIZE_H = 4, 3


# ---------------------------------------------------------------------------
# Nearest-neighbor resize on real BMPs
# ---------------------------------------------------------------------------
@register(
    "mm_bmp_resize_nn",
    oracle=f"""
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
px AS (
  SELECT d.doc_id,
         (xs.x * d.w) // {RESIZE_W} AS sx,
         (ys.y * d.h) // {RESIZE_H} AS sy
  FROM d, unnest(range({RESIZE_W})) AS xs(x),
          unnest(range({RESIZE_H})) AS ys(y)
)
SELECT doc_id AS media_id,
       CAST({RESIZE_W} AS INTEGER) AS out_w,
       CAST({RESIZE_H} AS INTEGER) AS out_h,
       CAST(sum((3 * sx + 5 * sy + doc_id) % 256) AS BIGINT) AS sum_r,
       CAST(sum((7 * sx + 11 * sy + 2 * doc_id) % 256) AS BIGINT) AS sum_g,
       CAST(sum((13 * sx + 17 * sy + 3 * doc_id) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
""",
)
def mm_bmp_resize_nn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode REAL BMPs then nearest-neighbor-resize every image to
    {RESIZE_W}×{RESIZE_H} — the resize is exact integer index math
    (src = dst·src_size div dst_size, the floor-NN convention), so the
    oracle can recompute the resized channel sums from the generative
    formula without ever seeing a pixel. This pins the full
    decode→transform chain: a resize that rounds instead of floors,
    samples the wrong axis, or resizes before un-flipping fails the
    exact gate. Swap bilinear/PIL in deployment behind the same
    Arrow-batched stage."""

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("out_w", IntegerType()),
            StructField("out_h", IntegerType()),
            StructField("sum_r", LongType()),
            StructField("sum_g", LongType()),
            StructField("sum_b", LongType()),
        ]
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(
                pdf["media_id"].to_numpy(np.int64), pdf["payload"]
            ):
                offset = struct.unpack_from("<I", payload, 10)[0]
                _, w, h, _, bpp, comp = struct.unpack_from(
                    "<IiiHHI", payload, 14
                )
                if bpp != 24 or comp != 0:
                    raise ValueError(f"media {mid}: unsupported BMP")
                row_bytes = w * 3
                stride = row_bytes + ((-row_bytes) % 4)
                img = (
                    np.frombuffer(
                        payload, np.uint8, count=stride * h, offset=offset
                    )
                    .reshape(h, stride)[:, :row_bytes]
                    .reshape(h, w, 3)[::-1]  # un-flip bottom-up rows
                )
                sx = (np.arange(RESIZE_W, dtype=np.int64) * w) // RESIZE_W
                sy = (np.arange(RESIZE_H, dtype=np.int64) * h) // RESIZE_H
                out = img[np.ix_(sy, sx)].astype(np.int64)
                rows.append(
                    (
                        int(mid),
                        RESIZE_W,
                        RESIZE_H,
                        int(out[:, :, 2].sum()),
                        int(out[:, :, 1].sum()),
                        int(out[:, :, 0].sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "out_w", "out_h", "sum_r", "sum_g", "sum_b"],
            )

    ids = fan_out(load_table(spark, sf_dir, "documents").select("doc_id"))
    return encode_bmp(ids).mapInPandas(resize, schema=schema)


# ---------------------------------------------------------------------------
# Multi-frame container: offset-table parse + every-k-th frame decode
# ---------------------------------------------------------------------------
FRAME_STEP = 2


@register(
    "mm_multiframe_sample",
    oracle=f"""
WITH d AS (
  SELECT doc_id, 3 + doc_id % 4 AS n_frames FROM documents
),
fr AS (
  SELECT d.doc_id, f.f AS frame_idx,
         4 + (d.doc_id + f.f) % 5 AS w, 3 + (d.doc_id + f.f) % 4 AS h
  FROM d, unnest(range(d.n_frames)) AS f(f)
  WHERE f.f % {FRAME_STEP} = 0
),
px AS (
  SELECT fr.doc_id, fr.frame_idx, fr.w, fr.h, xs.x, ys.y
  FROM fr, unnest(range(fr.w)) AS xs(x), unnest(range(fr.h)) AS ys(y)
)
SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(sum((3 * x + 5 * y + doc_id + frame_idx) % 256)
            + sum((7 * x + 11 * y + 2 * (doc_id + frame_idx)) % 256)
            + sum((13 * x + 17 * y + 3 * (doc_id + frame_idx)) % 256)
            AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id, frame_idx
""",
)
def mm_multiframe_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VIDEO path on a real container layout: each clip is a
    multi-frame file — magic, frame count, an OFFSET TABLE, then one
    genuine BMP per frame (each frame its own size). The sampler
    parses the index, SEEKS to every {FRAME_STEP}-nd frame's offset
    without reading the skipped frames — exactly how real video
    keyframe extraction avoids decoding the stream — and decodes the
    selected frames to exact pixel sums. One input row fans out to
    many frame rows (the frame-sampling partition flow); the oracle
    recomputes every sampled frame's sum in closed form."""

    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", LongType()),
            StructField("pixel_sum", LongType()),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids = pdf["doc_id"].to_numpy(np.int64)
            payloads = []
            for mid in mids:
                mid = int(mid)
                n_frames = 3 + mid % 4
                frames = [
                    _bmp_encode_one(
                        mid + f, 4 + (mid + f) % 5, 3 + (mid + f) % 4
                    )
                    for f in range(n_frames)
                ]
                # header: magic, n_frames, then n_frames u32 offsets
                header_sz = 8 + 4 * n_frames
                offsets, pos = [], header_sz
                for fb in frames:
                    offsets.append(pos)
                    pos += len(fb)
                payloads.append(
                    b"MFC1"
                    + struct.pack("<I", n_frames)
                    + b"".join(struct.pack("<I", o) for o in offsets)
                    + b"".join(frames)
                )
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    enc_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(
                pdf["media_id"].to_numpy(np.int64), pdf["payload"]
            ):
                if payload[:4] != b"MFC1":
                    raise ValueError(f"media {mid}: bad container magic")
                (n_frames,) = struct.unpack_from("<I", payload, 4)
                offsets = struct.unpack_from(f"<{n_frames}I", payload, 8)
                for f in range(0, n_frames, FRAME_STEP):
                    fo = offsets[f]
                    px_off = fo + struct.unpack_from("<I", payload, fo + 10)[0]
                    _, w, h, _, bpp, comp = struct.unpack_from(
                        "<IiiHHI", payload, fo + 14
                    )
                    if bpp != 24 or comp != 0:
                        raise ValueError(f"media {mid}: bad frame {f}")
                    row_bytes = w * 3
                    stride = row_bytes + ((-row_bytes) % 4)
                    img = (
                        np.frombuffer(
                            payload,
                            np.uint8,
                            count=stride * h,
                            offset=px_off,
                        )
                        .reshape(h, stride)[:, :row_bytes]
                        .astype(np.int64)
                    )
                    rows.append((int(mid), int(f), int(img.sum())))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "pixel_sum"]
            )

    ids = fan_out(load_table(spark, sf_dir, "documents").select("doc_id"))
    clips = ids.mapInPandas(encode, schema=enc_schema)
    return clips.mapInPandas(sample, schema=out_schema)


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------
K_ANON = 5


@register(
    "dq_k_anonymity",
    oracle=f"""
WITH g AS (
  SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS group_sz
  FROM customer GROUP BY 1, 2
)
SELECT c_mktsegment, c_nationkey, group_sz,
       group_sz < {K_ANON} AS violates_k
FROM g
""",
)
def dq_k_anonymity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (segment,
    nation): any equivalence class smaller than k={K_ANON} re-identifies
    its members and must be generalized or suppressed before the table
    leaves the boundary — the privacy gate a training-data export runs
    next to PII redaction (``text_pii_redact``). One grouped count;
    the flag column drives the downstream suppress/generalize job, and
    at 100 TB the audit cost is a single map-side-combined aggregate
    over the quasi-identifier key."""
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("group_sz"))
    )
    return g.select(
        "c_mktsegment",
        "c_nationkey",
        "group_sz",
        (F.col("group_sz") < K_ANON).alias("violates_k"),
    )
