"""Multimodal column plumbing: binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns; decode and
feature extraction run as Arrow-batched ``mapInPandas`` (one Python
process per partition, whole columnar batches — never per-row Python).

Decode is REAL for uncompressed containers — PPM (P6) images and PCM
WAV audio parse with numpy alone (`decode_media`), and the
``media_decode`` registry query verifies the full encode→decode→
feature loop against a closed-form DuckDB oracle. Compressed formats
(JPEG/PNG/MP3) fall back to `_decode_stub` because no codec libraries
ship in this container; the Spark-side contract — schema,
partitioning, batch iteration, output types — is identical, so
swapping in PIL/ffmpeg later touches only the stub body.

Scale notes: binary payloads dominate partition size, so callers should
set ``spark.sql.files.maxPartitionBytes`` low enough that a batch of
payloads fits executor memory, and keep metadata-only projections
(everything except the blob) for downstream joins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("header_hex", T.StringType(), True),
        T.StructField("fake_width", T.IntegerType(), True),
        T.StructField("fake_height", T.IntegerType(), True),
        T.StructField("channel_mean", T.DoubleType(), True),
    ]
)


def _decode_stub(payload: bytes) -> dict:
    """Deterministic fake decode standing in for PIL/libav.

    Real implementation would decode the container and return pixel /
    sample arrays; here we derive stable pseudo-dimensions from the
    byte content so tests have exact expectations.
    """
    n = len(payload)
    header = payload[:4].hex() if n else None
    fake_w = 16 + (n % 64)
    fake_h = 16 + ((n // 64) % 64)
    mean = (sum(payload[:256]) / min(n, 256)) if n else None
    return {
        "n_bytes": n,
        "header_hex": header,
        "fake_width": fake_w,
        "fake_height": fake_h,
        "channel_mean": mean,
    }


def multimodal_features(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """Extract per-blob features via Arrow-batched ``mapInPandas``.

    The UDF sees pandas batches (zero-copy Arrow transfer for binary);
    output schema is fixed (`FEATURE_SCHEMA`) so downstream plans are
    fully typed.
    """
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(lambda b: _decode_stub(bytes(b)))
            out = pd.DataFrame(list(feats))
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out["n_bytes"] = out["n_bytes"].astype("int32")
            out["fake_width"] = out["fake_width"].astype("int32")
            out["fake_height"] = out["fake_height"].astype("int32")
            yield out

    return src.mapInPandas(extract, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Real decode path: container formats that need no codec library.
#
# PPM (P6) and PCM WAV are uncompressed containers — header + raw
# samples — so numpy alone gives a *real* decoder (actual pixel/sample
# math, not a stub). The synthesizer emits deterministic payloads whose
# expected features are pure arithmetic in doc_id, which lets a DuckDB
# oracle verify the whole encode→decode→feature loop cross-engine.
# Compressed formats (JPEG/PNG/MP3) still go through `_decode_stub`
# until codec libs are installed.
# ---------------------------------------------------------------------------

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_units", T.LongType(), False),
        T.StructField("mean_level", T.DoubleType(), False),
    ]
)

_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def _synth_one(doc_id: int) -> bytes:
    """Deterministic media payload: even ids → PPM image, odd → WAV."""
    import numpy as np

    if doc_id % 2 == 0:
        w = 8 + doc_id % 9
        h = 8 + doc_id % 7
        pix = ((doc_id * 31 + np.arange(3 * w * h, dtype=np.int64)) % 256).astype(
            np.uint8
        )
        return f"P6\n{w} {h}\n255\n".encode("ascii") + pix.tobytes()
    sr = 8000 + (doc_id % 5) * 1000
    n = 64 + doc_id % 50
    samples = (
        ((doc_id * 7 + 13 * np.arange(n, dtype=np.int64)) % 2048) - 1024
    ).astype("<i2")
    data = samples.tobytes()
    hdr = (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")          # PCM
        + (1).to_bytes(2, "little")          # mono
        + sr.to_bytes(4, "little")
        + (sr * 2).to_bytes(4, "little")     # byte rate
        + (2).to_bytes(2, "little")          # block align
        + (16).to_bytes(2, "little")         # bits/sample
        + b"data"
        + len(data).to_bytes(4, "little")
    )
    return hdr + data


def synth_media_payloads(df: DataFrame, id_col: str) -> DataFrame:
    """Attach a deterministic binary media payload per row (test/bench
    fixture generator — production payloads come from the lake)."""
    src = df.select(F.col(id_col).cast("long").alias("doc_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pdf["doc_id"].map(lambda i: _synth_one(int(i))),
                }
            )

    return src.mapInPandas(gen, _PAYLOAD_SCHEMA)


def _decode_one(payload: bytes) -> dict:
    """Real decode of PPM (P6) / PCM WAV byte payloads via numpy."""
    import numpy as np

    if payload[:2] == b"P6":
        # header: "P6\n<w> <h>\n<maxval>\n" then raw RGB
        nl = payload.index(b"\n", 3)
        w, h = (int(x) for x in payload[3:nl].split())
        nl2 = payload.index(b"\n", nl + 1)  # maxval line
        pix = np.frombuffer(payload, dtype=np.uint8, offset=nl2 + 1)
        n = int(w) * int(h)
        total = int(pix.astype(np.int64).sum())
        return {
            "kind": "image",
            "width": w,
            "height": h,
            "sample_rate": None,
            "n_units": n,
            "mean_level": total / len(pix),
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        sr = int.from_bytes(payload[24:28], "little")
        data_len = int.from_bytes(payload[40:44], "little")
        samples = np.frombuffer(payload, dtype="<i2", offset=44, count=data_len // 2)
        n = len(samples)
        mean_abs = int(np.abs(samples.astype(np.int64)).sum()) / max(n, 1)
        return {
            "kind": "audio",
            "width": None,
            "height": None,
            "sample_rate": sr,
            "n_units": n,
            "mean_level": mean_abs,
        }
    d = _decode_stub(payload)  # unknown container: stub features
    return {
        "kind": "unknown",
        "width": d["fake_width"],
        "height": d["fake_height"],
        "sample_rate": None,
        "n_units": d["n_bytes"],
        "mean_level": d["channel_mean"] or 0.0,
    }


def decode_media(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """Decode binary media payloads to typed features (Arrow-batched
    ``mapInPandas``; real pixel/sample arithmetic for PPM/WAV)."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_one(bytes(b)) for b in pdf["payload"]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out["width"] = out["width"].astype("Int32")
            out["height"] = out["height"].astype("Int32")
            out["sample_rate"] = out["sample_rate"].astype("Int32")
            out["n_units"] = out["n_units"].astype("int64")
            yield out

    return src.mapInPandas(extract, MEDIA_SCHEMA)
