"""Text-analysis functions + multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.functions.text import (
    detect_language,
    doc_fingerprint_portable,
    quality_score,
    token_count,
)
from data_ingestion_resolution_platform_spark.operators.multimodal import multimodal_features


def test_detect_language(spark):
    rows = [
        (1, "the cat and the dog of a to"),
        (2, "der Hund und die Katze ist"),
        (3, "le chat et la maison les des"),
        (4, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["lang"] for r in df.select("id", detect_language(F.col("text")).alias("lang")).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello world, 42 times!")], "id long, text string")
    row = df.select(
        token_count(F.col("text"), "whitespace").alias("ws"),
        token_count(F.col("text"), "bpe").alias("bpe"),
    ).first()
    assert row["ws"] == 4
    # hello | world | , | 42 | times | !
    assert row["bpe"] == 6


def test_quality_score_orders_sensibly(spark):
    rows = [
        (1, "The cat sat on the mat and it was a good day in the sun."),
        (2, "@@@ ### !!! $$$ %%% ^^^"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["q"] for r in df.select("id", quality_score(F.col("text")).alias("q")).collect()}
    assert out[1] > out[2]
    assert 0.0 <= out[2] <= out[1] <= 1.0


def test_fingerprints_deterministic_and_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "c b a")], "id long, text string"
    )
    out = {
        r["id"]: r["fp"]
        for r in df.select("id", doc_fingerprint_portable(F.col("text")).alias("fp")).collect()
    }
    assert out[1] == out[2]
    assert out[1] != out[3]  # rolling hash is order-sensitive


def test_multimodal_features_contract(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG-fake-image-bytes")), (2, bytearray(b""))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in multimodal_features(df, "payload", "doc_id").collect()}
    assert out[1]["n_bytes"] == 21
    assert out[1]["header_hex"] == b"\x89PNG"[:4].hex()
    assert out[1]["fake_width"] == 16 + 21 % 64
    assert out[2]["n_bytes"] == 0
    assert out[2]["header_hex"] is None


def test_decode_media_ppm_wav_roundtrip(spark):
    """Real decode: synthesized PPM/WAV payloads decode to exactly the
    features the generator arithmetic predicts."""
    from data_ingestion_resolution_platform_spark.operators.multimodal import (
        decode_media,
        synth_media_payloads,
    )

    df = spark.createDataFrame([(10,), (11,), (496,)], "doc_id long")
    payloads = synth_media_payloads(df, "doc_id")
    out = {r.doc_id: r for r in decode_media(payloads, "payload", "doc_id").collect()}

    img = out[10]  # even -> PPM: w=8+10%9=9, h=8+10%7=11
    assert (img.kind, img.width, img.height, img.n_units) == ("image", 9, 11, 99)
    exp_mean = sum((10 * 31 + i) % 256 for i in range(3 * 9 * 11)) / (3 * 9 * 11)
    assert abs(img.mean_level - exp_mean) < 1e-12
    assert img.sample_rate is None

    aud = out[11]  # odd -> WAV: sr=8000+(11%5)*1000, n=64+11%50
    assert (aud.kind, aud.sample_rate, aud.n_units) == ("audio", 9000, 75)
    exp_abs = sum(abs((11 * 7 + 13 * j) % 2048 - 1024) for j in range(75)) / 75
    assert abs(aud.mean_level - exp_abs) < 1e-12
    assert aud.width is None and aud.height is None


def test_decode_media_unknown_container_falls_back(spark):
    from data_ingestion_resolution_platform_spark.operators.multimodal import decode_media

    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG-not-decodable-here"))], "doc_id long, payload binary"
    )
    row = decode_media(df, "payload", "doc_id").first()
    assert row.kind == "unknown"
    assert row.n_units == 23  # stub reports byte count
