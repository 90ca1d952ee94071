"""Dedup family + similarity search semantics (pipeline operators)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.dedup import (
    dedup_exact,
    dedup_exact_keep,
    minhash_candidates,
    ngram_jaccard,
    simhash_near_dups,
)
from data_ingestion_resolution_platform_spark.operators.similarity import brute_force_topk, ivf_topk
from data_ingestion_resolution_platform_spark.operators.skew import salted_latest
from data_ingestion_resolution_platform_spark.operators.cdc import resolve_latest
from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed

DOC_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat today"),  # near dup of 1
    (4, "completely different words about spark shuffles and joins here"),
    (5, "another unrelated document mentioning parquet files and columns"),
]


def docs(spark):
    return spark.createDataFrame(DOC_ROWS, "doc_id long, text string")


def test_dedup_exact_groups(spark):
    out = {r["keep_id"]: r["n_copies"] for r in dedup_exact(docs(spark), "text", "doc_id").collect()}
    assert out[1] == 2  # docs 1,2 identical, keeper = min id
    survivors = {r["doc_id"] for r in dedup_exact_keep(docs(spark), "text", "doc_id").collect()}
    assert survivors == {1, 3, 4, 5}


def test_minhash_finds_near_dup(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_candidates(docs(spark), "text", "doc_id", k_shingle=3).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup shares most shingles
    assert (4, 5) not in pairs


def test_ngram_jaccard_scores(spark):
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard(docs(spark), "text", "doc_id", threshold=0.5).collect()}
    assert out[(1, 2)] == 1.0
    assert 0.5 <= out[(1, 3)] < 1.0


def test_simhash_near_dups(spark):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dups(docs(spark), "text", "doc_id", max_hamming=16).collect()}
    assert pairs.get((1, 2)) == 0  # identical ⇒ same simhash


def test_brute_force_topk_exact(spark):
    import math

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((4, [1.0, 0.1, 0.0, 0.0]))  # close to vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), "embedding", "vec_id", k=2).collect()
    assert [r["neighbor_id"] for r in out] == [4, 1]
    expected = 1000000.0 / math.sqrt(1000000.0 * (1000000.0 + 10000.0))
    assert abs(out[0]["score"] - round(expected, 6)) < 1e-9


def test_ivf_recall_against_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    bf = brute_force_topk(emb, queries, "embedding", "vec_id", k=10)
    ivf = ivf_topk(emb, queries, "embedding", "vec_id", k=10, n_cells=8, n_probe=4)
    bf_set = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    ivf_set = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.5  # approximate path trades recall for pruning


def test_salted_latest_matches_unsalted(spark):
    feed = synth_change_feed(spark, 2000, n_repos=5, skew=4.0, seed=13)
    a = sorted(map(tuple, salted_latest(feed, ["repo", "path"], "lsn", n_salt=8).collect()))
    b = sorted(map(tuple, resolve_latest(feed, ["repo", "path"], "lsn").collect()))
    assert a == b
