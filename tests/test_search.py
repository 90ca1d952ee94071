"""Inverted-index / BM25 / vocabulary retrieval (operators/search.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.search import (
    BM25_B,
    BM25_K1,
    bm25_topk,
    doc_lengths,
    postings,
    vocab_topk,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark merge batch merge"),
        (2, "spark window window window query"),
        (3, "batch batch batch merge spark"),
        (4, "unrelated words only here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_postings_tf(corpus):
    p = {(r.term, r.doc_id): r.tf for r in postings(corpus).collect()}
    assert p[("merge", 1)] == 2
    assert p[("window", 2)] == 3
    assert p[("spark", 3)] == 1
    assert ("spark", 4) not in p


def test_doc_lengths_no_shuffle(corpus):
    dl = {r.doc_id: r.dl for r in doc_lengths(corpus).collect()}
    assert dl == {1: 4, 2: 5, 3: 5, 4: 4}
    plan = doc_lengths(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bm25_matches_hand_formula(corpus):
    out = bm25_topk(corpus, [(0, "merge spark")], k=4).collect()
    got = {r.doc_id: (r.rank, r.score) for r in out}
    assert 4 not in got  # no query term
    # hand-compute for doc 1: merge tf=2 df=2, spark tf=1 df=3, N=4
    dl, avgdl = 4, (4 + 5 + 5 + 4) / 4.0
    k1, b = BM25_K1, BM25_B

    def term(tf, df):
        idf = math.log(1 + (4 - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    expect = round(term(2, 2) + term(1, 3), 4)
    assert got[1][1] == pytest.approx(expect, abs=1e-4)
    # ranks are 1..3, unique, ordered by score desc then doc_id
    ranks = sorted(r.rank for r in out)
    assert ranks == [1, 2, 3]
    by_rank = sorted(out, key=lambda r: r.rank)
    scores = [r.score for r in by_rank]
    assert scores == sorted(scores, reverse=True)


def test_bm25_broadcasts_query_side(corpus):
    df = bm25_topk(corpus, [(0, "spark")], k=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_vocab_topk_counts(corpus):
    out = vocab_topk(corpus, k=3).collect()
    # cf: batch=4; merge=spark=window=3 → tie broken by term asc
    assert [r.term for r in out] == ["batch", "merge", "spark"]
    top = {r.term: (r.rank, r.cf, r.df) for r in out}
    assert top["batch"] == (1, 4, 2)
    assert top["merge"] == (2, 3, 2)
    assert top["spark"] == (3, 3, 3)


def test_vocab_topk_rank_equals_window_rank(spark, corpus):
    """The rank read off the sorted top-k equals the unpartitioned
    ``row_number`` window it replaced, ties at the cut included, and no
    window is planned."""
    from pyspark.sql import Window

    agg = postings(corpus).groupBy("term").agg(
        F.sum("tf").alias("cf"), F.count("*").alias("df")
    )
    order = [F.col("cf").desc(), F.col("term").asc()]
    for k in (1, 2, 3, 5, 50):
        got = vocab_topk(corpus, k=k)
        assert "Window" not in got._jdf.queryExecution().executedPlan().toString()
        want = (
            agg.orderBy(*order)
            .limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
            .select("rank", "term", "cf", "df")
        )
        assert [tuple(r) for r in got.collect()] == sorted(tuple(r) for r in want.collect())
    assert vocab_topk(corpus.limit(0), k=3).collect() == []
