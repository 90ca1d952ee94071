"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact top-k cosine for a (small, broadcast)
  query set against the full corpus — the correctness baseline. The
  corpus side never shuffles: queries broadcast, per-partition scoring,
  then a single top-k aggregation on (query, score).
- ``ivf_topk``: IVF-style scale path — corpus pre-partitioned into
  centroid cells (deterministic seeded centroids), queries probe the
  nearest ``n_probe`` cells only.

Scores use quantized integer dot products (functions/vectors.py) so
results are bit-deterministic across engines — required by the DuckDB
value-hash gate and good practice anyway (flaky float ordering breaks
replay-idempotency at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.functions.vectors import (
    portable_sign,
    quantize_vector,
    quantized_cosine,
)
from data_ingestion_resolution_platform_spark.sources.lake import (
    DELETE_COL,
    is_positive,
    is_retraction,
)


def _cell_salt(cell: int, seed: int) -> int:
    return cell * 1_000_003 + seed * 7_919


def _centroid_term(cell: int, seed: int, portable: bool = False):
    """±1 pseudo-random centroid component product term (x * sign).

    ``portable`` swaps xxhash64 for integer mixing so a DuckDB oracle
    can rebuild the identical codebook (functions/vectors.portable_sign).
    """
    if portable:
        return lambda x, i: x * portable_sign(i, _cell_salt(cell, seed))
    return lambda x, i: x * F.when(
        F.pmod(F.xxhash64(i, F.lit(cell), F.lit(seed)), F.lit(2)) == 0, F.lit(1)
    ).otherwise(F.lit(-1))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, score).

    Queries are broadcast (small side); ranking ties broken by
    neighbor id so output is fully deterministic.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantize_vector(F.col(vec_col)).alias("cq")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize_vector(F.col(vec_col)).alias("qq")
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        quantized_cosine(F.col("qq"), F.col("cq")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round(F.col("score"), 6).alias("score"))
    )


def assign_cells(
    df: DataFrame, vec_col: str, n_cells: int = 16, seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """IVF cell assignment with deterministic pseudo-random ±1 centroids.

    cell = argmax over centroids of dot(v, centroid_c); centroid
    component (c, dim) = ±1 by hash — a seeded random projection
    codebook requiring no training pass (LSH-flavored IVF).
    """
    # argmax via array_max over (dot, cell) structs: linear expression
    # size (a nested when/otherwise chain grows exponentially and blows
    # up the analyzer at n_cells=16).
    q = df.withColumn("__qv", quantize_vector(F.col(vec_col)))
    dots = []
    for cell in range(n_cells):
        dot = F.aggregate(
            F.zip_with(
                F.col("__qv"),
                F.sequence(F.lit(0), F.size(F.col("__qv")) - 1),
                _centroid_term(cell, seed, portable),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        dots.append(F.struct(dot.alias("dot"), F.lit(cell).alias("cell")))
    best = F.array_max(F.array(*dots))
    return q.withColumn("cell", best["cell"]).drop("__qv")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Approximate top-k: probe only the query's nearest cells.

    At 100 TB the corpus is written partitioned by ``cell`` so a probe
    is a partition-pruned scan; here the same plan shape is an equi-join
    on the cell id.
    """
    idx = ivf_index(corpus, vec_col, id_col, n_cells, seed, portable)
    q_exploded = query_probe_cells(
        queries, vec_col, id_col, n_cells, n_probe, seed, portable
    )
    return ivf_probe(idx, q_exploded, k)


def ivf_index(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """The persisted IVF artifact: ``(neighbor_id, cq, cell)``.

    MERGE it on :data:`IVF_KEYS` into a ``PartitionedLakeTable``
    bucketed on ``cell`` — probes then scan only the files that can
    hold a probed cell (see ``q_ann_ivf_persisted``), and
    :func:`maintain_ivf_index` keeps it fresh."""
    return (
        assign_cells(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
            vec_col, n_cells, seed, portable,
        )
        .withColumn("cq", quantize_vector(F.col(vec_col)))
        .select("neighbor_id", "cq", "cell")
    )


def query_probe_cells(
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Per query: rank all cells by centroid dot, keep the top
    ``n_probe`` ⇒ exploded (query_id, qq, cell) probe frame."""
    qbase = queries.select(
        F.col(id_col).alias("query_id"), quantize_vector(F.col(vec_col)).alias("qq")
    )
    dots = []
    for cell in range(n_cells):
        dot = F.aggregate(
            F.zip_with(
                F.col("qq"),
                F.sequence(F.lit(0), F.size(F.col("qq")) - 1),
                _centroid_term(cell, seed, portable),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        dots.append(F.struct(dot.alias("dot"), F.lit(cell).alias("cell")))
    probes = F.slice(F.reverse(F.array_sort(F.array(*dots))), 1, n_probe)
    q = qbase.withColumn("probe_cells", F.transform(probes, lambda s: s["cell"]))
    return q.select("query_id", "qq", F.explode("probe_cells").alias("cell"))


def ivf_kmeans_index(
    corpus: DataFrame,
    cents: dict[int, list[int]],
    vec_col: str,
    id_col: str,
    n_cells: int,
) -> DataFrame:
    """IVF index over a TRAINED k-means codebook (operators/kmeans.py)
    instead of seeded random hyperplanes: cells follow the data's
    actual cluster structure, which buys ~1.3× recall at equal
    n_probe (measured 0.60 vs 0.45 recall@10, 16 cells / 4 probes,
    sf0.01). Same artifact shape and cell-bucketed layout as
    :func:`ivf_index`."""
    from data_ingestion_resolution_platform_spark.operators.kmeans import _pick_assign

    q = corpus.select(
        F.col(id_col).alias("__vid"),
        quantize_vector(F.col(vec_col)).alias("__qv"),
    )
    # same auto backend rule as kmeans assignment: vectorized numpy
    # above the tiny-codebook bound (codegen compile of k·dim literal
    # expressions never pays for itself — measured in kmeans.py)
    enc = _pick_assign(cents, n_cells, "auto")(q, cents, n_cells)
    return enc.select(
        F.col("__vid").alias("neighbor_id"),
        F.col("__qv").alias("cq"),
        F.pmod(F.col("__enc"), F.lit(n_cells)).cast("int").alias("cell"),
    )


def kmeans_probe_cells(
    queries: DataFrame,
    cents: dict[int, list[int]],
    vec_col: str,
    id_col: str,
    n_cells: int,
    n_probe: int = 4,
) -> DataFrame:
    """Per query: the ``n_probe`` nearest codebook cells by exact
    quantized distance (ties to the smaller cell id via the dist·k + j
    encoding) ⇒ exploded (query_id, qq, cell) probe frame. Backend
    follows the kmeans auto rule: literal expressions only for tiny
    codebooks, vectorized numpy above (identical integer encoding)."""
    from data_ingestion_resolution_platform_spark.operators.kmeans import (
        EXPR_AUTO_LIMIT,
        enc_terms,
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_vector(F.col(vec_col)).alias("qq"),
    )
    dim = len(next(iter(cents.values())))
    if n_cells * dim > EXPR_AUTO_LIMIT:
        return _probe_cells_pandas(q, cents, n_cells, n_probe)
    arr = F.array_sort(F.array(*enc_terms(cents, n_cells, col="qq")))
    cells = F.transform(
        F.slice(arr, 1, n_probe), lambda x: F.pmod(x, F.lit(n_cells)).cast("int")
    )
    return q.select("query_id", "qq", F.explode(cells).alias("cell"))


def _probe_cells_pandas(q: DataFrame, cents: dict[int, list[int]], k: int, n_probe: int) -> DataFrame:
    """Arrow variant of the probe-cell ranking: one matmul per record
    batch against the closure-broadcast codebook, rows exploded to the
    ``n_probe`` smallest enc = dist·k + j (numpy ``%`` matches pmod —
    sign of the divisor — so the emitted cells are bit-identical to the
    expression path's)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    ids = sorted(cents)
    cmat = np.array([cents[j] for j in ids], dtype=np.int64)
    cc = (cmat * cmat).sum(axis=1)
    jarr = np.array(ids, dtype=np.int64)
    # a fresh StructType — StructType.add would mutate q.schema in place
    schema = StructType(list(q.schema.fields) + [StructField("cell", IntegerType())])

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vmat = np.array(pdf["qq"].tolist(), dtype=np.int64)
            qq = (vmat * vmat).sum(axis=1)
            enc = (qq[:, None] - 2 * (vmat @ cmat.T) + cc[None, :]) * k + jarr[None, :]
            take = min(n_probe, enc.shape[1])
            cells = (np.sort(enc, axis=1)[:, :take] % k).astype("int32")
            out = pdf.loc[pdf.index.repeat(take)].reset_index(drop=True)
            out["cell"] = cells.reshape(-1)
            yield out

    return q.mapInPandas(fn, schema)


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    assign_mode: str = "auto",
) -> DataFrame:
    """IVF ANN with a k-means-trained codebook: train (bounded k×dim
    driver state), index map-only, probe = equi-join on cell (or a
    cell-pruned ``scan`` when the index is persisted, bucketed by cell)."""
    from data_ingestion_resolution_platform_spark.operators.kmeans import kmeans_fit

    cents = kmeans_fit(
        corpus, vec_col, id_col, k=n_cells, iters=iters, assign_mode=assign_mode
    )
    idx = ivf_kmeans_index(corpus, cents, vec_col, id_col, n_cells)
    probes = kmeans_probe_cells(queries, cents, vec_col, id_col, n_cells, n_probe)
    return ivf_probe(idx, probes, k)


#: The persisted IVF index's MERGE key: an id lives in exactly one
#: cell, and keying on the cell too lets a retraction name the cell
#: (and so the bucket of a cell-bucketed table) its stale row sits in.
IVF_KEYS = ("neighbor_id", "cell")


def maintain_ivf_index(
    index,
    changes: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    seed: int = 42,
    portable: bool = False,
    cents: dict[int, list[int]] | None = None,
    epoch_id: str | int | None = None,
) -> dict:
    """Advance a persisted IVF index from one invertible change-feed
    epoch on the embedding corpus, exactly-once — the similarity-search
    twin of ``operators/dedup_incremental``: the index is never rebuilt
    per ingest batch; only the epoch's vectors are (re)assigned to
    cells and MERGEd in, keyed on :data:`IVF_KEYS`.

    - insert / update_postimage → assign the NEW vector to its cell
      (O(|Δ|) scoring against the codebook — seeded hyperplanes by
      default, or a trained k-means codebook via ``cents``) and upsert
      ``(neighbor_id, cq, cell)``;
    - delete / update_preimage → assign the OLD vector to its cell and
      delete that ``(neighbor_id, cell)`` row. Cell assignment is a pure
      function of (vector, codebook), so the before-image locates the
      stale row without any id → cell lookup; a retraction whose
      ``(neighbor_id, cell)`` the epoch also upserts (an update that
      stays in its cell) is dropped, keeping the batch key-unique.

    ``index`` is any table on the module-wide MERGE contract
    (``sources/lake``). ``PartitionedLakeTable(bucket_keys=["cell"],
    n_buckets=n_cells)`` is the cell-pruned layout: an epoch rewrites
    only the buckets holding its cells, and a probe
    ``scan([("cell", "in", cells)])`` opens only the files whose cell
    range can hold a probed cell.

    The codebook (``n_cells``/``seed``/``cents``) must be the one the
    index was built with, so maintained-by-delta equals rebuilt-from-
    scratch exactly (the ``ann_ivf_incremental`` oracle). Feed
    contract: one change per id per epoch (a ``snapshot_diff`` /
    ``changelog`` epoch with pre-images). Retraining the codebook is a
    separate offline concern (stale centroids degrade recall, never
    correctness, since probes rank cells with the index's codebook).
    """

    def assign(images: DataFrame) -> DataFrame:
        src = images.select(F.col(id_col).alias("__mid"), F.col(vec_col))
        if cents is not None:
            return ivf_kmeans_index(src, cents, vec_col, "__mid", n_cells)
        return ivf_index(src, vec_col, "__mid", n_cells, seed, portable)

    keys = list(IVF_KEYS)
    up = assign(changes.filter(is_positive()))
    stale = assign(changes.filter(is_retraction())).join(
        up.select(*keys), on=keys, how="left_anti"
    )
    batch = up.withColumn(DELETE_COL, F.lit(False)).unionByName(
        stale.withColumn(DELETE_COL, F.lit(True))
    )
    return index.merge(batch, keys, epoch_id=epoch_id)


def ivf_probe(index: DataFrame, q_exploded: DataFrame, k: int = 10) -> DataFrame:
    """Score an (already cell-filtered) index slice against the
    broadcast probe frame; exact cosine within probed cells."""
    scored = index.join(F.broadcast(q_exploded), on="cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            quantized_cosine(F.col("qq"), F.col("cq")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round(F.col("score"), 6).alias("score"))
    )
