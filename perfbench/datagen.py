"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed writes
the same rows. Change feeds come from the engine's own
``synth_change_feed``; the wide-target snapshot uses the same key
format (``repo_NNNN`` / ``src/file_<i>.<lang>``) so feed events land on
snapshot keys.
"""

from __future__ import annotations


LANGS = ["py", "rs", "go", "ts", "java", "c"]


def key_space(n_repos: int, paths_per_repo: int) -> list[tuple[str, str]]:
    """Every (repo, path) key ``synth_change_feed`` can emit."""
    return [(f"repo_{r:04d}", f"src/file_{p}.{LANGS[p % len(LANGS)]}")
            for r in range(n_repos) for p in range(paths_per_repo)]


def key_space_snapshot(spark, n_repos: int, paths_per_repo: int, seed: int):
    """A key-unique table snapshot (repo, path, commit, lang, content)
    covering every key ``synth_change_feed(n_repos, paths_per_repo)``
    can emit."""
    from pyspark.sql import functions as F

    n = n_repos * paths_per_repo
    rid = F.col("id") % n_repos
    pid = (F.col("id") / n_repos).cast("long")
    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]), (F.pmod(pid, F.lit(len(LANGS))) + 1).cast("int")
    )
    words = F.concat_ws(
        " ", *[F.sha2(F.concat(F.col("id").cast("string"), F.lit(f"{seed}:{i}")), 256) for i in range(3)]
    )
    return spark.range(0, n, 1, 4).select(
        F.concat(F.lit("repo_"), F.lpad(rid.cast("string"), 4, "0")).alias("repo"),
        F.concat(F.lit("src/file_"), pid.cast("string"), F.lit("."), lang).alias("path"),
        F.substring(F.sha2(F.concat(F.col("id").cast("string"), F.lit(seed)), 256), 1, 12).alias("commit"),
        lang.alias("lang"),
        words.alias("content"),
    )


def dim_for(snapshot):
    """The join view's dimension: one row per repo."""
    from pyspark.sql import functions as F

    return (
        snapshot.select("repo").distinct()
        .withColumn("owner", F.concat(F.lit("team_"), F.substring("repo", -2, 2)))
        .withColumn("tier", (F.xxhash64("repo") % 3).cast("long"))
    )


def write_feed_chunks(feed, out_dir: str, n_events: int, n_chunks: int, lsn0: int = 0,
                      files_per_chunk: int | None = None):
    """Write a feed whose LSNs are ``lsn0 .. lsn0 + n_events - 1`` as
    ``n_chunks`` equal LSN ranges under ``out_dir/chunk=<i>``, in one
    pass. ``files_per_chunk`` caps the file count per chunk. Returns
    the event count of each chunk."""
    from pyspark.sql import functions as F

    span = n_events // n_chunks
    chunk = F.least(((F.col("lsn") - lsn0) / span).cast("int"), F.lit(n_chunks - 1))
    out = feed.withColumn("chunk", chunk)
    if files_per_chunk:
        out = out.repartition(n_chunks * files_per_chunk, "chunk", F.col("lsn") % files_per_chunk)
    out.write.partitionBy("chunk").parquet(out_dir)
    return [span] * (n_chunks - 1) + [n_events - span * (n_chunks - 1)]
