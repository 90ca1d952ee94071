#!/usr/bin/env python3
"""Benchmark harness.

Default mode: runs the headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line::

    {"metric": "cdc_merge_apply_events_per_sec", "value": N,
     "unit": "events/sec", "queries": {...per-query seconds...},
     "sf": "...", "cdc": {...}}

The headline metric is the BASELINE.json target: sustained
change-events/sec of MERGE-apply over the source-code change feed
(synthesized deterministically at a size proportional to the rest of
the benchmark's scale).

``--scaling`` mode: re-runs the CDC replay at two parallelism levels
(N and 4N cores) in fresh subprocesses (a JVM fixes its core count at
startup) and reports throughput at both + scaling efficiency — the
sandbox evidence for the north rule's two-cluster-size criterion
(see BASELINE.md).

The other modes (``MODES`` below) each print one JSON document; the
``--*-growth`` corpus sweeps share one loop, :func:`growth_sweep`.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from functools import partial

# timed maintain reps (replica sweeps) / timed epochs (graph + rescan
# sweeps) per size
GROWTH_REPS = 3


def _sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)


def _feed_events() -> int:
    # ~10x lineitem rows at the given sf: 600k rows at sf0.1 → 6M events
    override = os.environ.get("SPARK_GRAFT_FEED_EVENTS")
    if override:
        return int(override)
    sf = _sf_dir().rstrip("/").rsplit("sf", 1)[-1]
    try:
        return max(100_000, int(float(sf) * 60_000_000))
    except ValueError:
        return 1_000_000


def _median(xs, key=None):
    """Upper median: the middle element, the higher one of an even count."""
    return sorted(xs, key=key)[len(xs) // 2]


def _timed(call):
    """``(call(), wall seconds rounded to ms)``."""
    t0 = time.monotonic()
    result = call()
    return result, round(time.monotonic() - t0, 3)


@contextmanager
def _bench_dir(prefix: str):
    """A fresh warehouse dir, removed on exit.

    SPARK_GRAFT_BENCH_DIR=/dev/shm puts it on tmpfs: on a real cluster
    every node contributes disks/object-store bandwidth, so a single
    shared VM disk understates scaling; tmpfs models per-node storage
    whose bandwidth scales with cores."""
    wh = tempfile.mkdtemp(prefix=prefix, dir=os.environ.get("SPARK_GRAFT_BENCH_DIR") or None)
    try:
        yield wh
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def _replicas(family: str, default: str) -> list[int]:
    return [int(x) for x in os.environ.get(f"SPARK_GRAFT_{family}_REPLICAS", default).split(",")]


def _replicate(df, k_rep: int):
    """``df`` ×k_rep, each copy tagged with its replica index ``r``."""
    from pyspark.sql import functions as F

    return df.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(k_rep - 1))))


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def run_cdc_replay(parallelism: int, n_events: int) -> dict:
    """The target metric: events/sec of feed→resolve→MERGE apply.

    Measurement protocol (round-1 lesson: a cold single run undershoots
    the steady state by up to 1.7x and the headline must be what a cold
    ``python bench.py`` reproduces):
    - feed materialized to parquet first (synthesis excluded),
    - one small warmup replay on a throwaway warehouse (JVM/codegen/
      shuffle-service warmup excluded from the timed window): a
      ~100k-event subset of the feed, materialized the same way and
      spanning the same LSN range, replayed in the same number of
      epochs. Its epochs then plan the timed epochs' shapes with the
      same literals — the first on an empty target, the later ones on
      a populated one. (A 1-epoch ``limit`` warm-up changed every scan
      stage's plan shape and left ~80 compiles per timed rep.) What a
      timed rep still compiles is size-dependent: at 6M events AQE
      plans a join of the feed-scan stages as a shuffle where the
      warm-up's 100k events broadcast it, so those scan + LSN-filter
      stages fuse differently and get new codegen stage ids (~19
      classes per rep; none at 1M events),
    - ``$SPARK_GRAFT_CDC_REPS`` timed replays on fresh warehouses with
      an os.sync between them (async writeback of a prior rep otherwise
      poisons the next),
    - report the MEDIAN rep.

    ``codegen_compiles_per_rep`` counts, per timed rep in run order, the
    classes Janino compiled during it: the misses of the generated-code
    cache (``session.py``), so a cache regression shows up here.
    """
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.session import codegen_compiles, get_spark
    from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
    from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

    epochs = int(os.environ.get("SPARK_GRAFT_EPOCHS", "4"))
    reps = int(os.environ.get("SPARK_GRAFT_CDC_REPS", "3"))
    spark = get_spark("bench_cdc", parallelism=parallelism)
    with _bench_dir("bench_wh_") as base:
        feed = synth_change_feed(
            spark, n_events, n_repos=max(100, n_events // 10_000), skew=2.0, seed=42,
            partitions=parallelism * 2,
            content_words=int(os.environ.get("SPARK_GRAFT_CONTENT_WORDS", "30")),
        )
        # materialize the feed first so we measure MERGE-apply, not synthesis
        feed_dir = os.path.join(base, "feed")
        feed.write.mode("overwrite").parquet(feed_dir)
        feed_df = spark.read.parquet(feed_dir)
        warm = CDCPipeline(spark, feed_dir="unused", warehouse=os.path.join(base, "warm"))
        stride = max(1, n_events // 100_000)
        warm_dir = os.path.join(base, "warm_feed")
        feed_df.filter(
            (F.col("lsn") % stride == 0) | (F.col("lsn") == n_events - 1)
        ).write.parquet(warm_dir)
        warm.replay_bounded(spark.read.parquet(warm_dir), epochs=epochs)
        runs = []
        for rep in range(reps):
            wh = os.path.join(base, f"wh{rep}")
            pipe = CDCPipeline(spark, feed_dir="unused", warehouse=wh)
            os.sync()  # drain dirty pages so timing is apply-only
            compiles0 = codegen_compiles(spark)
            epoch_stats, elapsed = _timed(lambda: pipe.replay_bounded(feed_df, epochs=epochs))
            compiles = codegen_compiles(spark) - compiles0
            n_final = pipe.target.read().count()
            phases: dict[str, float] = {}
            for st in epoch_stats:
                for k, v in st.get("phase_seconds", {}).items():
                    phases[k] = round(phases.get(k, 0.0) + v, 3)
            runs.append((elapsed, n_final, phases, compiles))
            shutil.rmtree(wh, ignore_errors=True)
        elapsed, n_final, phases, _ = _median(runs, key=lambda r: r[0])
        return {
            "parallelism": parallelism,
            "events": n_events,
            "epochs": epochs,
            "reps": reps,
            "seconds": elapsed,
            "seconds_all_reps": sorted(r[0] for r in runs),
            "phase_seconds": phases,
            "codegen_compiles_per_rep": [r[3] for r in runs],
            "events_per_sec": round(n_events / elapsed, 1),
            "final_rows": n_final,
        }


def run_resolve_core(parallelism: int, n_events: int) -> dict:
    """Disk-free scaling probe: the fused resolve+detect aggregation
    (the engine's compute core) over an in-memory synthesized feed.

    The end-to-end replay on this sandbox shares ONE local disk across
    both parallelism levels, so its wall time is latency/IO-bound and
    cannot exhibit executor scaling; on a real cluster each node brings
    its own disks + object-store bandwidth. This probe isolates the
    part whose cost DOES scale with executor count.
    """
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.functions.hashing import content_sha256
    from data_ingestion_resolution_platform_spark.operators.cdc import resolve_and_detect
    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed

    spark = get_spark("bench_core", parallelism=parallelism)
    feed = synth_change_feed(
        spark, n_events, n_repos=max(100, n_events // 10_000), skew=2.0, seed=42,
        partitions=parallelism * 2,
        content_words=int(os.environ.get("SPARK_GRAFT_CONTENT_WORDS", "150")),
    )
    sig = F.struct(F.col("lang"), content_sha256(F.col("content")).alias("sha"))

    def run(df):
        r = resolve_and_detect(
            df, ["repo", "path"], sig, "lsn",
            candidate_cols=["commit", "lang"], max_candidates=10,
            wide_cols=["content"],
        )
        n = r.winners.count()
        r.unpersist()
        return n

    run(feed.limit(10_000))  # codegen/JIT warmup outside the timed window
    n_win, elapsed = _timed(lambda: run(feed))
    return {
        "parallelism": parallelism,
        "events": n_events,
        "seconds": elapsed,
        "events_per_sec": round(n_events / elapsed, 1),
        "winners": n_win,
    }


def run_growth_sweep(spark, make_table) -> dict:
    """Target-growth sweep: does per-epoch MERGE cost track the TOUCHED
    set or the TOTAL target size?

    Phase 1 grows the target with insert epochs (fresh repos each).
    Phase 2 times single-repo update epochs against the grown target —
    the canonical CDC shape (a micro-batch touches few repos out of
    many). ``make_table(root)`` picks the layout (see :func:`run_growth`).
    A ``MorLakeTable`` target also times ONE compaction at the end of the
    growth phase and the read-back after the updates, because MoR's
    bargain is cheap ingest for a reconcile-at-read cost.
    """
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.sources.lake import MorLakeTable

    rows_per_epoch = int(os.environ.get("SPARK_GRAFT_GROWTH_ROWS", "400000"))
    repos_per_epoch = 16
    grow_epochs = int(os.environ.get("SPARK_GRAFT_GROWTH_EPOCHS", "14"))
    update_epochs = 4

    # incompressible ~192 B contents (sha256 hex x3): parquet/snappy
    # cannot shrink them, so staged-byte measurements track real data
    def batch(epoch: int, repo_lo: int, n_repos: int, n_rows: int, update: bool):
        sha = F.sha2((F.col("id") + epoch * 10_000_000).cast("string"), 256)
        return spark.range(n_rows).select(
            (F.col("id") + epoch * 10_000_000).alias("lsn"),
            F.lit("U" if update else "I").alias("op"),
            F.concat(
                F.lit("repo_"), (repo_lo + F.pmod(F.col("id"), F.lit(n_repos))).cast("string")
            ).alias("repo"),
            F.concat(F.lit("src/f"), F.pmod(F.col("id"), F.lit(n_rows)).cast("string"), F.lit(".py")).alias("path"),
            F.concat(sha, sha, sha).alias("content"),
        )

    def timed_merge(epoch: int, *args):
        return _timed(lambda: tbl.merge(batch(epoch, *args), ["repo", "path"], epoch_id=epoch))[1]

    with _bench_dir("bench_growth_") as wh:
        # untimed warm-up on a throwaway table of the same layout (as
        # --qsample-growth): JIT + codegen otherwise land on
        # grow_epoch_secs[0] (32-vCPU adaptive read 12.7 s then 5.8 s)
        warm = make_table(os.path.join(wh, "warm"))
        warm.merge(batch(0, 0, repos_per_epoch, 10_000, False), ["repo", "path"], epoch_id=0)
        warm.merge(batch(100, 0, 1, 5000, True), ["repo", "path"], epoch_id=100)
        tbl = make_table(os.path.join(wh, "t"))
        mor = isinstance(tbl, MorLakeTable)
        out: dict = {"rows_per_epoch": rows_per_epoch, "grow_epoch_secs": []}
        buckets = []
        for e in range(grow_epochs):
            out["grow_epoch_secs"].append(
                timed_merge(e, e * repos_per_epoch, repos_per_epoch, rows_per_epoch, False)
            )
            if not mor:
                buckets.append(tbl.n_live_buckets())
        if mor:
            out["compact_sec"] = _timed(tbl.compact)[1]
        out["final_rows"] = tbl.read().count()
        # single-repo micro-batches against the grown target: the
        # canonical CDC update shape. Cost should track ONE bucket's
        # bytes, not the target's.
        out["single_repo_update_secs"] = [
            timed_merge(100 + e, e * repos_per_epoch, 1, 5000, True)
            for e in range(update_epochs)
        ]
        if mor:
            out["read_with_4_deltas_sec"] = _timed(lambda: tbl.read().count())[1]
        else:
            out["final_buckets"] = tbl.n_live_buckets()
            out["buckets_per_epoch"] = buckets
        return out


def run_growth(parallelism: int) -> dict:
    """The MERGE growth sweep on the three target layouts.

    ``adaptive`` = linear-hashing splits at a small max_bucket_bytes;
    ``fixed`` = fixed initial bucket count (the round-1 design). At
    100 TB the fixed layout rewrites O(target/n_buckets) per touched
    bucket; adaptive keeps bucket size ~constant so updates rewrite
    O(batch + a few bucket-sized files). ``mor`` = merge-on-read: each
    epoch is an O(batch) delta append regardless of target size."""
    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.lake import (
        MorLakeTable,
        PartitionedLakeTable,
    )

    spark = get_spark("bench_growth", parallelism=parallelism)

    def bucketed(max_bucket_bytes):
        return lambda root: PartitionedLakeTable(
            spark, root, bucket_keys=["repo"], n_buckets=32, max_bucket_bytes=max_bucket_bytes
        )

    return {
        "metric": "merge_cost_vs_target_growth",
        "adaptive": {"adaptive": True, **run_growth_sweep(spark, bucketed(4 << 20))},
        "fixed": {"adaptive": False, **run_growth_sweep(spark, bucketed(1 << 60))},
        "mor": run_growth_sweep(
            spark, lambda root: MorLakeTable(spark, root, keys=["repo", "path"], lsn_col="lsn")
        ),
    }


def growth_sweep(
    header: dict,
    replicas: list[int],
    count: tuple[str, int],
    seed,
    epoch,
    rebuild,
    report,
    *,
    arms: tuple[str, ...] = ("",),
    replay: bool = True,
    warmup=None,
) -> dict:
    """Corpus-growth sweep: does a FIXED change epoch's maintenance cost
    track the epoch or the corpus? One loop for every ``--*-growth``
    family; each family supplies its callables.

    For each replica count ``k`` (``count = (key, rows_per_replica)``
    records ``key: rows_per_replica * k``) and each arm:

    - ``seed(k, arm, root)`` builds the state, untimed;
    - ``rebuild(state)`` and ``epoch(state, j)`` do their own prep
      untimed and return the ONE call to time;
    - ``replay``: every epoch re-applies one idempotent change
      (``epoch_id=None``). The rebuild IS the seed (a full build from
      the corpus) and runs on every arm before its epochs, and
      ``epoch(state, 0)`` is applied once untimed: the first maintain
      of a session pays the Arrow worker-pool fork + codegen warmup
      (~10 s) that a live pipeline pays once, not per epoch. Otherwise
      the epochs advance the state (ids ``e{j}``, so none can be
      replayed as a warmup) and the rebuild is the batch recompute over
      the maintained state, after them;
    - then ``GROWTH_REPS`` timed epochs, ``j = 1..GROWTH_REPS``, give
      ``maintain[_{arm}]_secs`` and their upper median. ``rebuild_s``
      and ``report(state, rebuilt)`` (untimed extra per-size fields,
      e.g. a parity check) come from the first arm only.

    ``warmup(root)`` runs once, untimed, before the first size. The
    growth ratios compare the last size with the first.
    """
    count_key, per_replica = count
    out = {**header, "sizes": []}
    with _bench_dir("bench_sweep_") as wh:
        if warmup is not None:
            warmup(os.path.join(wh, "warmup"))
        for k in replicas:
            entry: dict = {"replicas": k, count_key: per_replica * k}
            for arm in arms:
                first = arm == arms[0]
                st = seed(k, arm, os.path.join(wh, f"{arm}{k}"))

                def timed_rebuild():
                    # rebuild(st) runs its prep before _timed starts
                    rebuilt, entry["rebuild_s"] = _timed(rebuild(st))
                    entry.update(report(st, rebuilt))

                if replay:
                    if first:
                        timed_rebuild()
                    else:
                        rebuild(st)()
                    epoch(st, 0)()
                secs = [_timed(epoch(st, j))[1] for j in range(1, GROWTH_REPS + 1)]
                tag = f"maintain_{arm}_" if arm else "maintain_"
                entry[tag + "secs"] = secs
                entry[tag + "median_s"] = _median(secs)
                if first and not replay:
                    timed_rebuild()
            out["sizes"].append(entry)
    s0, s1 = out["sizes"][0], out["sizes"][-1]

    def growth(key: str) -> float:
        return round(s1[key] / max(s0[key], 1e-9), 2)

    out["corpus_growth"] = growth(count_key)
    out["rebuild_growth"] = growth("rebuild_s")
    for arm in arms:
        tag = f"maintain_{arm}_" if arm else "maintain_"
        out[tag + "growth"] = growth(tag + "median_s")
    return out


def run_ivf_growth(parallelism: int) -> dict:
    """Maintained-IVF growth sweep: does a FIXED change epoch's index
    maintenance cost track the touched cells or the whole corpus?

    Configuration mirrors how the index is operated at scale: n_cells
    grows with the corpus so rows-per-cell stays bounded (the codebook
    is a deterministic k-means-shaped cents dict, which routes cell
    assignment through the Arrow/numpy backend at every size). The
    epoch is held constant — 32 deletes + 32 inserts whose vectors are
    copies of same-cell members, so it touches exactly ONE cell at
    every corpus size. The index is a ``PartitionedLakeTable`` bucketed
    on ``cell`` with ``n_buckets = n_cells``; the seed (the rebuild
    arm) MERGEs the whole corpus into it, and ``maintain_ivf_index``
    must cost ~the same at every size (it rewrites only the target
    cell's bucket), while the rebuild grows with N — the measured gap
    IS the reason the 100 TB deployment maintains instead of
    rebuilding."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.operators.similarity import (
        IVF_KEYS,
        ivf_kmeans_index,
        maintain_ivf_index,
    )
    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.lake import PartitionedLakeTable

    spark = get_spark("bench_ivf_growth", parallelism=parallelism)
    base = spark.read.parquet(f"{_sf_dir()}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base_n = base.count()
    dim = len(base.select("embedding").first()[0])
    rows_per_cell = 2000

    def seed(k_rep, arm, root):
        n_cells = max(4, base_n * k_rep // rows_per_cell)
        # deterministic quantized codebook (no training pass needed for
        # a cost sweep; cell balance is rough but the epoch's target
        # cell is measured, not assumed)
        cents = {
            j: [((j * 2654435761 + d * 40503) % 1201) - 600 for d in range(dim)]
            for j in range(n_cells)
        }
        corpus = _replicate(base, k_rep).select(
            (F.col("vec_id") + F.col("r") * base_n).alias("vec_id"), "embedding"
        )
        # fixed epoch: the most-populated cell of the replica-0 slice
        a0 = ivf_kmeans_index(base, cents, "embedding", "vec_id", n_cells)
        cell = int(
            a0.groupBy("cell").count().orderBy(F.col("count").desc(), "cell").first().cell
        )
        members = [
            r.neighbor_id
            for r in a0.filter(F.col("cell") == cell)
            .orderBy("neighbor_id")
            .limit(64)
            .collect()
        ]
        dels, srcs = members[:32], members[32:64] or members[:32]
        del_rows = base.filter(F.col("vec_id").isin(dels)).withColumn(
            "change_type", F.lit("delete")
        )
        ins_rows = (
            base.filter(F.col("vec_id").isin(srcs))
            .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
            .withColumn("change_type", F.lit("insert"))
        )
        changes = del_rows.unionByName(ins_rows).select(
            "change_type", "vec_id", "embedding"
        )
        idx = PartitionedLakeTable(spark, root, bucket_keys=["cell"], n_buckets=n_cells)
        return idx, corpus, changes, cell, n_cells, cents

    def rebuild(st):
        idx, corpus, _, _, n_cells, cents = st
        index = ivf_kmeans_index(corpus, cents, "embedding", "vec_id", n_cells)
        return partial(idx.merge, index, IVF_KEYS, epoch_id="b")

    def epoch(st, j):
        idx, _, changes, _, n_cells, cents = st
        # epoch_id=None: the MERGE is idempotent, so re-applying
        # measures the identical touched-bucket read+rewrite cost
        return partial(
            maintain_ivf_index, idx, changes, "embedding", "vec_id",
            n_cells=n_cells, cents=cents,
        )

    def report(st, _):
        idx, _, _, cell, n_cells, _ = st
        return {
            "n_cells": n_cells,
            "target_cell": cell,
            "touched_rows": idx.scan([("cell", "==", cell)]).count(),
        }

    # untimed warm-up on the 1-replica corpus (as --qsample-growth):
    # JIT, codegen and the Arrow worker fork otherwise land on the
    # first size's rebuild_s
    def warmup(root):
        st = seed(1, "", root)
        rebuild(st)()
        epoch(st, 0)()

    return growth_sweep(
        {
            "metric": "ivf_epoch_cost_vs_corpus_growth",
            "base_rows": base_n,
            "dim": dim,
            "rows_per_cell_target": rows_per_cell,
            "parallelism": parallelism,
        },
        _replicas("IVF", "16,64,256"), ("rows", base_n), seed, epoch, rebuild, report,
        warmup=warmup,
    )


def run_cms_growth(parallelism: int) -> dict:
    """Maintained-sketch growth sweep: does a FIXED change epoch's
    count-min maintenance cost track the epoch or the corpus?

    The sketch state is depth×width cells at every corpus size, so the
    comparison isolates the two plan shapes: REBUILD scans the whole
    corpus (O(N) — explode ×depth, map-side combine down to the grid),
    while MAINTAIN aggregates only the epoch's signed delta and
    MERGEs the touched cells (O(Δ + grid)). The epoch is held constant
    (1k update pre/post pairs with net-zero cell effect, so repeated
    applies measure the identical touched-cell read+rewrite cost); the
    measured gap is the reason the 100 TB deployment maintains the
    sketch per CDF epoch instead of recounting."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.operators.sketch import (
        cms_cells,
        maintain_cms,
    )
    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.lake import LakeTable

    spark = get_spark("bench_cms_growth", parallelism=parallelism)
    base = spark.read.parquet(f"{_sf_dir()}/events.parquet").select(
        "event_id", "event_type", "user_id"
    )
    base_n = base.count()
    item = "concat(event_type, '/', cast(pmod(user_id, 100) as string))"
    depth, width = 4, 256
    epoch_rows = base.orderBy("event_id").limit(1000)
    changes = (
        epoch_rows.withColumn("change_type", F.lit("update_preimage"))
        .unionByName(epoch_rows.withColumn("change_type", F.lit("update_postimage")))
        .persist()
    )
    changes.count()

    def seed(k_rep, arm, root):
        return LakeTable(spark, root), _replicate(base, k_rep).drop("r")

    def rebuild(st):
        t, corpus = st
        return lambda: t.merge(
            cms_cells(corpus, F.expr(item), depth, width), ["d", "bucket"], epoch_id="seed"
        )

    # net-zero epoch: state-invariant, so each apply measures the
    # identical delta-agg + touched-cell MERGE cost
    def epoch(st, j):
        return partial(maintain_cms, st[0], changes, item, depth, width, epoch_id=None)

    # untimed warm-up on a 5k-row corpus (as --qsample-growth): JIT and
    # codegen otherwise land on the first size's rebuild_s
    def warmup(root):
        st = LakeTable(spark, root), base.limit(5000)
        rebuild(st)()
        epoch(st, 0)()

    try:
        return growth_sweep(
            {
                "metric": "cms_epoch_cost_vs_corpus_growth",
                "base_rows": base_n,
                "depth": depth,
                "width": width,
                "epoch_rows": 1000,
                "parallelism": parallelism,
            },
            _replicas("CMS", "1,4,16"), ("rows", base_n), seed, epoch, rebuild,
            lambda st, _: {"cells": st[0].read().count()},
            warmup=warmup,
        )
    finally:
        changes.unpersist()


def run_search_growth(parallelism: int) -> dict:
    """Maintained-inverted-index growth sweep: does a FIXED change
    epoch's index maintenance cost track the epoch or the corpus — and
    how much does the postings TABLE BACKEND matter?

    Three plan shapes over the same logical index advance:
    - REBUILD: seed_search_index from scratch — O(corpus) tokenize +
      full shuffle + full write; grows linearly.
    - MAINTAIN/COW: maintain_search_index with postings+doclen in plain
      ``LakeTable`` — the delta aggregation is O(Δ) but every epoch's
      MERGE rewrites the whole postings file set (COW), so write cost
      grows with the index.
    - MAINTAIN/MoR: same maintenance with postings+doclen in
      ``MorLakeTable`` (ratio-triggered compaction) — each epoch
      appends one O(Δ) delta; the full-index rewrite cost moves to
      amortized compaction. This is the 100 TB configuration.

    The epoch is a constant 500-doc net-zero pre/post pair set (state-
    invariant, so repeated applies measure identical work). termstats /
    stats stay COW everywhere (vocabulary-sized / 1 row)."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.operators.search import (
        maintain_search_index,
        seed_search_index,
    )
    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.lake import (
        LakeTable,
        MorLakeTable,
    )

    spark = get_spark("bench_search_growth", parallelism=parallelism)
    base = spark.read.parquet(f"{_sf_dir()}/documents.parquet").select("doc_id", "text")
    base_n = base.count()
    epoch_docs = base.orderBy("doc_id").limit(500)
    changes = (
        epoch_docs.withColumn("change_type", F.lit("update_preimage"))
        .unionByName(epoch_docs.withColumn("change_type", F.lit("update_postimage")))
        .persist()
    )
    changes.count()

    def cow_tables(root):
        return tuple(
            LakeTable(spark, os.path.join(root, n))
            for n in ("postings", "termstats", "doclen", "stats")
        )

    def mor_tables(root):
        return (
            MorLakeTable(
                spark, os.path.join(root, "postings"), ["term", "doc_id"],
                "_mult", compact_ratio=0.3,
            ),
            LakeTable(spark, os.path.join(root, "termstats")),
            MorLakeTable(
                spark, os.path.join(root, "doclen"), ["doc_id"], "dl",
                compact_ratio=0.3,
            ),
            LakeTable(spark, os.path.join(root, "stats")),
        )

    # untimed JVM/codegen warmup: a throwaway seed+maintain on a tiny
    # corpus so the first timed size doesn't absorb startup cost
    def warmup(root):
        warm = cow_tables(root)
        seed_search_index(*warm, base.limit(50), epoch_id="seed")
        maintain_search_index(*warm, changes, epoch_id=None)

    def seed(k_rep, arm, root):
        corpus = _replicate(base, k_rep).select(
            (
                F.col("doc_id") + F.col("r").cast("long") * F.lit(100_000_000).cast("long")
            ).alias("doc_id"),
            "text",
        )
        return (cow_tables if arm == "cow" else mor_tables)(root), corpus

    def rebuild(st):
        tables, corpus = st
        return partial(seed_search_index, *tables, corpus, epoch_id="seed")

    def epoch(st, j):
        return partial(maintain_search_index, *st[0], changes, epoch_id=None)

    try:
        return growth_sweep(
            {
                "metric": "search_index_epoch_cost_vs_corpus_growth",
                "base_rows": base_n,
                "epoch_docs": 500,
                "parallelism": parallelism,
            },
            _replicas("SEARCH", "1,16,64"), ("docs", base_n), seed, epoch, rebuild,
            lambda st, _: {"postings_rows": st[0][0].read().count()},
            arms=("cow", "mor"), warmup=warmup,
        )
    finally:
        changes.unpersist()


def run_qsample_growth(parallelism: int) -> dict:
    """Quantile-sketch growth sweep (r4 verdict Next-round #2): does a
    FIXED insert epoch's maintenance cost track the epoch or the corpus?

    State is ≤ k structs per group at every corpus size, so the sweep
    isolates the plan shapes: REBUILD is the salted bottom-k over the
    whole corpus (O(N)); MAINTAIN unions the epoch's delta with the
    touched groups' stored sketches and re-truncates (O(Δ + touched·k)).
    The epoch is held constant (1k inserts with ids disjoint from the
    corpus); re-applying the identical epoch is state-invariant because
    the merge dedupes on the full (h, id, v) struct, so each timed rep
    measures the same touched-group read + re-truncate + MERGE cost."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.operators.sketch import (
        maintain_qsample,
        qsample_sketch,
    )
    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.lake import LakeTable

    spark = get_spark("bench_qsample_growth", parallelism=parallelism)
    base = spark.read.parquet(f"{_sf_dir()}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    base_n = base.count()
    k = 256
    group = F.pmod(F.col("user_id"), F.lit(40)).cast("string").alias("g")
    val = F.floor(F.col("value") * 100).cast("long").alias("val")
    changes = (
        base.orderBy("event_id")
        .limit(1000)
        .select(
            group,
            # ids disjoint from every replicated corpus id
            (F.col("event_id") + F.lit(1 << 40)).alias("id"),
            val,
        )
        .withColumn("change_type", F.lit("insert"))
        .persist()
    )
    changes.count()

    # global untimed warmup: JIT + codegen + parquet reader init
    # otherwise land entirely on the FIRST size's rebuild, making the
    # growth ratios read backwards (r5: 18.2 s cold vs 4-5 s warm)
    def warmup(root):
        warm = LakeTable(spark, root)
        warm.merge(
            qsample_sketch(
                base.limit(5000).select(group, F.col("event_id").alias("id"), val),
                ["g"], "val", "id", k=k,
            ),
            ["g"], epoch_id="warm",
        )
        maintain_qsample(warm, changes, ["g"], "val", "id", k=k, epoch_id=None)

    def seed(k_rep, arm, root):
        corpus = _replicate(base, k_rep).select(
            group,
            # replica-unique id keeps the sampling key a true row id
            (F.col("event_id") * F.lit(k_rep) + F.col("r")).alias("id"),
            val,
        )
        return LakeTable(spark, root), corpus

    def rebuild(st):
        t, corpus = st
        return lambda: t.merge(
            qsample_sketch(corpus, ["g"], "val", "id", k=k), ["g"], epoch_id="seed"
        )

    def epoch(st, j):
        return partial(maintain_qsample, st[0], changes, ["g"], "val", "id", k=k, epoch_id=None)

    try:
        return growth_sweep(
            {
                "metric": "qsample_epoch_cost_vs_corpus_growth",
                "base_rows": base_n,
                "k": k,
                "groups": 40,
                "epoch_rows": 1000,
                "parallelism": parallelism,
            },
            _replicas("QS", "1,4,16"), ("rows", base_n), seed, epoch, rebuild,
            lambda st, _: {"sketch_rows": st[0].read().count()},
            warmup=warmup,
        )
    finally:
        changes.unpersist()


def run_cc_growth(parallelism: int) -> dict:
    """Maintained-dup-cluster growth sweep: does a FIXED change epoch's
    cluster maintenance cost track the affected components or the
    corpus?

    The graph is synthesized directly (chains of 5 — many small
    components, the dup-cluster shape) because the operator under
    measurement is `graph_incremental.maintain_clusters`, not pair
    generation. Each epoch is held constant: 128 new docs each bridging
    two existing components + 128 deletes that split their chains —
    O(hundreds) affected components at every corpus size. REBUILD is
    the full `connected_components` run batch mode would pay per
    delivery (grows with N). MAINTAIN is measured on both store
    backends: plain COW (epoch compute is Δ-sized but the labels
    rewrite is O(N) — the honest reason the 100 TB deployment buckets)
    and PartitionedLakeTable (touched-bucket rewrites — the scale
    configuration). A final exceptAll parity check against the full
    recompute guards the sweep's correctness."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.operators.graph import (
        connected_components,
    )
    from data_ingestion_resolution_platform_spark.operators.graph_incremental import (
        build_cluster_state,
        maintain_clusters,
    )
    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.lake import (
        LakeTable,
        PartitionedLakeTable,
    )

    spark = get_spark("bench_cc_growth", parallelism=parallelism)
    n0 = 100_000
    n_delta = 128

    def state(n, arm, root):
        if arm == "bucketed":
            labels = PartitionedLakeTable(spark, root + "/labels", ["id"], n_buckets=32)
            edges = PartitionedLakeTable(spark, root + "/edges", ["id_a", "id_b"], n_buckets=32)
        else:
            labels = LakeTable(spark, root + "/labels")
            edges = LakeTable(spark, root + "/edges")
        chains = (
            spark.range(n)
            .filter(F.col("id") % 5 != 4)
            .filter(F.col("id") + 1 < n)
            .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        )
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        build_cluster_state(labels, edges, chains, nodes, epoch_id="seed")
        return labels, edges, n

    def seed(k_rep, arm, root):
        return state(n0 * k_rep, arm, root)

    def epoch(st, j):
        labels, edges, n = st
        stride = n // n_delta
        # removals ≡ j (mod stride) split their chains; bridge
        # endpoints ≡ 0 and 7 (mod stride) stay disjoint from
        # every rep's removals
        rm = spark.range(n_delta).select((F.col("id") * stride + j).alias("doc_id"))
        new_id = F.lit(n) + (j - 1) * n_delta + F.col("id")
        new_ids = spark.range(n_delta).select(new_id.alias("doc_id"))
        delta = spark.range(n_delta).select(
            new_id.alias("id_a"), (F.col("id") * stride).alias("id_b")
        ).unionByName(spark.range(n_delta).select(
            new_id.alias("id_a"), (F.col("id") * stride + 7).alias("id_b")
        ))
        return partial(maintain_clusters, labels, edges, delta, new_ids, rm, epoch_id=f"e{j}")

    def rebuild(st):
        labels, edges, _ = st
        live_edges = edges.read().select("id_a", "id_b")
        live_nodes = labels.read().select(F.col("id").alias("doc_id"))

        def full():
            cc = connected_components(live_edges, "id_a", "id_b", id_out="id")
            return (
                live_nodes.select(F.col("doc_id").alias("id"))
                .join(cc, on="id", how="left")
                .select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id"))
            ).localCheckpoint(eager=True)

        return full

    def report(st, full):
        labels, edges, _ = st
        return {
            "parity_ok": _same_rows(labels.read().select("id", "cluster_id"), full),
            "edges_rows": edges.read().count(),
        }

    # untimed warm-up on a 10x smaller graph (as --qsample-growth): JIT
    # and codegen otherwise land on the first size's first epoch
    def warmup(root):
        st = state(n0 // 10, "cow", root)
        epoch(st, 1)()
        rebuild(st)()

    return growth_sweep(
        {
            "metric": "cc_epoch_cost_vs_corpus_growth",
            "base_nodes": n0,
            "delta_per_epoch": {"bridges": n_delta, "deletes": n_delta},
            "epochs": GROWTH_REPS,
            "parallelism": parallelism,
        },
        _replicas("CC", "1,4,16"), ("nodes", n0), seed, epoch, rebuild,
        report, arms=("cow", "bucketed"), replay=False, warmup=warmup,
    )


def run_tri_growth(parallelism: int) -> dict:
    """Maintained-triangle-count growth sweep: does a FIXED edge-delta
    epoch's maintenance cost track the delta or the corpus?

    Graph = disjoint 5-cliques (triangle-rich, the dup-cluster shape:
    10 edges / 10 triangles per clique). Epoch held constant: 128
    intra-clique edge removals (3 triangles destroyed each) + 128
    cross-clique bridge additions (wedge probes that close nothing) —
    O(hundreds) touched edges at every corpus size. REBUILD = the batch
    degree-oriented wedge join over the full store (O(m^1.5), grows
    with N); MAINTAIN probes only around the delta. The maintained
    count is asserted equal to the batch recount at every size."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.operators.graph import (
        triangle_count,
    )
    from data_ingestion_resolution_platform_spark.operators.graph_incremental import (
        build_triangle_state,
        maintain_triangle_count,
    )
    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.lake import LakeTable

    spark = get_spark("bench_tri_growth", parallelism=parallelism)
    n0 = 100_000
    n_delta = 128

    def state(n, root):
        # nodes 5k..5k+4 fully connected: pairs (5k+i, 5k+j), i<j<5
        node = spark.range(n // 5).select((F.col("id") * 5).alias("base"))
        cliques = None
        for i in range(5):
            for j in range(i + 1, 5):
                piece = node.select(
                    (F.col("base") + i).alias("id_a"), (F.col("base") + j).alias("id_b")
                )
                cliques = piece if cliques is None else cliques.unionByName(piece)
        edges = LakeTable(spark, root + "/edges")
        stats = LakeTable(spark, root + "/stats")
        build_triangle_state(edges, stats, cliques, epoch_id="seed")
        return edges, stats, n

    def seed(k_rep, arm, root):
        return state(n0 * k_rep, root)

    def epoch(st, j):
        edges, stats, n = st
        stride = (n // 5) // n_delta
        # remove edge (5k, 5k+j) in every stride-th clique
        # (j ∈ 1..3 → distinct edges per rep), bridge 5k+4 to the
        # next clique's 5k+2 (closes nothing)
        sel = spark.range(n_delta).select((F.col("id") * stride * 5).alias("base"))
        removals = sel.select(F.col("base").alias("id_a"), (F.col("base") + j).alias("id_b"))
        adds = sel.select(
            (F.col("base") + 4).alias("id_a"), (F.col("base") + 5 + j).alias("id_b")
        )
        return partial(maintain_triangle_count, edges, stats, adds, removals, epoch_id=f"e{j}")

    def rebuild(st):
        live = st[0].read().select("id_a", "id_b")
        return lambda: triangle_count(live, "id_a", "id_b").collect()[0]

    def report(st, full):
        row = st[1].read().collect()[0]
        return {
            "parity_ok": (
                row["n_triangles"] == full["n_triangles"]
                and row["n_edges"] == full["n_edges"]
            ),
            "n_triangles": int(row["n_triangles"]),
        }

    # untimed warm-up on a 10x smaller graph (as --qsample-growth)
    def warmup(root):
        st = state(n0 // 10, root)
        epoch(st, 1)()
        rebuild(st)()

    return growth_sweep(
        {
            "metric": "triangle_epoch_cost_vs_corpus_growth",
            "base_nodes": n0,
            "delta_per_epoch": {"removals": n_delta, "bridges": n_delta},
            "epochs": GROWTH_REPS,
            "parallelism": parallelism,
        },
        _replicas("TRI", "1,4,16"), ("nodes", n0), seed, epoch, rebuild,
        report, replay=False, warmup=warmup,
    )


def run_rescan_growth(parallelism: int) -> dict:
    """Group-rescan growth sweep (funnel read model): does a FIXED
    touched-user epoch's rescan cost track the touched groups or the
    events lake?

    Base = synthetic per-user event histories (8 events/user, the
    view→click→purchase shape). Epoch held constant: 256 users get one
    event deleted + one backdated view inserted — the worst case that
    invalidates all three funnel stages. MAINTAIN = rescan exactly
    those users (broadcast-pruned lake probe + group-sized MERGE);
    REBUILD = the full-lake funnel recompute batch mode would pay. The
    maintained store is asserted equal to the rebuild at every size."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.operators.rescan import (
        maintain_group_rescan,
    )
    from data_ingestion_resolution_platform_spark.plans.queries import _funnel_per_user
    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.lake import DELETE_COL, LakeTable

    spark = get_spark("bench_rescan_growth", parallelism=parallelism)
    n0 = 50_000
    n_delta = 256
    ev_per_user = 8
    types = ["view", "click", "purchase", "view", "click", "other", "view", "purchase"]

    def events_for(n_users: int):
        ev = spark.range(n_users * ev_per_user).select(
            F.col("id").alias("event_id"),
            (F.col("id") % n_users).alias("user_id"),
            (F.col("id") / n_users).cast("long").alias("seq"),
        )
        type_expr = F.element_at(
            F.array(*[F.lit(t) for t in types]), (F.col("seq") + 1).cast("int")
        )
        # per-user jitter so stage minima differ across users
        return ev.select(
            "event_id",
            "user_id",
            type_expr.alias("event_type"),
            F.timestamp_seconds(
                F.lit(1704067200) + F.col("seq") * 3600 + F.col("user_id") % 97
            ).alias("ts"),
        )

    def funnel_rows(ev):
        return _funnel_per_user(ev.select("user_id", "event_type", "ts"))

    def state(n_users, root):
        lake = LakeTable(spark, root + "/events")
        store = LakeTable(spark, root + "/funnel")
        lake.merge(events_for(n_users), ["event_id"], epoch_id="seed")
        store.merge(funnel_rows(lake.read()), ["user_id"], epoch_id="seed")
        return lake, store, n_users

    def seed(k_rep, arm, root):
        return state(n0 * k_rep, root)

    def epoch(st, j):
        lake, store, n_users = st
        users = spark.range(n_delta).select(
            (F.col("id") * (n_users // n_delta) + j).alias("user_id")
        )
        # delete the user's first view (event seq 0) and insert a
        # backdated view — both flip all three stages
        dels = users.select(
            F.col("user_id").alias("event_id"), "user_id"
        ).withColumn(DELETE_COL, F.lit(True))
        ins = users.select(
            (F.col("user_id") + 100_000_000 * j).alias("event_id"),
            "user_id",
        ).withColumn(DELETE_COL, F.lit(False))
        batch = ins.unionByName(dels).withColumn(
            "event_type", F.lit("view")
        ).withColumn(
            "ts", F.to_timestamp(F.lit("2020-01-01 00:00:00"))
        )
        # the lake advance is the TARGET-table write (bucketed /
        # MoR at scale — benched by the other sweeps); the timed
        # window here is the read-model rescan alone
        lake.merge(batch, ["event_id"], epoch_id=f"l{j}")

        def recompute(aff):
            return funnel_rows(lake.read().join(F.broadcast(aff), on="user_id"))

        return partial(
            maintain_group_rescan, store, ["user_id"], users, recompute, epoch_id=f"e{j}"
        )

    def rebuild(st):
        return lambda: funnel_rows(st[0].read()).localCheckpoint(eager=True)

    def report(st, full):
        return {"parity_ok": _same_rows(st[1].read().select("user_id", "v", "c", "p"), full)}

    # untimed warm-up on 10x fewer users (as --qsample-growth)
    def warmup(root):
        st = state(n0 // 10, root)
        epoch(st, 1)()
        rebuild(st)()

    return growth_sweep(
        {
            "metric": "rescan_epoch_cost_vs_base_growth",
            "base_users": n0,
            "events_per_user": ev_per_user,
            "delta_users_per_epoch": n_delta,
            "epochs": GROWTH_REPS,
            "parallelism": parallelism,
        },
        _replicas("RESCAN", "1,4,16"), ("users", n0), seed, epoch, rebuild,
        report, replay=False, warmup=warmup,
    )


def run_ann_recall(parallelism: int) -> dict:
    """ANN recall/cost frontier (r4 verdict Next-round #5): recall@10
    vs scan fraction across n_probe x n_cells for BOTH codebooks
    (trained k-means vs seeded hyperplanes), against the brute-force
    exact top-10 as ground truth.

    Note on residual re-ranking: ivf_probe already scores candidates
    with the EXACT quantized cosine inside the probed cells, so every
    point on this frontier is re-ranked by construction — recall loss
    comes solely from true neighbors living in unprobed cells. The
    lever is therefore (n_cells, n_probe) i.e. scan fraction, not
    score refinement."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.operators.kmeans import kmeans_fit
    from data_ingestion_resolution_platform_spark.operators.similarity import (
        brute_force_topk,
        ivf_index,
        ivf_kmeans_index,
        ivf_probe,
        kmeans_probe_cells,
        query_probe_cells,
    )
    from data_ingestion_resolution_platform_spark.session import get_spark

    spark = get_spark("bench_ann_recall", parallelism=parallelism)
    k = 10
    emb = (
        spark.read.parquet(f"{_sf_dir()}/embeddings.parquet")
        .select("vec_id", "embedding")
        .persist()
    )
    n_corpus = emb.count()
    queries = emb.filter(F.pmod("vec_id", F.lit(31)) == 1).limit(64).persist()
    nq = queries.count()
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, "embedding", "vec_id", k=k).collect()
    }
    rows: list[dict] = []
    for n_cells in (16, 64):
        cents = kmeans_fit(emb, "embedding", "vec_id", k=n_cells, iters=2)
        variants = {
            "kmeans": ivf_kmeans_index(emb, cents, "embedding", "vec_id", n_cells),
            "hyperplane": ivf_index(emb, "embedding", "vec_id", n_cells=n_cells),
        }
        for name, idx in variants.items():
            idx = idx.persist()
            sizes = {r["cell"]: r["n"] for r in idx.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
            for n_probe in (1, 2, 4, 8, 16):
                if n_probe > n_cells:
                    continue
                if name == "kmeans":
                    probes = kmeans_probe_cells(queries, cents, "embedding", "vec_id", n_cells, n_probe)
                else:
                    probes = query_probe_cells(queries, "embedding", "vec_id", n_cells, n_probe)
                probes = probes.persist()
                probe_rows = probes.select("query_id", "cell").collect()
                res, probe_s = _timed(lambda: ivf_probe(idx, probes, k=k).collect())
                probes.unpersist()
                hits = sum((r["query_id"], r["neighbor_id"]) in truth for r in res)
                scanned = sum(sizes.get(r["cell"], 0) for r in probe_rows)
                rows.append({
                    "codebook": name,
                    "n_cells": n_cells,
                    "n_probe": n_probe,
                    "recall_at_10": round(hits / max(len(truth), 1), 4),
                    "scan_fraction": round(scanned / max(nq * n_corpus, 1), 4),
                    "probe_s": probe_s,
                })
            idx.unpersist()
    emb.unpersist()
    queries.unpersist()
    return {
        "metric": "ann_recall_frontier",
        "corpus_rows": n_corpus,
        "queries": nq,
        "k": k,
        "parallelism": parallelism,
        "in_cell_scoring": "exact quantized cosine (re-ranked by construction)",
        "rows": rows,
    }


def run_scd2_growth(parallelism: int) -> dict:
    """SCD2-history growth sweep (r3 verdict #7): does per-epoch
    historization cost track the OPEN set or the ACCUMULATED history?

    Per-epoch fixed overhead (job launch + the delta window agg, ~4 s at
    any size) hides an O(|history|) term until the history is GB-sized,
    so growing it epoch-by-epoch shows nothing. Instead: bulk-seed the
    history (untimed) at a SMALL and a LARGE version count — same key
    count and open set, only the closed-version depth differs — then
    time identical update epochs against each. The plain-LakeTable arm
    pays O(|history|) per epoch twice (the ``is_current == 1`` scan and
    the COW rewrite), so its epoch cost must grow toward the large
    seed; the Scd2HistoryStore arm reads and rewrites only the open
    snapshot, so ``large_over_small`` ≈ 1 is the flat-cost claim."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.operators.scd import (
        Scd2HistoryStore,
        historize_epoch,
    )
    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.lake import LakeTable

    spark = get_spark("bench_scd2_growth", parallelism=parallelism)
    keys_n = int(os.environ.get("SPARK_GRAFT_SCD2_KEYS", "100000"))
    small_v = int(os.environ.get("SPARK_GRAFT_SCD2_SMALL_VERSIONS", "4"))
    large_v = int(os.environ.get("SPARK_GRAFT_SCD2_LARGE_VERSIONS", "40"))
    upd_keys = int(os.environ.get("SPARK_GRAFT_SCD2_UPD_KEYS", "20000"))
    upd_epochs = int(os.environ.get("SPARK_GRAFT_SCD2_UPD_EPOCHS", "3"))

    # incompressible ~192 B payload (sha256 hex ×3) so history bytes are
    # real data the rewrite cannot compress away
    def _sha(col):
        s = F.sha2(col.cast("string"), 256)
        return F.concat(s, s, s)

    def seed_feed(versions: int):
        # every event changes attr ⇒ every event is a version boundary:
        # |keys| open versions + |keys|·(versions-1) closed ones
        n = keys_n * versions
        return spark.range(n).select(
            F.concat(F.lit("k"), F.pmod(F.col("id"), F.lit(keys_n)).cast("string"))
            .alias("key"),
            F.col("id").cast("long").alias("lsn"),
            F.lit("I").alias("op"),
            _sha(F.col("id")).alias("attr"),
        )

    def upd_delta(e: int, base_lsn: int):
        return spark.range(upd_keys).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("key"),
            (F.lit(base_lsn) + e * upd_keys + F.col("id")).cast("long").alias("lsn"),
            F.lit("U").alias("op"),
            _sha(F.col("id") + (e + 7) * 10_000_000).alias("attr"),
        )

    out: dict = {
        "metric": "scd2_epoch_cost_vs_history_growth",
        "keys": keys_n,
        "small_versions": small_v,
        "large_versions": large_v,
        "update_keys_per_epoch": upd_keys,
        "parallelism": parallelism,
    }
    with _bench_dir("bench_scd2_") as wh:
        # untimed JVM/codegen warmup so the first timed arm isn't penalized
        warm = LakeTable(spark, os.path.join(wh, "warm"))
        historize_epoch(warm, seed_feed(1).limit(2000), ["key"], "lsn", ["attr"], 0)
        historize_epoch(warm, upd_delta(0, 10**9).limit(2000), ["key"], "lsn", ["attr"], 1)
        for arm in ("plain_laketable", "split_store"):
            res: dict = {}
            for size, versions in (("small", small_v), ("large", large_v)):
                root = os.path.join(wh, f"{arm}_{size}")
                hist = (
                    LakeTable(spark, root)
                    if arm == "plain_laketable"
                    else Scd2HistoryStore(spark, root, ["key"])
                )
                historize_epoch(  # untimed bulk seed
                    hist, seed_feed(versions), ["key"], "lsn", ["attr"], "seed"
                )
                base = keys_n * versions + 1
                secs = [
                    _timed(lambda: historize_epoch(
                        hist, upd_delta(e, base), ["key"], "lsn", ["attr"], e
                    ))[1]
                    for e in range(upd_epochs)
                ]
                res[size] = {
                    "epoch_secs": secs,
                    "median_s": _median(secs),
                    "history_rows": hist.read().count(),
                }
                shutil.rmtree(root, ignore_errors=True)
            res["large_over_small"] = round(
                res["large"]["median_s"] / res["small"]["median_s"], 2
            )
            out[arm] = res
    return out


def run_compaction_policy(parallelism: int) -> dict:
    """Measured-compaction trade curve (r4 verdict #7). MoR arm: sweep
    the delta/base byte-ratio trigger and record BOTH amplifications —
    write amp (bytes written to storage / delta bytes ingested, >1 when
    compactions rewrite the base) and read amp (bytes a read must open /
    live snapshot bytes) — plus the timed read at the final state. A low
    ratio compacts often (write amp up, read amp pinned near 1); a high
    ratio defers (cheap ingest, reads degrade); ``none`` never compacts.
    Append arm: the small-file auto-policy on an append-only table
    (Scd2HistoryStore's closed side) — file count and timed full-history
    read, armed vs plain, same appended content."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.sources.lake import LakeTable, MorLakeTable

    spark = get_spark("bench_compact", parallelism=parallelism)
    base_rows = int(os.environ.get("SPARK_GRAFT_COMPACT_BASE", "1000000"))
    epoch_rows = int(os.environ.get("SPARK_GRAFT_COMPACT_EPOCH_ROWS", "100000"))
    epochs = int(os.environ.get("SPARK_GRAFT_COMPACT_EPOCHS", "12"))

    # incompressible ~192 B payload so byte ratios measure real data
    def batch(lo: int, n: int, salt: int):
        sha = F.sha2((F.col("id") + salt).cast("string"), 256)
        return spark.range(lo, lo + n).select(
            F.col("id").alias("k"),
            (F.col("id") + salt).alias("lsn"),
            F.concat(sha, sha, sha).alias("content"),
        )

    out: dict = {
        "metric": "compaction_policy_trade_curve",
        "base_rows": base_rows,
        "epoch_rows": epoch_rows,
        "epochs": epochs,
        "parallelism": parallelism,
        "mor_ratio_sweep": {},
    }
    with _bench_dir("bench_compact_") as wh:
        # each update epoch lands ~0.1× the base's bytes, so these
        # thresholds fold every ~2nd / 5th / 10th epoch respectively
        for ratio in (0.2, 0.5, 1.0, None):
            t = MorLakeTable(
                spark, os.path.join(wh, f"mor_{ratio}"), keys=["k"], lsn_col="lsn",
                compact_ratio=ratio,
            )
            # untimed bootstrap: seeded base, compacted once so every
            # config starts from the same (base, zero deltas) state
            t.merge(batch(0, base_rows, salt=0), ["k"], epoch_id="seed")
            t.compact()
            ingested = written = 0
            compactions = 0
            merge_secs = []
            for e in range(epochs):
                s, sec = _timed(lambda: t.merge(
                    batch((e * epoch_rows) % base_rows, epoch_rows, salt=10**9 + e),
                    ["k"],
                    epoch_id=e,
                ))
                merge_secs.append(sec)
                ingested += s["delta_bytes"]
                written += s["delta_bytes"]
                if s.get("compacted"):
                    compactions += 1
                    written += s["compact_stats"]["base_bytes"]
            ss = t.scan_stats()
            read_s = _timed(lambda: t.read().count())[1]
            t.compact()  # measure the true live snapshot size
            live = t.scan_stats()["base_bytes"]
            out["mor_ratio_sweep"]["none" if ratio is None else str(ratio)] = {
                "compactions": compactions,
                "merge_secs": merge_secs,
                "merge_median_s": _median(merge_secs),
                "final_n_deltas": ss["n_deltas"],
                "final_scan_bytes": ss["scan_bytes"],
                "live_bytes": live,
                "read_amplification": round(ss["scan_bytes"] / live, 3),
                "write_amplification": round(written / max(ingested, 1), 3),
                "read_s_final": read_s,
            }

        # -- append-only small-file policy arm ----------------------------
        app_epochs = int(os.environ.get("SPARK_GRAFT_COMPACT_APP_EPOCHS", "24"))
        app_rows = int(os.environ.get("SPARK_GRAFT_COMPACT_APP_ROWS", "40000"))
        arm_out = {}
        for arm, small in (("plain", None), ("armed", 64 << 20)):
            t = LakeTable(
                spark, os.path.join(wh, f"app_{arm}"), append_only=True,
                compact_small_file_bytes=small, compact_min_dirs=8,
            )

            def ingest():
                for e in range(app_epochs):
                    t.append(batch(e * app_rows, app_rows, salt=e), epoch_id=e)

            ingest_s = _timed(ingest)[1]
            s = t.append_stats()
            n, read_s = _timed(lambda: t.read().count())
            arm_out[arm] = {
                "ingest_s": ingest_s,
                "n_files": s["n_files"],
                "n_epoch_dirs": s["n_epoch_dirs"],
                "compacted_gen": s["compacted_gen"],
                "rows": n,
                "read_s": read_s,
            }
        out["append_small_file_policy"] = arm_out
        return out


def hw_scaling_probe(n: int, n4: int, seconds: float = 10.0) -> dict:
    """Framework-free CPU-scaling ceiling of THIS host: parallel sha256
    loops via multiprocessing (no JVM, no shuffle, no allocation churn).

    On oversubscribed/overcommitted VMs 4x the processes deliver less
    than 4x the hashes; whatever ratio this probe reports is the ceiling
    ANY engine can reach here, so the engine's scaling efficiency should
    be read relative to it. A real cluster's nodes do not share a CPU
    budget this way.
    """
    from multiprocessing import Pool

    all_cpus = set(range(os.cpu_count() or 1))

    def rate(k: int) -> float:
        # pin to k CPUs (children inherit at fork) — same affinity model
        # as the engine probes
        os.sched_setaffinity(0, set(range(k)))
        try:
            with Pool(k) as p:
                t0 = time.time()
                counts = p.map(_hash_worker, [seconds] * k)
                el = time.time() - t0
        finally:
            os.sched_setaffinity(0, all_cpus)
        return sum(counts) / el

    r_n = rate(n)
    r_4n = rate(n4)
    return {
        "hw_rate_n": round(r_n, 0),
        "hw_rate_4n": round(r_4n, 0),
        "hw_efficiency": round((r_4n / r_n) / (n4 / n), 3),
    }


def storage_bw_probe(n: int, n4: int, target: str, mb_per_proc: int = 512) -> dict:
    """Aggregate write bandwidth of the bench storage target at two
    writer counts — best of 2 reps per level. A single rep right after
    the heavy e2e subprocesses can measure memory-reclaim transients
    instead of steady bandwidth (round-2's "flat 6.6 GB/s" artifact —
    a clean host shows this tmpfs scaling ~0.75-0.9 from 6 to 24
    writers; see scripts/storage_probe.py). The reading still bounds
    any write-inclusive scaling number on ONE shared VM; a real cluster
    adds disks/object-store bandwidth with every node."""

    def one_rate(k: int) -> float:
        procs = []
        paths = []
        t0 = time.time()
        for i in range(k):
            p = os.path.join(target, f"_bwprobe_{os.getpid()}_{i}")
            paths.append(p)
            procs.append(
                subprocess.Popen(
                    ["dd", f"if=/dev/zero", f"of={p}", "bs=4M",
                     f"count={mb_per_proc // 4}", "conv=fsync"],
                    stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                )
            )
        for p in procs:
            p.wait()
        el = time.time() - t0
        for p in paths:
            try:
                os.unlink(p)
            except OSError:
                pass
        return k * mb_per_proc / el

    def rate(k: int) -> float:
        best = 0.0
        for _ in range(2):
            subprocess.run(["sync"], check=False)
            best = max(best, one_rate(k))
        return best

    r_n = rate(n)
    r_4n = rate(n4)
    return {
        "storage_mb_s_n": round(r_n, 0),
        "storage_mb_s_4n": round(r_4n, 0),
        "storage_bw_efficiency": round((r_4n / r_n) / (n4 / n), 3),
        "storage_target": target,
    }


def _hash_worker(seconds: float) -> int:
    import hashlib

    h = b"seed"
    t0 = time.time()
    n = 0
    while time.time() - t0 < seconds:
        for _ in range(1000):
            h = hashlib.sha256(h * 8).digest()
        n += 1000
    return n


def _fresh_jvm(
    args: list, *, settle: float, env: dict | None = None, cpus: int | None = None
) -> dict:
    """Run ``bench.py *args`` in a fresh process (so a fresh JVM) and
    return the JSON on its last stdout line.

    A sync + ``settle`` pause first: async writeback from the previous
    run otherwise lands in this one's timed window. ``cpus`` pins the
    child to CPUs 0..cpus-1 with taskset: at local[N] on a bigger box
    the JVM's GC/JIT/shuffle helper threads otherwise run on the idle
    cores, inflating the small-N level — a real N-core node has no free
    cores to donate."""
    subprocess.run(["sync"], check=False)
    time.sleep(settle)
    cmd = [sys.executable, __file__, *map(str, args)]
    if cpus is not None:
        cmd = ["taskset", "-c", f"0-{cpus - 1}", *cmd]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, env=env,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"{cmd} printed nothing (exit {proc.returncode}): {proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def _scaling_levels(cpus: int) -> tuple[int, int]:
    """The (N, 4N) core counts of the scaling pair.

    Sized to ~75% of the host: at 4N == all vCPUs the JVM's GC/shuffle
    threads + the Python driver compete with executor threads and
    depress the 4N level only, so big hosts keep ~25% headroom (6 vs 24
    on 32 vCPUs). Small hosts fall back to N = 1 (1 vs 4 on 4 vCPUs)."""
    n = max(1, int(cpus * 0.75) // 4)
    if 4 * n > cpus:
        raise ValueError(f"a 1-vs-4-core scaling pair needs >= 4 CPUs, have {cpus}")
    return n, 4 * n


def _scaling_pair(flag: str, levels: tuple[int, int], env: dict, best: dict) -> dict:
    """One time-paired rep: ``flag`` at 4N then at N, back to back (same
    host state), each in a fresh JVM pinned to its level's CPUs. Keeps
    the per-level best run in ``best``; returns ``{level: result}``."""
    pair = {}
    for par in reversed(levels):
        r = _fresh_jvm([flag, par], settle=5, env=env, cpus=par)
        pair[par] = r
        if par not in best or r["events_per_sec"] > best[par]["events_per_sec"]:
            best[par] = r
    return pair


def _ratio(pair: dict, levels: tuple[int, int]) -> float:
    n, n4 = levels
    return (pair[n4]["events_per_sec"] / pair[n]["events_per_sec"]) / (n4 / n)


def run_scaling_core(cpus: int) -> dict:
    """Focused core-probe rerun with WINDOW QUALIFICATION (r4 verdict
    Next-round #3): this VM's host throughput oscillates ±40% on
    multi-minute timescales, and rounds 3-4 spent their verdicts
    re-litigating which reps landed in degraded windows. The fix is
    structural: immediately before AND after EACH paired rep, run the
    framework-free sha256 ceiling probe (no JVM, no shuffle — the N→4N
    scaling ANY engine could reach in that window); the rep's window
    ceiling is the WORSE of the two, so a window that collapses mid-rep
    (a rep takes ~5 min; the pre-probe alone cannot see that far ahead —
    round-5 rep 7 qualified at 0.974 pre yet the 4N side ran in a
    throttled window) disqualifies itself. A rep whose window ceiling
    < 0.8 is recorded but marked unqualified and excluded from the
    headline median — the protocol qualifies windows up front instead
    of explaining them post-hoc. The loop keeps running (up to a bounded
    attempt cap) until it has the requested number of QUALIFIED reps."""
    levels = n, n4 = _scaling_levels(cpus)
    want = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "5"))
    max_attempts = int(os.environ.get("SPARK_GRAFT_SCALING_MAX_ATTEMPTS", str(want * 2)))
    qual_thresh = float(os.environ.get("SPARK_GRAFT_CEILING_QUALIFY", "0.8"))
    probe_s = float(os.environ.get("SPARK_GRAFT_CEILING_PROBE_S", "6"))
    env = dict(
        os.environ,
        SPARK_GRAFT_CONTENT_WORDS=os.environ.get("SPARK_GRAFT_CONTENT_WORDS", "150"),
    )
    rep_rows: list[dict] = []
    best: dict[int, dict] = {}
    attempt = 0
    while attempt < max_attempts and sum(r["qualified"] for r in rep_rows) < want:
        attempt += 1
        hw_pre = hw_scaling_probe(n, n4, seconds=probe_s)
        pair = _scaling_pair("--core-only", levels, env, best)
        hw_post = hw_scaling_probe(n, n4, seconds=probe_s)
        ceiling = min(hw_pre["hw_efficiency"], hw_post["hw_efficiency"])
        row = {
            "rep": attempt,
            "ceiling": ceiling,
            "ceiling_pre": hw_pre["hw_efficiency"],
            "ceiling_post": hw_post["hw_efficiency"],
            "qualified": ceiling >= qual_thresh,
            "ratio": round(_ratio(pair, levels), 3),
            "events_per_sec_n": pair[n]["events_per_sec"],
            "events_per_sec_4n": pair[n4]["events_per_sec"],
        }
        rep_rows.append(row)
        print(json.dumps(row), file=sys.stderr)

    qual = [r["ratio"] for r in rep_rows if r["qualified"]]
    allr = [r["ratio"] for r in rep_rows]
    return {
        "metric": "cdc_core_scaling_efficiency",
        "value": round(_median(qual or allr), 3),
        "unit": "ratio",
        "n": n, "4n": n4,
        "qualify_threshold": qual_thresh,
        "qualified_reps": len(qual),
        "attempts": attempt,
        "no_qualified_windows": not qual,
        "all_rep_median": round(_median(allr), 3),
        "rep_rows": rep_rows,
        "core_events_per_sec_n": best[n]["events_per_sec"],
        "core_events_per_sec_4n": best[n4]["events_per_sec"],
        "core_events": best[n]["events"],
    }


def run_scaling(cpus: int) -> dict:
    """N vs 4N throughput + efficiency for the compute core and the
    end-to-end replay, normalized by the host's
    framework-free ceiling and storage bandwidth at the same levels."""
    levels = n, n4 = _scaling_levels(cpus)
    # scaling evidence needs compute-dominated epochs: the metric
    # targets a 10^10-event replay where per-epoch orchestration is
    # noise, so measure with 2x events in 2 epochs (4x rows/epoch)
    # rather than the headline's 4 micro-epochs.
    n_events = 2 * _feed_events()
    # single-VM timings vary ±30-40% (hypervisor neighbors,
    # writeback); efficiency = median of time-paired ratios (below)
    reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "3"))
    env = dict(
        os.environ,
        SPARK_GRAFT_FEED_EVENTS_SCALED=str(n_events),
        SPARK_GRAFT_EPOCHS=os.environ.get("SPARK_GRAFT_EPOCHS", "2"),
        # the scaling loop does its own best-of-reps across fresh
        # JVMs; one inner rep per subprocess
        SPARK_GRAFT_CDC_REPS="1",
        # 1 KB contents (realistic source files) for both probes
        SPARK_GRAFT_CONTENT_WORDS=os.environ.get("SPARK_GRAFT_CONTENT_WORDS", "150"),
    )
    # tmpfs warehouse for the e2e probe: per-node storage bandwidth
    # scales with a real cluster; this VM's one disk does not
    if os.path.isdir("/dev/shm"):
        env.setdefault("SPARK_GRAFT_BENCH_DIR", "/dev/shm")
    results: dict[str, dict[int, dict]] = {"core": {}, "e2e": {}}
    ratios: dict[str, list[float]] = {"core": [], "e2e": []}
    # Host throughput on this VM drifts ±40% on multi-MINUTE
    # timescales (measured: the same pinned 24-core core probe hit
    # 348k and 499k ev/s an hour apart). A best-of-per-level ratio
    # therefore mixes host states — N's best from a fast window
    # against 4N's best from a slow one yields a meaningless
    # efficiency. The robust statistic is the MEDIAN OF TIME-PAIRED
    # RATIOS: each rep runs 4N then N back-to-back (same host
    # state), computes its own efficiency, and the median across
    # reps discards the drifted pairs. Per-level bests are still
    # reported for throughput context.
    # Two probes per pair:
    #   core — disk-free fused resolve+detect (executor scaling; on a
    #          cluster this is what added nodes buy)
    #   e2e  — full replay incl. the COW target's lake writes (bounded
    #          here by the ONE local disk both levels share — context)
    for _ in range(reps):
        for mode, flag in (("core", "--core-only"), ("e2e", "--cdc-only")):
            pair = _scaling_pair(flag, levels, env, results[mode])
            ratios[mode].append(_ratio(pair, levels))

    def eff(mode: str) -> float:
        return round(_median(ratios[mode]), 3)

    hw = hw_scaling_probe(n, n4)
    # probe the same storage target the e2e warehouses used
    bw = storage_bw_probe(n, n4, env.get("SPARK_GRAFT_BENCH_DIR") or tempfile.gettempdir())
    return {
        "metric": "cdc_scaling_efficiency",
        "value": eff("core"),
        "normalized_vs_host_ceiling": round(eff("core") / hw["hw_efficiency"], 3),
        **hw,
        **bw,
        "unit": "ratio",
        "n": n, "4n": n4,
        "core_events_per_sec_n": results["core"][n]["events_per_sec"],
        "core_events_per_sec_4n": results["core"][n4]["events_per_sec"],
        "core_events": results["core"][n]["events"],
        "core_ratio_reps": [round(x, 3) for x in ratios["core"]],
        "e2e_ratio_reps": [round(x, 3) for x in ratios["e2e"]],
        "e2e_efficiency": eff("e2e"),
        "e2e_events_per_sec_n": results["e2e"][n]["events_per_sec"],
        "e2e_events_per_sec_4n": results["e2e"][n4]["events_per_sec"],
        "e2e_phase_seconds_n": results["e2e"][n].get("phase_seconds"),
        "e2e_phase_seconds_4n": results["e2e"][n4].get("phase_seconds"),
        "e2e_events": n_events,
        "reps": reps,
        "sf": _sf_dir(),
    }


HEADLINE = [
    "cdc_apply_changes",
    "cdc_conflicts",
    "cdc_lineage_stats",
    "pricing_summary",
    "shipping_priority",
    "latest_order_per_customer",
    "dedup_exact",
    "dedup_minhash",
    "text_quality",
    "lang_id",
    "ann_topk",
    "order_percentiles",
    "events_value_bands",
    "bm25_search",
    "repetition_stats",
    "pagerank",
    "spend_deciles",
    "local_supplier_volume",
    "events_scd2",
    "fuzzy_part_match",
    "topk_orders_per_cust",
    # round 4 additions
    "kmeans_embeddings",
    "ann_ivf_kmeans",
    "scd2_incremental",
    "ivm_incremental_join",
    # late round 4: non-additive IVM family
    "ivm_topk_view",
    "ann_ivf_incremental",
    # final round-4 session: mergeable sketches
    "sketch_distinct_kmv",
    # round 5: quantile-sketch triad completer + maintained pipeline sample
    "sketch_quantiles",
    "pipeline_maintained_quantiles",
    # dedup_clusters_incremental is deliberately NOT here: its sf0.1 run is
    # fixture-dominated (~30 s full-corpus seed before the epoch) and its
    # performance evidence is the dedicated --cc-growth sweep
    # (BENCH_CC_GROWTH.json), not a per-query wall time.
]


def _queries_single_pass(parallelism: int, sf_dir: str, seed: int) -> dict[str, float]:
    """One fresh-JVM pass over HEADLINE in seed-shuffled order.

    Runs as a subprocess worker (``--queries-only``) so every rep gets
    a cold JVM: back-to-back in-process timings degrade monotonically
    (measured 54s → 85s → 122s for identical work — page-cache
    pressure + JVM aging), and a FIXED order additionally biases each
    query by its position. Shuffling per rep decorrelates position
    from identity; the median across reps is then per-query meaningful.
    """
    import random

    from data_ingestion_resolution_platform_spark.plans import queries as Q
    from data_ingestion_resolution_platform_spark.session import get_spark

    spark = get_spark("bench_queries", parallelism=parallelism)
    # warm the JVM outside any timed window: JIT + codegen + parquet
    # reader init otherwise land entirely on the first timed query
    spark.range(2_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    order = list(HEADLINE)
    random.Random(seed).shuffle(order)
    out: dict[str, dict] = {}
    for name in order:
        # fixture/operator split (r4 verdict #4): versioned-fixture
        # queries mark their lake-building sections with fixture_phase();
        # operator_s = total - fixture is the regression-meaningful number
        Q.reset_fixture_time()
        total = _timed(lambda: Q.QUERIES[name](spark, sf_dir).count())[1]
        out[name] = {"t": total, "f": round(Q.fixture_time(), 3)}
    spark.stop()
    return out


def run_queries(parallelism: int, sf_dir: str) -> dict[str, float]:
    """Per-query MEDIAN over ``$SPARK_GRAFT_QUERY_REPS`` fresh-JVM passes, each pass in a
    different randomized order — the same per-rep process isolation the
    CDC headline uses, extended to the per-query numbers so a
    regression can be told from JVM-aging / position noise."""
    reps = int(os.environ.get("SPARK_GRAFT_QUERY_REPS", "3"))
    samples: dict[str, list[dict]] = {name: [] for name in HEADLINE}
    for seed in range(reps):
        one = _fresh_jvm(["--queries-only", parallelism, seed], settle=2)
        for name, t in one.items():
            samples[name].append(t)
    out: dict[str, dict] = {}
    for name, ts in samples.items():
        med = _median(ts, key=lambda s: s["t"])
        out[name] = {
            "total_s": med["t"],
            "fixture_s": med["f"],
            "operator_s": round(med["t"] - med["f"], 3),
        }
    return out


def _cdc_median_of_reps(parallelism: int, n_events: int, reps: int = 3) -> dict:
    """Median of ``reps`` FRESH-JVM replays (one subprocess each,
    sync+settle between). In-process back-to-back reps degrade
    monotonically (measured 54s → 85s → 122s for identical work: page
    cache pressure + JVM aging poison every rep after the first), so
    per-rep process isolation is what makes the median meaningful —
    and matches how the driver actually invokes a cold bench."""
    env = dict(os.environ, SPARK_GRAFT_CDC_REPS="1",
               SPARK_GRAFT_FEED_EVENTS_SCALED=str(n_events))
    runs = [_fresh_jvm(["--cdc-only", parallelism], settle=3, env=env) for _ in range(reps)]
    med = dict(_median(runs, key=lambda r: r["events_per_sec"]))
    med["reps"] = reps
    med["events_per_sec_all_reps"] = sorted(r["events_per_sec"] for r in runs)
    med["codegen_compiles_per_rep"] = [n for r in runs for n in r["codegen_compiles_per_rep"]]
    return med


# every mode flag: ``python bench.py FLAG`` prints ``json.dumps(MODES[FLAG](cpus))``
MODES = {
    "--scaling-core": run_scaling_core,
    "--scaling": run_scaling,
    "--growth": run_growth,
    "--scd2-growth": run_scd2_growth,
    "--ivf-growth": run_ivf_growth,
    "--cms-growth": run_cms_growth,
    "--qsample-growth": run_qsample_growth,
    "--search-growth": run_search_growth,
    "--cc-growth": run_cc_growth,
    "--tri-growth": run_tri_growth,
    "--rescan-growth": run_rescan_growth,
    "--compact-policy": run_compaction_policy,
    "--ann-recall": run_ann_recall,
}


def main() -> None:
    sf_dir = _sf_dir()
    cpus = _cpus()
    # subprocess workers of run_queries / _cdc_median_of_reps / the
    # scaling modes: one fresh-JVM run, its result as the last line
    if "--queries-only" in sys.argv:
        i = sys.argv.index("--queries-only")
        par, seed = int(sys.argv[i + 1]), int(sys.argv[i + 2])
        print(json.dumps(_queries_single_pass(par, sf_dir, seed)))
        return
    if "--cdc-only" in sys.argv:
        par = int(sys.argv[sys.argv.index("--cdc-only") + 1])
        n_events = int(os.environ.get("SPARK_GRAFT_FEED_EVENTS_SCALED", str(_feed_events())))
        print(json.dumps(run_cdc_replay(par, n_events)))
        return
    if "--core-only" in sys.argv:
        par = int(sys.argv[sys.argv.index("--core-only") + 1])
        n_events = int(os.environ.get("SPARK_GRAFT_CORE_EVENTS", "10000000"))
        print(json.dumps(run_resolve_core(par, n_events)))
        return

    for flag, run in MODES.items():
        if flag in sys.argv:
            print(json.dumps(run(cpus)))
            return

    split = run_queries(cpus, sf_dir)
    cdc = _cdc_median_of_reps(cpus, _feed_events())
    print(json.dumps({
        "metric": "cdc_merge_apply_events_per_sec",
        "value": cdc["events_per_sec"],
        "unit": "events/sec",
        # per-query totals (round-comparable with BENCH_r01-r04)
        "queries": {n: s["total_s"] for n, s in split.items()},
        # r4 verdict #4: fixture vs operator decomposition — regressions
        # should be judged on operator_s (fixture = versioned-lake build)
        "queries_split": split,
        "sf": sf_dir,
        "cdc": cdc,
    }))


if __name__ == "__main__":
    main()
