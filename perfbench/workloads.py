"""The benchmark workloads: set-up, the timed closed loop, oracle checks.

Each workload is one client in a closed loop, like the reference worker
plus its API: it ingests one change epoch, then serves read rounds (a
point lookup, a per-repo page, the epoch's conflicts and the status
history) against the lake it just wrote, and only then ingests the next
epoch. The loop runs until ``--seconds`` have passed and the workload's
minimum epoch count is reached; outputs are then checked against an
oracle outside the timed window. Sizes are pinned here so that a run,
set-up and checks included, stays within the per-run budget on a 4-core
host.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import sys
import time
import traceback

import duckdb

from perfbench.datagen import dim_for, key_space, key_space_snapshot, write_feed_chunks

# Snapshot/bootstrap LSN: feed events of stream_views start after it.
WATERMARK = 1_000_000_000
READ_KINDS = ("lookup", "page", "conflicts", "status")


class Ctx:
    """State shared by the launcher and one workload run."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool, cpus: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.tracer = tracer
        self.ops: list[dict] = []
        self.read_rounds: list[dict] = []
        self.setup: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.window_start: float | None = None
        self.window_end: float | None = None
        self.deadline = 0.0
        self.warehouse = self.path("wh")
        # traced runs only: called with a local[1] session after the run's
        # own session has stopped
        self.after_stop = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def start_window(self) -> None:
        # write back set-up output so it does not compete with the window
        os.sync()
        if self.trace:
            self.extra["jvm.gc_s"] = -self.tracer.gc_seconds()
        self.window_start = time.perf_counter()
        self.deadline = self.window_start + self.seconds

    def loop(self, limit: int, min_ops: int):
        """Epoch indexes of the closed loop: at least ``min_ops``, then
        until the deadline, at most ``limit``."""
        i = 0
        while i < limit and (i < min_ops or time.perf_counter() < self.deadline):
            yield i
            i += 1

    def end_window(self, epochs: int) -> None:
        self.window_end = time.perf_counter()
        if self.trace:
            # GC seconds per epoch over the whole window, reads included
            self.extra["jvm.gc_s"] = (self.extra["jvm.gc_s"] + self.tracer.gc_seconds()) / max(1, epochs)

    def traced(self, kind: str) -> bool:
        """In a traced run every other epoch is traced (read rounds
        alternate the same way), so one run gives both the spans and the
        tracing overhead."""
        return self.trace and sum(o["kind"] == kind for o in self.ops) % 2 == 0

    def run_op(self, kind: str, name: str, epoch, rows: int, fn, traced: bool,
               reraise: bool = False):
        self.attempted += 1
        t0 = time.perf_counter()
        ok, out = True, None
        try:
            with self.tracer.op(name, epoch, traced):
                out = fn()
        except Exception:
            ok = False
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            if reraise:
                raise
        finally:
            self.ops.append({"kind": kind, "name": name, "s": time.perf_counter() - t0,
                             "rows": rows, "traced": traced, "ok": ok})
        return ok, out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.wrong.append(name)
            print(f"oracle mismatch: {name} {detail}", file=sys.stderr)


class Reads:
    """The reference's read endpoints (`main.py:147-203`) against the
    pipeline's lake: one round issues each kind once, in seeded order."""

    def __init__(self, ctx: Ctx, pipe, n_repos: int, paths_per_repo: int):
        self.ctx = ctx
        self.pipe = pipe
        self.keys = key_space(n_repos, paths_per_repo)
        self.rng = random.Random(ctx.seed)
        self.last: list[tuple] = []

    def _query(self, kind: str, epoch: int):
        from pyspark.sql import functions as F

        from data_ingestion_resolution_platform_spark.streaming.lineage import status_history

        if kind == "lookup":
            repo, path = self.rng.choice(self.keys)
            df = self.pipe.target.read().filter((F.col("repo") == repo) & (F.col("path") == path))
            return (repo, path), df.select("repo", "path", "lsn", "commit")
        if kind == "page":
            repo = self.rng.choice(self.keys)[0]
            df = self.pipe.target.read().filter(F.col("repo") == repo).orderBy("path").limit(50)
            return repo, df.select("path", "lsn")
        if kind == "conflicts":
            df = self.pipe.conflicts.read().filter(F.col("epoch") == epoch)
            return epoch, df.select("repo", "path", "n_signatures")
        return None, status_history(self.pipe.lineage.read()).select("epoch", "status", "n_conflicts")

    def round(self, epoch: int, timed: bool = True, kinds=READ_KINDS) -> None:
        kinds = list(kinds)
        self.rng.shuffle(kinds)
        traced = timed and self.ctx.trace and len(self.ctx.read_rounds) % 2 == 0
        self.last, total, ok_all = [], 0.0, True
        for kind in kinds:
            arg, df = self._query(kind, epoch)
            if not timed:
                df.collect()
                continue
            ok, rows = self.ctx.run_op("read", f"read.{kind}", epoch, 0, df.collect, traced)
            total += self.ctx.ops[-1]["s"]
            ok_all &= ok
            if ok:
                self.last.append((kind, arg, [tuple(r) for r in rows]))
        if timed and ok_all:
            self.ctx.read_rounds.append({"s": total, "traced": traced})

    def check(self, name: str, final: set[tuple], conflicts_by_epoch: dict[int, set]) -> None:
        """Check the last round: it ran after the last write, so every
        read saw the final state."""
        by_repo: dict[str, list] = {}
        for repo, path, lsn, _ in final:
            by_repo.setdefault(repo, []).append((path, lsn))
        status = {(e, "NEEDS_REVIEW" if c else "COMPLETED", len(c)) for e, c in conflicts_by_epoch.items()}
        for kind, arg, got in self.last:
            if kind == "lookup":
                want = [t for t in final if (t[0], t[1]) == arg]
                self.ctx.check(f"{name}.read.lookup", got == want, f"{arg}: {got} != {want}")
            elif kind == "page":
                self.ctx.check(f"{name}.read.page", got == sorted(by_repo.get(arg, []))[:50], str(arg))
            elif kind == "conflicts":
                self.ctx.check(f"{name}.read.conflicts", set(got) == conflicts_by_epoch[arg], str(arg))
            else:
                self.ctx.check(f"{name}.read.status", set(got) == status)


def _snapshot_source(snap_dir: str) -> str:
    return (
        f"(SELECT repo, path, {WATERMARK}::BIGINT AS lsn, 'I' AS op, commit, lang, content "
        f"FROM read_parquet('{snap_dir}/*.parquet'))"
    )


def _conflict_keys(glob: str) -> set[tuple]:
    """(repo, path, n_signatures) of the keys one epoch's events disagree
    on. The engine's signature is (lang, sha256(content)); distinct
    (lang, content) pairs count the same."""
    return set(duckdb.sql(
        f"SELECT repo, path, count(DISTINCT lang || chr(31) || content) AS n_sig "
        f"FROM read_parquet('{glob}') GROUP BY repo, path HAVING n_sig > 1"
    ).fetchall())


def _final_state(sources: list[str]) -> set[tuple]:
    """(repo, path, lsn, commit) of the last-writer-wins state over feed
    parquet globs and snapshot sub-queries."""
    union = " UNION ALL ".join(
        s if s.startswith("(") else
        f"(SELECT repo, path, lsn, op, commit, lang, content FROM read_parquet('{s}'))"
        for s in sources
    )
    return set(duckdb.sql(
        f"SELECT repo, path, lsn, commit FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY repo, path ORDER BY lsn DESC) AS rn FROM ({union})) "
        f"WHERE rn = 1 AND op <> 'D'"
    ).fetchall())


def _rows(df, *cols) -> set[tuple]:
    return {tuple(r) for r in df.select(*cols).collect()}


def _chunk(feed_dir: str, i: int) -> str:
    return os.path.join(feed_dir, f"chunk={i}", "*.parquet")


def _check_epochs(ctx: Ctx, name: str, stats: dict[int, dict], globs: dict[int, str]) -> dict[int, set]:
    """Each epoch's conflict-key count equals the oracle's; returns the
    oracle's conflict keys per epoch."""
    want = {e: _conflict_keys(g) for e, g in globs.items()}
    for e, st in stats.items():
        ctx.check(f"{name}.conflict_keys[{e}]", st["conflicts"] == len(want[e]),
                  f"{st['conflicts']} != {len(want[e])}")
    ctx.extra["resolve.conflict_keys"] = statistics.mean(len(c) for c in want.values())
    return want


def _layer_counts(ctx: Ctx, pipe, globs: dict[int, str]) -> None:
    """Counts for the traced run, taken after the window."""
    keys = events = 0
    for g in globs.values():
        k, n = duckdb.sql(f"SELECT count(DISTINCT (repo, path)), count(*) FROM read_parquet('{g}')").fetchone()
        keys, events = keys + k, events + n
    ctx.extra["resolve.winners_per_event"] = keys / events
    ctx.extra["audit.rows"] = (pipe.conflicts.read().count() + pipe.lineage.read().count()) / len(globs)
    ctx.extra["audit.live_dirs"] = float(
        pipe.conflicts.append_stats()["n_epoch_dirs"] + pipe.lineage.append_stats()["n_epoch_dirs"])


# -- replay_hot ---------------------------------------------------------------

HOT = dict(events_per_epoch=40_000, epochs=4, n_repos=100, paths_per_repo=50, skew=2.0,
           read_rounds=2)


def replay_hot(ctx: Ctx) -> None:
    """Bounded replay of a zipf-skewed feed over ~5k keys into a COW
    target with no side tables: the resolve shuffle and the audit
    appends do the work; the target stays tiny."""
    from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
    from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

    spark, h = ctx.spark, HOT
    feed_dir = ctx.path("feed")
    with ctx.phase("setup.feed"):
        n = h["events_per_epoch"] * h["epochs"]
        feed = synth_change_feed(
            spark, n, n_repos=h["n_repos"], paths_per_repo=h["paths_per_repo"], skew=h["skew"],
            seed=ctx.seed, partitions=2 * ctx.cpus,
        )
        sizes = write_feed_chunks(feed, feed_dir, n, h["epochs"])
        chunks = [spark.read.parquet(os.path.dirname(_chunk(feed_dir, i))) for i in range(h["epochs"])]
    with ctx.phase("setup.warmup"):
        warm = CDCPipeline(spark, "unused", ctx.path("warm"))
        warm.process_batch(chunks[0].limit(h["events_per_epoch"] // 4), 0)
        Reads(ctx, warm, h["n_repos"], h["paths_per_repo"]).round(0, timed=False)
    pipe = CDCPipeline(spark, "unused", ctx.warehouse)
    reads = Reads(ctx, pipe, h["n_repos"], h["paths_per_repo"])
    stats: dict[int, dict] = {}
    ctx.start_window()
    for i in ctx.loop(h["epochs"], min_ops=3):
        ok, st = ctx.run_op("epoch", "epoch", i, sizes[i],
                            lambda: pipe.process_batch(chunks[i], i), ctx.traced("epoch"))
        if not ok:
            break
        stats[i] = st
        for _ in range(h["read_rounds"]):
            reads.round(i)
    ctx.end_window(len(stats))
    if not stats:
        ctx.check("replay_hot.epochs", False, "no epoch committed")
        return

    globs = {i: _chunk(feed_dir, i) for i in stats}
    final = _final_state(list(globs.values()))
    ctx.check("replay_hot.target", _rows(pipe.target.read(), "repo", "path", "lsn", "commit") == final)
    reads.check("replay_hot", final, _check_epochs(ctx, "replay_hot", stats, globs))
    if ctx.trace:
        _layer_counts(ctx, pipe, globs)

        def scale_probe(spark1):
            """One epoch at local[1]: the single-thread baseline."""
            p1 = CDCPipeline(spark1, "unused", ctx.path("wh_1core"))
            c1 = spark1.read.parquet(os.path.dirname(_chunk(feed_dir, 1)))
            t0 = time.perf_counter()
            p1.process_batch(c1, 1)
            ctx.extra["scaling.events_per_s_1core"] = sizes[1] / (time.perf_counter() - t0)

        ctx.after_stop = scale_probe


# -- stream_views -------------------------------------------------------------

VIEWS = dict(n_repos=400, paths_per_repo=50, events_per_epoch=8_000, epochs=2, read_rounds=6)


def stream_views(ctx: Ctx) -> None:
    """Wide bootstrapped target, every maintained view on, fed through
    ``run_stream(available_now=True)``: per epoch the six views and the
    COW rewrite of every bucket dominate; the resolve shuffle is small."""
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
    from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

    spark, v = ctx.spark, VIEWS
    stage, snap_dir, feed_live = ctx.path("stage"), ctx.path("snapshot"), ctx.path("feed_live")
    with ctx.phase("setup.feed"):
        key_space_snapshot(spark, v["n_repos"], v["paths_per_repo"], ctx.seed).write.parquet(snap_dir)
        snap = spark.read.parquet(snap_dir)
        n = v["events_per_epoch"] * v["epochs"]
        feed = synth_change_feed(
            spark, n, n_repos=v["n_repos"], paths_per_repo=v["paths_per_repo"], skew=1.0,
            seed=ctx.seed, partitions=ctx.cpus,
        ).withColumn("lsn", F.col("lsn") + WATERMARK + 1)
        # a streaming micro-batch takes at most the source's
        # maxFilesPerTrigger (8) files: one chunk is one epoch
        sizes = write_feed_chunks(feed, stage, n, v["epochs"], WATERMARK + 1, files_per_chunk=8)
        os.makedirs(feed_live)
    with ctx.phase("setup.bootstrap"):
        pipe = CDCPipeline(
            spark, feed_live, ctx.warehouse, maintain_stats=True, maintain_view=True,
            maintain_leaderboard=True, maintain_freq=True, maintain_quantiles=True,
            maintain_history=True,
        )
        pipe.seed_dim(dim_for(snap))
        pipe.bootstrap(snap, WATERMARK)
    reads = Reads(ctx, pipe, v["n_repos"], v["paths_per_repo"])
    with ctx.phase("setup.warmup"):
        # no epoch has run yet: the audit tables are still empty
        reads.round(-1, timed=False, kinds=("lookup", "page"))

    def live(k: int) -> str:
        return os.path.join(feed_live, f"e{k:03d}-*.parquet")

    orig = pipe.process_batch
    stats: dict[int, dict] = {}

    def sink(batch, epoch):
        ok, st = ctx.run_op("epoch", "epoch", epoch, sizes[epoch],
                            lambda: orig(batch, epoch), ctx.traced("epoch"), reraise=True)
        stats[epoch] = st
        return st

    # run_stream's foreachBatch calls self.process_batch: time each call
    pipe.process_batch = sink
    gaps = []
    ctx.start_window()
    for k in ctx.loop(v["epochs"], min_ops=1):
        src = os.path.dirname(_chunk(stage, k))
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                os.rename(os.path.join(src, f), os.path.join(feed_live, f"e{k:03d}-{f}"))
        t0 = time.perf_counter()
        try:
            pipe.run_stream(available_now=True).awaitTermination()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            break
        gaps.append(time.perf_counter() - t0 - ctx.ops[-1]["s"])
        for _ in range(v["read_rounds"]):
            reads.round(k)
    ctx.end_window(len(stats))
    if not stats:
        ctx.check("stream_views.epochs", False, "no epoch committed")
        return
    ctx.extra["stream.gap_s"] = statistics.mean(gaps) if gaps else 0.0

    target = pipe.target.read()
    globs = {k: live(k) for k in stats}
    final = _final_state([_snapshot_source(snap_dir)] + list(globs.values()))
    ctx.check("stream_views.target", _rows(target, "repo", "path", "lsn", "commit") == final)
    reads.check("stream_views", final, _check_epochs(ctx, "stream_views", stats, globs))
    _check_views(ctx, pipe, target)
    if ctx.trace:
        _layer_counts(ctx, pipe, globs)


def _check_views(ctx: Ctx, pipe, target) -> None:
    """Each maintained side table equals its batch recompute over the
    final target."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_ingestion_resolution_platform_spark.operators.sketch import cms_cells, kmv_hash

    stats = target.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n_paths"), F.sum(F.length("content")).alias("total_bytes"))
    scols = ("repo", "n_paths", "total_bytes")
    ctx.check("stream_views.stats",
              _rows(pipe.stats.read().filter("n_paths > 0"), *scols) == _rows(stats, *scols))
    vcols = ("repo", "path", "lang", "commit", "owner", "tier")
    joined = target.select("repo", "path", "lang", "commit").join(pipe.dim.read(), "repo")
    ctx.check("stream_views.join", _rows(pipe.view.read(), *vcols) == _rows(joined, *vcols))
    w = Window.partitionBy("repo").orderBy(F.col("lb_val").desc(), "path")
    lb = (target.select("repo", "path", F.length("content").cast("long").alias("lb_val"))
          .withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= pipe.leaderboard_k))
    lcols = ("repo", "path", "lb_val")
    ctx.check("stream_views.leaderboard", _rows(pipe.leaderboard.read(), *lcols) == _rows(lb, *lcols))
    cells = cms_cells(target, F.expr(pipe.freq_item), depth=pipe.freq_depth, width=pipe.freq_width)
    fcols = ("d", "bucket", "cnt")
    ctx.check("stream_views.freq",
              _rows(pipe.freq.read().filter("cnt > 0"), *fcols) == _rows(cells, *fcols))
    wq = Window.partitionBy("repo").orderBy(F.col("qs_h").asc(), "path")
    qs = (target.select("repo", "path",
                        kmv_hash(F.concat_ws("\x1f", "repo", "path")).alias("qs_h"),
                        F.length("content").cast("long").alias("qs_val"))
          .withColumn("_rn", F.row_number().over(wq)).filter(F.col("_rn") <= pipe.quantile_k))
    qcols = ("repo", "path", "qs_h", "qs_val")
    ctx.check("stream_views.quantiles", _rows(pipe.qsample.read(), *qcols) == _rows(qs, *qcols))
    hcols = ("repo", "path", "commit", "lang", F.sha2("content", 256))
    ctx.check("stream_views.history",
              _rows(pipe.history.open_versions(), *hcols) == _rows(target, *hcols))


WORKLOADS = {
    "replay_hot": replay_hot,
    "stream_views": stream_views,
}
