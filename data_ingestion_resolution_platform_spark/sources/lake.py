"""Parquet-backed lake tables with MERGE semantics + epoch ledger.

On a production cluster this module is a thin wrapper over Iceberg
(``MERGE INTO target USING batch ON keys``, table ``PARTITIONED BY
(bucket(N, key))``, snapshot isolation from the catalog). This sandbox
has no Iceberg runtime (no network for jars), so the identical
semantics are implemented over plain parquet:

- **copy-on-write MERGE**: ``target LEFT ANTI JOIN batch-keys``
  (survivors, with the small batch-key side broadcast) ``UNION ALL``
  batch upserts — exactly the rewrite Iceberg's COW MERGE performs.
- **bucketed COW** (``PartitionedLakeTable``): the target is hash-
  bucketed on the natural key; a MERGE reads and rewrites *only the
  buckets the batch touches* — Iceberg's ``bucket(N, repo)`` partition
  pruning. Per-bucket version pointers keep crash-replay convergent.
- **atomic versioned commits**: writes land in ``v=<n>/`` and a
  ``_LATEST`` pointer file is atomically renamed.
- **exactly-once epoch ledger**: ``_epochs/<id>.json`` markers make
  re-delivered epochs no-ops — the reference's COMPLETED-status guard
  (`/root/reference/backend/worker.py:236-238`) as a commit ledger.

MERGE idempotency under partial failure: re-running a crashed epoch
recomputes each touched bucket from (surviving old version, same
deterministic batch) — per-bucket pointers only advance on completed
writes, so replay converges to the same state (SURVEY.md §7.4).

One MERGE contract, the same on all three tables (``LakeTable``,
``PartitionedLakeTable``, ``MorLakeTable``):
``merge(batch, keys, epoch_id=None, before_commit=None)``.

- **delete marker**: a batch row whose boolean :data:`DELETE_COL` is
  true deletes its key; a row whose marker is false upserts. NULL
  counts as a delete — the same rule as the views' ``op != 'D'``
  post-image filter, so a target and its views never disagree. A
  batch without the column is all upserts. The marker steers the
  MERGE and never reaches a stored schema.
- **ledger**: a MERGE under an already-committed ``epoch_id`` is a
  no-op returning ``{"skipped": True}``.
- **gate**: ``before_commit`` runs after the epoch is staged and
  before anything becomes visible; if it raises, the staged files
  are discarded, the table and its ledger stay as they were, and the
  error propagates.

- **empty state**: a table gets its schema before it holds data
  (:meth:`_MergeTable.create`, Iceberg's CREATE TABLE; a MERGE creates
  its table from the batch): ``read()`` is then a zero-row file scan.

Every layout's ``lookup(keys)`` is the one read of "the stored rows for
these keys"; the maintainers read their touched state through it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: The change-data feed (CDF) contract every maintainer reads, defined
#: once beside :func:`snapshot_diff`, which produces it: each change
#: row carries ``CHANGE_COL`` holding one of the four change types.
CHANGE_COL = "change_type"
INSERT = "insert"
DELETE = "delete"
PREIMAGE = "update_preimage"
POSTIMAGE = "update_postimage"
#: change type → contribution sign: after-images add, before-images
#: (deletes carry the before-image) retract
CHANGE_SIGN = {INSERT: 1, POSTIMAGE: 1, PREIMAGE: -1, DELETE: -1}
#: The MERGE delete marker (see the module docstring): a batch row
#: whose boolean ``DELETE_COL`` is true (or NULL) deletes its key.
DELETE_COL = "_del"


def change_sign() -> Column:
    """The row's ±1 :data:`CHANGE_SIGN` (NULL for an unknown type)."""
    return F.create_map(*[F.lit(x) for kv in CHANGE_SIGN.items() for x in kv])[
        F.col(CHANGE_COL)
    ]


def signed(changes: DataFrame) -> DataFrame:
    """``changes`` with its :func:`change_sign` as ``_sign``; rows of an
    unknown change type are dropped."""
    return changes.withColumn("_sign", change_sign()).filter(F.col("_sign").isNotNull())


def is_positive() -> Column:
    """The rows that carry an after-image (insert / update_postimage)."""
    return F.col(CHANGE_COL).isin(INSERT, POSTIMAGE)


def is_retraction() -> Column:
    """The rows that retract a before-image (delete / update_preimage)."""
    return F.col(CHANGE_COL).isin(DELETE, PREIMAGE)


def _write_json(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON atomically: a reader sees
    the old file or the new one, never a partial write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _read_json(path: str, default):
    """``path``'s JSON, or ``default`` when the file does not exist."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data_files) under ``path`` — one local stat pass at WRITE
    time, the parquet twin of Iceberg's snapshot summary
    (``total-files-size`` / ``total-data-files``). Compaction policies
    read these numbers off the manifest; they never re-walk storage on
    the read path."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


def snapshot_diff(
    before: DataFrame,
    after: DataFrame,
    keys: Sequence[str],
    include_preimages: bool = False,
) -> DataFrame:
    """Key-level change feed between two table snapshots (the Iceberg/
    Delta CDF shape): one row per changed key with ``change_type`` in
    ``insert`` / ``update_postimage`` / ``delete``, carrying the after-
    image for inserts/updates and the before-image for deletes.

    Plan shape: ONE full-outer shuffle join on the natural key, then
    null-safe column comparison (``<=>``) — no window, no sort, no
    driver-side state, so it scales with the snapshot size like any
    equi-join (AQE handles skewed keys). It compares every non-key
    column present in both snapshots; columns added by schema evolution
    between the snapshots surface as updates only for keys whose
    compared columns changed.

    ``include_preimages=True`` additionally emits an ``update_preimage``
    row (the before-image) for every updated key — the Delta CDF shape
    that makes the feed *invertible*, which downstream incremental
    aggregate maintenance needs to subtract a key's old contribution
    (see ``operators.ivm``). Still one shuffle: both images ride the
    same full-outer join row and fan out via a 2-element explode.
    """
    key_list = list(keys)
    compare = [c for c in after.columns if c in set(before.columns) and c not in key_list]
    a = before.select(
        *key_list,
        F.lit(True).alias("_in_a"),
        *[F.col(c).alias(f"_a_{c}") for c in compare],
    )
    b = after.select(
        *key_list,
        F.lit(True).alias("_in_b"),
        *[F.col(c).alias(f"_b_{c}") for c in compare],
    )
    j = a.join(b, on=key_list, how="full_outer")
    changed = F.lit(False)
    for c in compare:
        changed = changed | ~(F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}")))
    change_type = (
        F.when(F.col("_in_a").isNull(), F.lit(INSERT))
        .when(F.col("_in_b").isNull(), F.lit(DELETE))
        .when(changed, F.lit(POSTIMAGE))
    )
    if include_preimages:
        def img(change: str, side: str) -> F.Column:
            return F.struct(
                F.lit(change).alias(CHANGE_COL),
                *[F.col(f"_{side}_{c}").alias(c) for c in compare],
            )

        rows = (
            F.when(F.col("_in_a").isNull(), F.array(img(INSERT, "b")))
            .when(F.col("_in_b").isNull(), F.array(img(DELETE, "a")))
            .when(changed, F.array(img(PREIMAGE, "a"), img(POSTIMAGE, "b")))
        )
        # explode skips NULL arrays (unchanged keys) — no extra filter
        ex = j.select(*key_list, F.explode(rows).alias("_chg"))
        return ex.select(
            *key_list,
            F.col(f"_chg.{CHANGE_COL}").alias(CHANGE_COL),
            *[F.col(f"_chg.{c}").alias(c) for c in compare],
        )
    out_vals = [
        F.when(F.col("_in_b").isNull(), F.col(f"_a_{c}"))
        .otherwise(F.col(f"_b_{c}"))
        .alias(c)
        for c in compare
    ]
    return (
        j.select(*key_list, change_type.alias(CHANGE_COL), *out_vals)
        .filter(F.col(CHANGE_COL).isNotNull())
    )


def apply_changelog(
    table: "LakeTable",
    changes: DataFrame,
    keys: Sequence[str],
    epoch_id: str | int | None = None,
) -> dict:
    """Consume a :func:`snapshot_diff` changelog on a downstream
    replica: inserts/updates upsert the after-image, deletes remove the
    key, and the ``change_type`` marker never enters the replica's
    schema. Applying the changelog of (v_from → v_to) to a replica at
    v_from converges it to v_to exactly — incremental downstream
    replication instead of full-snapshot copies, with the same
    exactly-once epoch ledger as every other MERGE."""
    marked = changes.withColumn(DELETE_COL, F.col(CHANGE_COL) == DELETE)
    return table.merge(marked.drop(CHANGE_COL), keys, epoch_id=epoch_id)


class _EpochLedger:
    def __init__(self, root: str):
        self.dir = os.path.join(root, "_epochs")
        os.makedirs(self.dir, exist_ok=True)

    def committed(self, epoch_id: str | int) -> bool:
        return os.path.exists(os.path.join(self.dir, f"{epoch_id}.json"))

    def record(self, epoch_id: str | int, stats: dict) -> None:
        _write_json(
            os.path.join(self.dir, f"{epoch_id}.json"),
            {"epoch": str(epoch_id), "ts": time.time(), **stats},
        )

    def all(self) -> list[str]:
        return sorted(
            os.path.splitext(p)[0] for p in os.listdir(self.dir) if p.endswith(".json")
        )


class CommitConflict(RuntimeError):
    """Another writer claimed this version first. The caller's snapshot
    is stale: re-read the table, recompute the batch against the new
    state, and retry the write (Iceberg's optimistic-concurrency retry
    loop)."""


class _Versioned:
    """A directory of ``v=N`` snapshots with an atomic ``_LATEST`` pointer.

    Concurrent writers are serialized optimistically: each writer must
    :meth:`claim` its target version (atomic ``O_EXCL`` create — the
    CAS; maps to a conditional PUT / catalog compare-and-swap on a real
    object store) BEFORE writing data. Exactly one racer wins a given
    version; losers get :class:`CommitConflict` and must recompute from
    the newly-visible snapshot. A claim is only grantable when its base
    version is already committed, so a loser can never overwrite a
    concurrent winner's rows with a merge computed against the stale
    base."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _latest(self) -> str:
        return os.path.join(self.root, "_LATEST")

    def current(self) -> int:
        try:
            with open(self._latest) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def dir_for(self, v: int) -> str:
        return os.path.join(self.root, f"v={v}")

    def _claim_path(self, v: int) -> str:
        return os.path.join(self.root, f"_CLAIM_v{v}")

    #: a live writer must commit or release within this window; a claim
    #: older than this whose owner can't be verified alive is stealable
    CLAIM_TTL_SECONDS = 600.0

    def _claim_is_stale(self, path: str) -> bool:
        """True if the claim's owner is provably dead (pid gone on this
        host — the versioned layout is single-host by construction; an
        object-store port replaces this with conditional-PUT leases) or
        the claim exceeded :attr:`CLAIM_TTL_SECONDS`."""
        try:
            with open(path) as f:
                meta = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            # vanished (owner released — not stale) or unreadable/partial
            # (crashed mid-write — age it out by mtime)
            try:
                return time.time() - os.path.getmtime(path) > self.CLAIM_TTL_SECONDS
            except OSError:
                return False
        pid = meta.get("pid")
        if isinstance(pid, int):
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                return True  # owner process is gone
            except PermissionError:
                pass  # alive, owned by another user
        return time.time() - float(meta.get("ts", 0.0)) > self.CLAIM_TTL_SECONDS

    def claim(self, v: int) -> None:
        """Atomically claim the right to write version ``v``.

        Raises :class:`CommitConflict` if another writer holds it, or if
        ``v``'s base is not yet the committed current version (the racer
        that claimed the intermediate version hasn't finished — the
        caller's snapshot is stale either way). Release on write
        failure via :meth:`release`; the commit pointer swap consumes
        the claim on success.

        A claim left behind by a writer that died between claim and
        commit no longer wedges the table: if the recorded owner pid is
        dead or the claim is older than :attr:`CLAIM_TTL_SECONDS`, the
        next claimant steals it (remove + one retry of the O_EXCL
        create — at most one racer wins the recreate)."""
        if self.current() != v - 1:
            raise CommitConflict(
                f"{self.root}: version {v} has base {v - 1} but current is "
                f"{self.current()} — stale snapshot, re-read and retry"
            )
        path = self._claim_path(v)
        for attempt in (0, 1):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if attempt == 0 and self._claim_is_stale(path):
                    try:  # steal: remove is race-safe, O_EXCL re-decides
                        os.remove(path)
                    except FileNotFoundError:
                        pass
                    continue
                raise CommitConflict(
                    f"{self.root}: version {v} already claimed by a live "
                    "concurrent writer — re-read and retry"
                ) from None
        with os.fdopen(fd, "w") as f:
            json.dump({"pid": os.getpid(), "ts": time.time()}, f)

    def release(self, v: int) -> None:
        """Abandon a claim after a failed write so the table isn't
        wedged. A writer that dies without releasing leaves the claim
        behind; :meth:`claim` steals it once the owner pid is dead or
        the claim ages past :attr:`CLAIM_TTL_SECONDS` (see
        :meth:`_claim_is_stale`), and this method doubles as the
        operator's force-release for anything earlier."""
        try:
            os.remove(self._claim_path(v))
        except FileNotFoundError:
            pass

    def commit(self, v: int) -> None:
        tmp = self._latest + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._latest)

    def vacuum(self, keep: int = 2) -> None:
        cur = self.current()
        for name in os.listdir(self.root):
            if name.startswith("v="):
                v = int(name.split("=", 1)[1])
                if v <= cur - keep:
                    shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
            elif name.startswith("_CLAIM_v"):
                # consumed claims (version committed) are dead metadata
                v = int(name[len("_CLAIM_v"):])
                if v <= cur:
                    self.release(v)


class _MergeTable:
    """The module's MERGE contract (ledger, marker split, gate) over a
    layout's three steps: ``_stage(batch, keys, epoch_id)`` writes the
    epoch where no reader sees it and returns a token, ``_discard``
    removes those files, ``_commit`` makes them visible, records the
    ledger and returns the MERGE stats. Each layout also provides
    ``exists()`` (the table holds committed data) and ``read()``, which
    falls back to :meth:`_read_empty`; :meth:`lookup` is built on it."""

    ledger: _EpochLedger

    @property
    def _empty_dir(self) -> str:
        # not "_"-prefixed: Spark's file listing skips such paths
        return os.path.join(self.root, "empty")

    def create(self, schema: T.StructType) -> None:
        """Give the table its empty state: one zero-row parquet file of
        ``schema`` (a local footer-only write, no Spark job) that
        ``read()`` scans while no data is live. Idempotent, and writes
        no ledger entry. An in-memory empty frame would not do: the
        optimizer folds it away, so the first epoch would plan, and
        compile, other code than every later one."""
        if os.path.isdir(self._empty_dir):
            return
        tmp = os.path.join(self.root, f"_tmp_empty_{os.getpid()}_{time.time_ns()}")
        os.makedirs(tmp)
        pq.write_table(
            pa.Table.from_pylist([], schema=to_arrow_schema(schema)),
            os.path.join(tmp, "part-00000.parquet"),
        )
        try:
            os.rename(tmp, self._empty_dir)
        except OSError:  # a concurrent creator won
            shutil.rmtree(tmp, ignore_errors=True)

    def _read_empty(self, schema: T.StructType | None = None) -> DataFrame:
        if not os.path.isdir(self._empty_dir):
            raise FileNotFoundError(f"lake table {self.root} has no data")
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._empty_dir)

    def lookup(self, keys: DataFrame) -> DataFrame:
        """The stored rows whose ``keys.columns`` match a row of the
        small ``keys`` frame (a zero-row file scan while the table is
        empty, so its first probe plans like every later one).

        The one key-probe of a stored table: the current snapshot
        LEFT SEMI JOIN the broadcast ``keys``, so the stored side never
        shuffles. ``keys`` may name any subset of the columns (a group
        prefix of a composite key probes whole groups)."""
        return self.read().join(F.broadcast(keys), on=keys.columns, how="left_semi")

    def epoch_committed(self, epoch_id: str | int) -> bool:
        return self.ledger.committed(epoch_id)

    def committed_epochs(self) -> list[str]:
        return self.ledger.all()

    def merge(
        self,
        batch: DataFrame,
        keys: Sequence[str],
        epoch_id: str | int | None = None,
        before_commit: Callable[[], None] | None = None,
    ) -> dict:
        """MERGE INTO this USING batch ON keys; ``batch`` must be
        key-unique (resolve upstream). Iceberg equivalent::

            MERGE INTO t USING b ON <keys>
            WHEN MATCHED AND b._del IS NOT FALSE THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED AND b._del IS FALSE THEN INSERT *
        """
        if epoch_id is not None and self.ledger.committed(epoch_id):
            return {"skipped": True, "epoch": str(epoch_id)}
        self.create(batch.drop(DELETE_COL).schema)
        # normalize the marker to a non-NULL boolean: NULL deletes
        marker = (
            F.coalesce(F.col(DELETE_COL).cast("boolean"), F.lit(True))
            if DELETE_COL in batch.columns
            else F.lit(False)
        )
        token = self._stage(batch.withColumn(DELETE_COL, marker), list(keys), epoch_id)
        if before_commit is not None:
            try:
                before_commit()
            except BaseException:
                self._discard(token)
                raise
        return self._commit(token, epoch_id)

    @staticmethod
    def _upserts(batch: DataFrame) -> DataFrame:
        """The rows of a marked batch that upsert, marker dropped."""
        return batch.filter(~F.col(DELETE_COL)).drop(DELETE_COL)


class LakeTable(_MergeTable):
    """Single-snapshot table: overwrite / merge, exactly-once.

    ``append_only=True`` switches to a cheap append layout (one subdir
    per epoch under ``data/``; no rewrite of prior data), the only one
    that takes :meth:`append` — for lineage/conflict/audit tables that
    never update rows. Epoch appends are
    small relative to the table, so after 10^4 epochs a full read opens
    10^4s of tiny files: :meth:`compact_appends` folds the accumulated
    dirs into a size-targeted file set (Iceberg ``rewrite_data_files``
    binpack). Every append stream runs one measured auto-policy by
    default — compact when ≥ ``compact_min_dirs`` (16) epoch dirs are
    live AND the mean data-file size has fallen below
    ``compact_small_file_bytes`` (64 MiB): the small-file read-
    amplification signal, not a blind cadence. 16 dirs keep short test
    runs fold-free; ``compact_small_file_bytes=None`` disarms it.

    Compaction commit protocol (crash-safe, same shape as the MoR
    manifest flip): consolidated files land under an invisible
    ``_compacted/_tmp_g<n>`` staging dir, rename to ``_compacted/g<n>``
    (still invisible — readers resolve the live generation through the
    atomic ``_APPENDS`` manifest, never by listing), then ONE
    ``os.replace`` of the manifest makes the new generation + folded-dir
    set visible together; folded epoch dirs and the prior generation are
    deleted best-effort after the flip (a crash between leaves them
    orphaned but invisible, cleaned by the next compaction). The epoch
    LEDGER is untouched — folding never changes which epochs are
    committed, so at-least-once redelivery stays exactly-once.
    """

    #: the size :meth:`compact_appends` aims each output file at
    COMPACT_TARGET_FILE_BYTES = 128 << 20

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        append_only: bool = False,
        compact_small_file_bytes: int | None = 64 << 20,
        compact_min_dirs: int = 16,
    ):
        self.spark = spark
        self.root = root
        self.append_only = append_only
        self.compact_small_file_bytes = compact_small_file_bytes
        self.compact_min_dirs = compact_min_dirs
        os.makedirs(root, exist_ok=True)
        self.ledger = _EpochLedger(root)
        self.versions = _Versioned(root)

    # -- reads -----------------------------------------------------------
    @property
    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def exists(self) -> bool:
        if self.append_only:
            dirs, comp = self._live_append_dirs()
            return bool(dirs) or comp is not None
        return self.versions.current() > 0

    # -- append-only layout resolution ------------------------------------
    @property
    def _appends_manifest_path(self) -> str:
        return os.path.join(self.root, "_APPENDS")

    def _appends_manifest(self) -> dict:
        return _read_json(self._appends_manifest_path, {"gen": 0, "folded": []})

    def _compact_gen_dir(self, gen: int) -> str:
        return os.path.join(self.root, "_compacted", f"g{gen}")

    def _live_append_dirs(self) -> tuple[list[str], str | None]:
        """(live epoch-append dirs, live compacted-generation dir) —
        visibility is decided by the ``_APPENDS`` manifest alone: a dir
        listed as folded is dead even if its delete never ran, and a
        compacted generation is dead until the manifest points at it."""
        m = self._appends_manifest()
        folded = set(m["folded"])
        subs = (
            sorted(
                n
                for n in os.listdir(self._data_dir)
                if not n.startswith(("_", ".")) and n not in folded
            )
            if os.path.isdir(self._data_dir)
            else []
        )
        comp = self._compact_gen_dir(m["gen"]) if m["gen"] else None
        return [os.path.join(self._data_dir, n) for n in subs], comp

    def read(self, version: int | None = None) -> DataFrame:
        """Current snapshot, or time-travel to an older ``version`` if
        it is still within the vacuum retention window (Iceberg
        ``VERSION AS OF``)."""
        if self.append_only:
            if version is not None:
                raise ValueError("append-only tables are not versioned")
            dirs, comp = self._live_append_dirs()
            if not dirs and comp is None:
                raise FileNotFoundError(f"lake table {self.root} has no data")
            parts = []
            if dirs:
                # basePath surfaces the e=<epoch> dirname as a column
                parts.append(
                    self.spark.read.option("basePath", self._data_dir).parquet(*dirs)
                )
            if comp is not None:
                # compacted files carry e as a regular column — same
                # read schema either way
                parts.append(self.spark.read.parquet(comp))
            if len(parts) == 1:
                return parts[0]
            a, b = parts
            if dict(a.dtypes).get("e") != dict(b.dtypes).get("e"):
                b = b.withColumn("e", F.col("e").cast(dict(a.dtypes)["e"]))
            return a.unionByName(b, allowMissingColumns=True)
        v = self.versions.current() if version is None else version
        if v == 0:
            return self._read_empty()
        d = self.versions.dir_for(v)
        if not os.path.isdir(d):
            raise FileNotFoundError(
                f"version {v} of {self.root} is missing (vacuumed or never written)"
            )
        return self.spark.read.parquet(d)

    def current_version(self) -> int:
        return self.versions.current()

    def scan(self, predicates: Sequence[tuple]) -> DataFrame:
        """Stats-pruned predicate scan (Iceberg manifest skipping, see
        ``sources/skipping.py``): files whose footer min/max bounds
        cannot satisfy the conjunction are never opened; survivors get
        the full predicate as a residual filter, so results are always
        identical to ``read().filter(...)``. The planning report of the
        most recent scan is kept on ``self.last_scan_report``."""
        from data_ingestion_resolution_platform_spark.sources.skipping import pruned_scan

        if self.append_only:
            live, comp = self._live_append_dirs()
            dirs = live + ([comp] if comp else [])
        else:
            v = self.versions.current()
            if v == 0:
                raise FileNotFoundError(f"lake table {self.root} has no committed version")
            dirs = [self.versions.dir_for(v)]
        schema = None
        if self.append_only:
            # file-level scans never surface the e=<epoch> dirname (no
            # basePath), and compacted files carry e as a data column —
            # pin the scan schema to data columns so both file kinds
            # project identically
            schema = T.StructType([f for f in self.read().schema.fields if f.name != "e"])
        df, self.last_scan_report = pruned_scan(
            self.spark, self.root, dirs, predicates, schema=schema
        )
        return df

    def changelog(
        self,
        v_from: int,
        v_to: int,
        keys: Sequence[str],
        include_preimages: bool = False,
    ) -> DataFrame:
        """Row-level diff between two retained snapshots — the engine's
        change-data-feed: what a MERGE epoch (or several) did to the
        table, recoverable after the fact. See :func:`snapshot_diff`;
        ``include_preimages=True`` yields the invertible Delta-CDF shape
        that :mod:`operators.ivm` consumes."""
        return snapshot_diff(
            self.read(version=v_from),
            self.read(version=v_to),
            keys,
            include_preimages=include_preimages,
        )

    # -- writes ----------------------------------------------------------
    def overwrite(self, df: DataFrame) -> None:
        """Full-refresh rebuild (S10/M4: the reference's delete-then-
        reinsert finalize, `main.py:158-159`) — but atomic."""
        v = self.versions.current() + 1
        self.versions.claim(v)  # CommitConflict → caller re-reads + retries
        try:
            df.write.mode("overwrite").parquet(self.versions.dir_for(v))
            self.versions.commit(v)
        except Exception:
            self.versions.release(v)
            raise
        self.versions.vacuum()

    def append(
        self,
        df: DataFrame,
        epoch_id: str | int | None = None,
        max_files: int | None = 4,
    ) -> None:
        """S9: append (bronze/audit) to an ``append_only`` table: one
        epoch subdir — no rewrite of prior data, true O(batch) cost.

        ``max_files`` coalesces the write: audit outputs are small
        relative to their input (per-key conflicts, per-partition
        lineage), and a 32-task write of a 30k-row frame costs more in
        task launch + commit protocol than the write itself. Pass
        ``None`` to keep the natural partitioning for large appends.
        """
        if not self.append_only:
            raise ValueError("append applies to append-only tables")
        if epoch_id is not None and self.ledger.committed(epoch_id):
            return
        sub = f"e={epoch_id if epoch_id is not None else int(time.time() * 1000)}"
        out = df.coalesce(max_files) if max_files else df
        out.write.mode("overwrite").parquet(os.path.join(self._data_dir, sub))
        if epoch_id is not None:
            self.ledger.record(epoch_id, {"mode": "append"})
        self.maybe_compact_appends()

    # -- append-only compaction -------------------------------------------
    def append_stats(self) -> dict:
        """Live storage shape of the append layout: epoch-dir count,
        data-file count/bytes and mean file size — the small-file
        signal the auto-policy reads. One local stat walk; on a real
        lakehouse these are manifest columns (Iceberg
        ``total-data-files`` / ``total-files-size``)."""
        dirs, comp = self._live_append_dirs()
        b = nf = 0
        for d in dirs + ([comp] if comp else []):
            db, df_ = _dir_stats(d)
            b += db
            nf += df_
        return {
            "n_epoch_dirs": len(dirs),
            "compacted_gen": self._appends_manifest()["gen"],
            "n_files": nf,
            "bytes": b,
            "avg_file_bytes": b / nf if nf else 0.0,
        }

    def maybe_compact_appends(self) -> dict | None:
        """Measured auto-compaction: fold when ≥ ``compact_min_dirs``
        epoch dirs are live AND mean file size < the configured
        small-file threshold. Disarmed tables
        (``compact_small_file_bytes=None``) never pay the stat walk."""
        if not self.compact_small_file_bytes:
            return None
        s = self.append_stats()
        if (
            s["n_epoch_dirs"] >= self.compact_min_dirs
            and s["avg_file_bytes"] < self.compact_small_file_bytes
        ):
            return self.compact_appends()
        return None

    def compact_appends(self) -> dict:
        """Fold live epoch dirs (and the prior compacted generation)
        into one size-targeted file set — Iceberg
        ``rewrite_data_files`` binpack for the append layout. Content-
        idempotent; see the class docstring for the crash protocol."""
        if not self.append_only:
            raise ValueError("compact_appends applies to append-only tables")
        m = self._appends_manifest()
        dirs, comp = self._live_append_dirs()
        if not dirs:
            return {"mode": "compact_appends", "noop": True}
        before = self.append_stats()
        n_files = max(1, -(-before["bytes"] // self.COMPACT_TARGET_FILE_BYTES))
        snapshot = self.read()  # e=<epoch> materialized as a data column
        gen = m["gen"] + 1
        dest = self._compact_gen_dir(gen)
        tmp = os.path.join(self.root, "_compacted", f"_tmp_g{gen}")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(dest, ignore_errors=True)  # crashed pre-flip orphan
        snapshot.coalesce(n_files).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, dest)
        folded = sorted(set(m["folded"]) | {os.path.basename(d) for d in dirs})
        _write_json(self._appends_manifest_path, {"gen": gen, "folded": folded})
        # visible flip done — everything below is best-effort cleanup
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        comp_root = os.path.join(self.root, "_compacted")
        for n in os.listdir(comp_root):
            if n != f"g{gen}":
                shutil.rmtree(os.path.join(comp_root, n), ignore_errors=True)
        return {
            "mode": "compact_appends",
            "gen": gen,
            "folded_dirs": len(dirs),
            "files_before": before["n_files"],
            "files_after": self.append_stats()["n_files"],
            "bytes_before": before["bytes"],
            "bytes_after": self.append_stats()["bytes"],
        }

    # -- merge: copy-on-write rewrite into a claimed v=N ------------------
    def _stage(self, batch: DataFrame, keys: list[str], epoch_id) -> int:
        """Claim ``v=N`` and write the merged snapshot there; it stays
        invisible until :meth:`_commit` moves ``_LATEST``. The batch-key
        side of the survivor anti-join is broadcast: a micro-batch's key
        set is small relative to the target, so the big side never
        shuffles."""
        # claim the target version BEFORE reading the base snapshot: the
        # claim (CAS) guarantees the snapshot we merge against IS the
        # claimed version's base, so a concurrent winner's rows can never
        # be overwritten by a merge computed from a stale read
        v = self.versions.current() + 1
        self.versions.claim(v)  # CommitConflict → caller re-reads + retries
        # batch feeds both the broadcast key side and the upsert union —
        # persist so the upstream resolve plan executes once; unpersist
        # in finally so a failed write (normal under the streaming retry
        # design) doesn't leak executor storage
        batch = batch.persist()
        try:
            upserts = self._upserts(batch)
            current = self.read()
            survivors = current.join(
                F.broadcast(batch.select(*keys)), on=keys, how="left_anti"
            )
            # schema evolution (add-column): target schema becomes the
            # union of current and batch columns; survivors carry NULL
            # for newly-added columns, batch rows NULL for columns the
            # evolved feed no longer sends — Iceberg's add-column MERGE
            # semantics without a rewrite of untouched history
            all_cols = current.columns + [
                c for c in upserts.columns if c not in current.columns
            ]
            merged = survivors.unionByName(upserts, allowMissingColumns=True).select(*all_cols)
            merged.write.mode("overwrite").parquet(self.versions.dir_for(v))
        except Exception:
            self.versions.release(v)
            raise
        finally:
            batch.unpersist()
        return v

    def _discard(self, v: int) -> None:
        self.versions.release(v)
        shutil.rmtree(self.versions.dir_for(v), ignore_errors=True)

    def _commit(self, v: int, epoch_id) -> dict:
        try:
            self.versions.commit(v)
            stats: dict = {"mode": "merge"}
            if epoch_id is not None:
                self.ledger.record(epoch_id, stats)
            self.versions.vacuum()
        except Exception:
            self.versions.release(v)
            raise
        return stats


class MorLakeTable(_MergeTable):
    """Merge-on-READ target table: each MERGE epoch appends one delta
    file set — an **O(batch) write with zero target reads** — and the
    read path reconciles base ∪ deltas. The third point in the COW
    cost space next to ``LakeTable`` (full rewrite) and
    ``PartitionedLakeTable`` (bucket-pruned rewrite): when epochs touch
    most buckets (hot wide feeds), even pruned COW degenerates to
    near-full rewrites, while MoR keeps ingest cost flat and shifts the
    merge to reads + periodic compaction — Iceberg v2 equality-delete /
    Delta deletion-vector semantics over plain parquet.

    Read plan (scale-shaped): the base is NEVER shuffled — delta keys
    (micro-batches, small between compactions) are broadcast; base rows
    split into untouched (left-anti) and overlapping (left-semi); only
    the overlap ∪ deltas goes through the LWW aggregation; winners union
    back with the untouched base. Read cost grows with delta count, so
    accumulated deltas fold into a new base version (amortized against
    write amplification) under one MEASURED trigger: with
    ``compact_ratio`` set, a MERGE compacts when live delta bytes / base
    bytes ≥ the ratio and ≥ :attr:`MIN_COMPACT_DELTAS` deltas are live;
    without it, only an explicit :meth:`compact` folds. Byte stats ride
    the manifest (written once at merge/compact time, Iceberg
    snapshot-summary style), so the policy decision is metadata-only —
    no storage walk on reads. A ratio policy self-adapts where a fixed
    cadence can't: tiny micro-batches against a huge base accumulate
    for a long time (reads barely degrade), while a burst of heavy
    epochs triggers promptly. ``scan_stats()`` exposes the live
    read-amplification estimate; BENCH_COMPACT_POLICY.json records the
    measured trade curve.

    Layout::

        root/
          _epochs/...         # exactly-once epoch ledger
          _MANIFEST           # atomic JSON: base version + live deltas
          base/v=<n>/*.parquet
          delta/d=<seq>/*.parquet   # carries _mor_seq + _mor_del cols

    Crash safety: delta files land before the manifest flips; an orphan
    delta dir (crash between write and manifest) is invisible and gets
    overwritten deterministically on replay. Compaction writes the new
    base fully before one atomic manifest replace retires the deltas.
    """

    SEQ = "_mor_seq"
    DEL = "_mor_del"
    #: the fewest live deltas the ratio trigger compacts
    MIN_COMPACT_DELTAS = 2

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: Sequence[str],
        lsn_col: str,
        compact_ratio: float | None = None,
    ):
        self.spark = spark
        self.root = root
        self.keys = list(keys)
        self.lsn_col = lsn_col
        self.compact_ratio = compact_ratio
        os.makedirs(root, exist_ok=True)
        self.ledger = _EpochLedger(root)

    # -- manifest --------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_MANIFEST")

    def _read_manifest(self) -> dict:
        return _read_json(self._manifest_path, {"base_v": 0, "deltas": [], "next_seq": 1})

    def _base_dir(self, v: int) -> str:
        return os.path.join(self.root, "base", f"v={v}")

    def _delta_dir(self, seq: int) -> str:
        return os.path.join(self.root, "delta", f"d={seq}")

    def exists(self) -> bool:
        m = self._read_manifest()
        return m["base_v"] > 0 or bool(m["deltas"])

    def n_deltas(self) -> int:
        return len(self._read_manifest()["deltas"])

    # -- merge: deferred to read time, one delta per epoch ----------------
    def _stage(self, batch: DataFrame, keys: list[str], epoch_id) -> tuple[dict, int]:
        """Append the key-unique batch as delta ``d=<seq>`` (the marker
        kept as the ``_mor_del`` tombstone flag); the manifest does not
        list it until :meth:`_commit`. ``keys`` must be the table's
        configured key."""
        if keys != self.keys:
            raise ValueError(f"merge keys {keys} != table keys {self.keys}")
        m = self._read_manifest()
        seq = m["next_seq"]
        out = batch.withColumnRenamed(DELETE_COL, self.DEL).withColumn(self.SEQ, F.lit(seq))
        out.write.mode("overwrite").parquet(self._delta_dir(seq))
        return m, seq

    def _discard(self, token: tuple[dict, int]) -> None:
        shutil.rmtree(self._delta_dir(token[1]), ignore_errors=True)

    def _commit(self, token: tuple[dict, int], epoch_id) -> dict:
        m, seq = token
        m["deltas"] = sorted(set(m["deltas"]) | {seq})
        m["next_seq"] = seq + 1
        dbytes, _ = _dir_stats(self._delta_dir(seq))
        m.setdefault("delta_bytes", {})[str(seq)] = dbytes
        _write_json(self._manifest_path, m)
        stats = {"mode": "mor_merge", "delta_seq": seq, "n_deltas": len(m["deltas"])}
        if epoch_id is not None:
            self.ledger.record(epoch_id, stats)
        stats["delta_bytes"] = dbytes
        trigger = self._compact_trigger(m)
        if trigger:
            stats["compacted"] = True
            stats["compact_trigger"] = trigger
            stats["compact_stats"] = self.compact()
        return stats

    def _compact_trigger(self, m: dict) -> str | None:
        """``"ratio"`` when the ratio policy fires on this manifest —
        manifest-only arithmetic, no storage access."""
        if self.compact_ratio is None or len(m["deltas"]) < self.MIN_COMPACT_DELTAS:
            return None
        s = self.scan_stats(m)
        if s["base_bytes"] == 0 or s["delta_ratio"] >= self.compact_ratio:
            return "ratio"
        return None

    def scan_stats(self, m: dict | None = None) -> dict:
        """Live storage shape of a read, off the manifest: what a
        ``read()`` must open right now (base ∪ deltas) and the delta/
        base byte ratio the ``compact_ratio`` policy acts on.
        ``read_amplification`` is scan bytes over live-snapshot bytes,
        estimating the latter as ``base_bytes`` for an updating feed
        (deltas mostly replace base rows); the compaction bench measures
        the true value by compacting and comparing."""
        m = m or self._read_manifest()
        base = m.get("base_bytes", 0)
        delta = sum(m["delta_bytes"][str(s)] for s in m["deltas"])
        return {
            "base_bytes": base,
            "delta_bytes": delta,
            "n_deltas": len(m["deltas"]),
            "scan_bytes": base + delta,
            "delta_ratio": delta / base if base else float("inf") if delta else 0.0,
            "read_amplification": (base + delta) / base if base else float("inf") if delta else 1.0,
        }

    # -- reads -----------------------------------------------------------
    def _deltas_df(self, m: dict) -> DataFrame | None:
        paths = [self._delta_dir(s) for s in m["deltas"]]
        if not paths:
            return None
        # deltas may carry evolved schemas — union them at read
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def read(self) -> DataFrame:
        m = self._read_manifest()
        # before the first compaction the empty state is the base
        base = (
            self.spark.read.parquet(self._base_dir(m["base_v"]))
            if m["base_v"]
            else self._read_empty()
        )
        deltas = self._deltas_df(m)
        if deltas is None:
            return base
        base = base.withColumn(self.SEQ, F.lit(0)).withColumn(self.DEL, F.lit(False))
        dkeys = deltas.select(*self.keys).distinct()
        untouched = base.join(F.broadcast(dkeys), on=self.keys, how="left_anti")
        overlap = base.join(F.broadcast(dkeys), on=self.keys, how="left_semi")
        combined = overlap.unionByName(deltas, allowMissingColumns=True)
        from data_ingestion_resolution_platform_spark.operators.cdc import resolve_latest

        winners = resolve_latest(
            combined, self.keys, self.SEQ, tie_breakers=(self.lsn_col,)
        ).filter(~F.col(self.DEL))
        winners = untouched.unionByName(winners, allowMissingColumns=True)
        # pin survivor-first column order (evolution appends new cols)
        cols = [c for c in winners.columns if c not in (self.SEQ, self.DEL)]
        return winners.select(*cols)

    # -- maintenance -----------------------------------------------------
    def compact(self) -> dict:
        """Fold live deltas into a new base version; one atomic manifest
        replace retires them. Content-idempotent (replaying a crashed
        compaction converges)."""
        m = self._read_manifest()
        if not m["deltas"]:
            return {"mode": "compact", "noop": True}
        snapshot = self.read()
        v = m["base_v"] + 1
        snapshot.write.mode("overwrite").parquet(self._base_dir(v))
        retired = m["deltas"]
        new_m = {
            "base_v": v,
            "deltas": [],
            "next_seq": m["next_seq"],
            "base_bytes": _dir_stats(self._base_dir(v))[0],
            "delta_bytes": {},
        }
        _write_json(self._manifest_path, new_m)
        for s in retired:
            shutil.rmtree(self._delta_dir(s), ignore_errors=True)
        if m["base_v"] > 0:
            shutil.rmtree(self._base_dir(m["base_v"]), ignore_errors=True)
        return {
            "mode": "compact",
            "base_v": v,
            "retired_deltas": len(retired),
            "base_bytes": new_m["base_bytes"],
        }


class PartitionedLakeTable(_MergeTable):
    """Hash-bucketed target table with LINEAR-HASHING growth: MERGE
    touches only dirty buckets, and buckets that outgrow
    ``max_bucket_bytes`` split in two *during the rewrite they were
    already paying for* — so per-epoch MERGE cost stays O(batch +
    touched bytes) no matter how much the target grows. The parquet twin
    of Iceberg ``PARTITIONED BY (bucket(N, key))`` where N is
    size-derived instead of fixed (VERDICT round-1 scale hazard #2).

    Layout::

        root/
          _epochs/...                      # exactly-once epoch ledger
          _DIR                             # atomic directory JSON
          b=<id>.<level>/v=<n>/*.parquet   # one store per live bucket

    A bucket ``(b, L)`` owns every row whose
    ``pmod(xxhash64(*bucket_keys), 2^L) == b``; the directory always
    holds a prefix-free covering of the hash space (classic linear
    hashing), so buckets may sit at different levels — hot buckets
    split deeper, cold ones stay coarse. A MERGE stages at the deepest
    live level, so each touched bucket at that level is written as one
    file and a coarser one as one file per deepest-level residue under
    it. When a touched bucket's post-merge bytes exceed the threshold,
    it is committed as its two children instead: a coarser bucket's
    staged files are shared out between them, and a deepest-level
    bucket's one staged file is re-partitioned one level finer before
    the commit — in the epoch it splits, and only for that bucket.

    Commit protocol: stage → move files into per-bucket version dirs →
    ONE atomic ``_DIR`` replace (all touched buckets flip together) →
    ledger record. A crash anywhere before the ledger record leaves the
    previous directory visible and the epoch uncommitted; replay
    recomputes the same deterministic versions and converges
    (SURVEY.md §7.4).
    """

    BUCKET_COL = "__rb"  # staging residue column (deepest-level granularity)

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bucket_keys: Sequence[str],
        n_buckets: int = 32,
        max_bucket_bytes: int = 256 << 20,
    ):
        self.spark = spark
        self.root = root
        self.bucket_keys = list(bucket_keys)
        # initial level: smallest power of two covering n_buckets
        self.initial_level = max(0, (int(n_buckets) - 1).bit_length())
        self.n_buckets = 1 << self.initial_level
        self.max_bucket_bytes = max_bucket_bytes
        os.makedirs(root, exist_ok=True)
        self.ledger = _EpochLedger(root)

    # -- directory -------------------------------------------------------
    @property
    def _dir_path(self) -> str:
        return os.path.join(self.root, "_DIR")

    @property
    def _schema_path(self) -> str:
        return os.path.join(self.root, "_SCHEMA")

    def _read_schema(self):
        raw = _read_json(self._schema_path, None)
        return None if raw is None else T.StructType.fromJson(raw)

    def _write_schema(self, schema) -> None:
        # union with the saved schema: an epoch touching only fresh
        # buckets must not narrow the table schema for untouched ones
        saved = self._read_schema()
        if saved is not None:
            names = {f.name for f in schema.fields}
            schema = T.StructType(
                list(schema.fields) + [f for f in saved.fields if f.name not in names]
            )
        _write_json(self._schema_path, schema.jsonValue())

    def _read_dir(self) -> dict[tuple[int, int], int]:
        """{(bucket, level): version}; version 0 = live but empty."""
        raw = _read_json(self._dir_path, None)
        if raw is None:
            lv = self.initial_level
            return {(b, lv): 0 for b in range(1 << lv)}
        return {(b, lv): v for b, lv, v in raw["buckets"]}

    def _write_dir(self, d: dict[tuple[int, int], int]) -> None:
        _write_json(
            self._dir_path, {"buckets": sorted([b, lv, v] for (b, lv), v in d.items())}
        )

    def _bucket_dir(self, b: int, level: int, v: int) -> str:
        return os.path.join(self.root, f"b={b}.{level}", f"v={v}")

    def _residue_expr(self, level: int) -> F.Column:
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.bucket_keys]), F.lit(1 << level)
        ).cast("int")

    @staticmethod
    def _owner(residue: int, d: dict[tuple[int, int], int], lstage: int) -> tuple[int, int]:
        """The unique live bucket owning a stage-level residue."""
        for lv in range(lstage, -1, -1):
            cand = (residue % (1 << lv), lv)
            if cand in d:
                return cand
        raise KeyError(f"directory does not cover residue {residue}")

    def exists(self) -> bool:
        return any(v > 0 for v in self._read_dir().values())

    def n_live_buckets(self) -> int:
        return len(self._read_dir())

    def read(self, buckets: Sequence[tuple[int, int]] | None = None) -> DataFrame:
        d = self._read_dir()
        live = [bk for bk in (buckets if buckets is not None else d) if d.get(bk, 0) > 0]
        paths = [self._bucket_dir(b, lv, d[(b, lv)]) for b, lv in live]
        if not paths:
            return self._read_empty(self._read_schema())
        # buckets evolve independently: a bucket untouched since before a
        # schema-evolving epoch still holds old-schema files. Iceberg
        # resolves this in the METADATA layer; our stand-in is a saved
        # unified schema (updated at every merge commit, before the
        # ``_DIR`` flip, so any bucket with data has it) passed to the
        # reader explicitly — parquet clips each file against it and
        # NULL-fills absent columns, with no per-read footer merging
        # (``mergeSchema`` re-reads every live footer per read and was
        # measured 3-5x slower per epoch on a 135-bucket target).
        return self.spark.read.schema(self._read_schema()).parquet(*paths)

    def scan(self, predicates: Sequence[tuple]) -> DataFrame:
        """Stats-pruned predicate scan over the live buckets (see
        ``LakeTable.scan``). Composes with the hash-bucket layout:
        bucket files whose footer bounds exclude the predicate are
        planned away driver-side, so a scan whose predicate falls
        outside a bucket file's min/max never opens it. Results always
        equal ``read().filter(...)``; report on ``self.last_scan_report``."""
        from data_ingestion_resolution_platform_spark.sources.skipping import pruned_scan

        d = self._read_dir()
        dirs = [self._bucket_dir(b, lv, v) for (b, lv), v in d.items() if v > 0]
        if not dirs:
            raise FileNotFoundError(f"partitioned lake table {self.root} has no data")
        df, self.last_scan_report = pruned_scan(
            self.spark, self.root, dirs, predicates, schema=self._read_schema()
        )
        return df

    # -- merge: bucket-pruned COW with size-triggered splits --------------
    def _stage(self, batch: DataFrame, keys: list[str], epoch_id) -> tuple:
        """Rewrite only the buckets the batch touches into one
        ``_staging_<epoch>`` dir, one residue dir per deepest-level
        residue, and place each touched bucket's files (see
        :meth:`_place`); nothing moves into the bucket dirs until
        :meth:`_commit`."""
        d = self._read_dir()
        # stage at the deepest live level: a bucket at that level is one
        # residue (one file), a coarser bucket the residues under it
        lstage = max(lv for _, lv in d)
        rcol = self.BUCKET_COL
        cols = [c for c in batch.columns if c != DELETE_COL]
        # staged is read twice (anti-join build side, staging write):
        # persist it, and fill the cache with one noop write that
        # observes the touched residues — one pass, no shuffle
        staged = batch.withColumn(rcol, self._residue_expr(lstage)).persist()
        try:
            seen = Observation()
            staged.observe(seen, F.collect_set(rcol).alias("res")).write.format(
                "noop"
            ).mode("overwrite").save()
            # driver-side planning on residues: ≤ min(2^lstage, distinct
            # batch keys) small ints — the Iceberg-manifest-sized
            # metadata op, never data
            touched_res = sorted(seen.get["res"])
            touched = sorted({self._owner(r, d, lstage) for r in touched_res})
            upserts = self._upserts(staged)
            # no live touched bucket reads the empty state: one plan shape
            current = self.read([bk for bk in touched if d[bk] > 0]).withColumn(
                rcol, self._residue_expr(lstage)
            )
            survivors = current.join(
                F.broadcast(staged.select(*keys)), on=keys, how="left_anti"
            )
            # add-column schema evolution, as in LakeTable
            merged = survivors.unionByName(upserts, allowMissingColumns=True)
            out_cols = cols + [c for c in current.columns if c not in cols and c != rcol]
            # join(on=keys) reorders columns key-first; pin a stable
            # column order so every bucket file shares one schema layout
            merged = merged.select(*out_cols, rcol)
            out_schema = merged.drop(rcol).schema
            staging = os.path.join(
                self.root, f"_staging_{epoch_id if epoch_id is not None else 'adhoc'}"
            )
            shutil.rmtree(staging, ignore_errors=True)
            self._write_staged(merged, staging, len(touched_res))
        finally:
            staged.unpersist()
        place = self._place(staging, d, touched, lstage, out_schema)
        return staging, d, place, out_schema

    def _write_staged(self, df: DataFrame, path: str, n_residues: int) -> None:
        """One write partitioned by residue; repartition on the residue
        first so each residue is written by exactly one task (one file
        per residue — file-count hygiene that keeps survivor scans cheap
        across epochs)."""
        rcol = self.BUCKET_COL
        n_tasks = max(1, min(n_residues, self.spark.sparkContext.defaultParallelism))
        out = df.repartition(n_tasks, F.col(rcol))
        out.write.mode("overwrite").partitionBy(rcol).parquet(path)

    def _place(self, staging: str, d, touched, lstage: int, schema) -> dict:
        """``{touched bucket: [(bucket to write, [staged residue dirs])]}``.
        A bucket whose staged bytes fit ``max_bucket_bytes`` keeps its
        residue dirs; one that outgrows them splits into its two
        children during the rewrite it was already paying for. A coarser
        bucket hands each child the residue dirs under it; a bucket at
        the stage level is one residue, so every such bucket that splits
        this epoch is re-partitioned one level finer here, in one write,
        and the commit stays file moves plus one ``_DIR`` flip. A
        delete-only batch for a bucket that never had data places
        nothing."""
        rcol = self.BUCKET_COL

        def res_dirs(root: str, residues) -> list[str]:
            paths = (os.path.join(root, f"{rcol}={r}") for r in residues)
            return [p for p in paths if os.path.isdir(p)]

        def children(root: str, b: int, lv: int) -> list:
            # each child's residues in ``root``: every 2^(lv+1)-th from it
            top, step = 1 << max(lstage, lv + 1), 1 << (lv + 1)
            return [
                ((k, lv + 1), res_dirs(root, range(k, top, step)))
                for k in (b, b + (1 << lv))
            ]

        place, deep_splits = {}, []
        for b, lv in touched:
            present = res_dirs(staging, range(b, 1 << lstage, 1 << lv))
            size = sum(_dir_stats(p)[0] for p in present)
            if size == 0 and d[(b, lv)] == 0:
                place[(b, lv)] = []
            elif size <= self.max_bucket_bytes:
                place[(b, lv)] = [((b, lv), present)]
            elif lv < lstage:
                place[(b, lv)] = children(staging, b, lv)
            else:
                deep_splits.append((b, present))
        if deep_splits:
            root = os.path.join(staging, "_split")
            rows = self.spark.read.schema(schema).parquet(
                *[p for _, present in deep_splits for p in present]
            )
            self._write_staged(
                rows.withColumn(rcol, self._residue_expr(lstage + 1)),
                root,
                2 * len(deep_splits),
            )
            for b, _ in deep_splits:
                place[(b, lstage)] = children(root, b, lstage)
        return place

    def _discard(self, token: tuple) -> None:
        shutil.rmtree(token[0], ignore_errors=True)

    def _commit(self, token: tuple, epoch_id) -> dict:
        """Move the placed residue files into per-bucket version dirs,
        then ONE atomic ``_DIR`` flip, vacuum, ledger record."""
        staging, d, place, out_schema = token
        new_dir = dict(d)
        n_written = n_splits = 0
        for parent, parts in place.items():
            if len(parts) == 2:  # split: the two children replace it
                del new_dir[parent]
                n_splits += 1
            for bk, srcs in parts:
                if not srcs:
                    new_dir[bk] = 0  # emptied by this epoch's deletes
                    continue
                v = new_dir.get(bk, 0) + 1
                dst = self._bucket_dir(*bk, v)
                shutil.rmtree(dst, ignore_errors=True)
                os.makedirs(dst)
                # one write names its files alike in every residue dir
                for i, src in enumerate(srcs):
                    for name in os.listdir(src):
                        if name.endswith(".parquet"):
                            shutil.move(
                                os.path.join(src, name), os.path.join(dst, f"{i}_{name}")
                            )
                new_dir[bk] = v
                n_written += 1
        # persist the (possibly evolved) unified schema, then one atomic
        # flip of every touched bucket. A crash in between leaves a
        # schema that is a superset of the files — reads NULL-fill.
        self._write_schema(out_schema)
        self._write_dir(new_dir)
        # vacuum: drop superseded version dirs and retired parents
        for (b, lv), v in list(d.items()):
            if (b, lv) not in new_dir and v > 0:
                shutil.rmtree(os.path.join(self.root, f"b={b}.{lv}"), ignore_errors=True)
        for (b, lv), v in new_dir.items():
            base = os.path.join(self.root, f"b={b}.{lv}")
            if not os.path.isdir(base):
                continue
            for name in os.listdir(base):
                if name.startswith("v=") and int(name.split("=", 1)[1]) != v:
                    shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
        stats = {
            "mode": "merge",
            "touched_buckets": len(place),
            "written_buckets": n_written,
            "splits": n_splits,
            "n_buckets": len(new_dir),
        }
        if epoch_id is not None:
            self.ledger.record(epoch_id, stats)
        return stats
