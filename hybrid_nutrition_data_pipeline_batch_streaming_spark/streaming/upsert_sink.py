"""Streaming keyed-upsert sink via foreachBatch (SURVEY.md §2.1 S4, §2.9 T7).

The reference's raw layer is a Cassandra table whose PRIMARY KEY makes every
INSERT a last-write-wins upsert (`consumer/consume_items.py:53,102-103`).
Structured Streaming's file sinks are append-only, so keyed upserts go
through ``foreachBatch``: each micro-batch is merged into the keyed store
with LWW semantics.

Store layout — a manifest-committed snapshot store (the Delta-log commit
pattern over plain parquet, dependency-free)::

    path/data/b{N}-v{V}-{attempt}/part-*.parquet   immutable bucket snapshots
    path/_changes/v{V}-{attempt}/part-*.parquet    commit V's change feed
    path/_manifest/v{V:06d}.json                   {"version": V,
                                                    "buckets": {N: dir},
                                                    "schema": <StructType json>,
                                                    "changes": "v{V}-{attempt}"}

Buckets are hash partitions of the key space (N = pmod(xxhash64(key),
n_buckets)), so a merge

- reads ONLY the buckets the micro-batch touches (the manifest maps bucket
  id → current snapshot dir — O(touched buckets), not O(store));
- writes new immutable snapshot dirs for those buckets, leaving every other
  bucket's files byte-identical, and writes the commit's row-level change
  feed (Delta Lake's change data feed) out of the same dedup pass;
- COMMITS by renaming one complete manifest file into place — the single
  atomic visibility point for the snapshot dirs and the feed dir alike. A
  crash anywhere before the rename leaves the previous manifest (and
  therefore a fully consistent store) in effect; orphaned data and feed
  dirs are garbage-collected by later merges. The commit is transactional
  across buckets.

Every manifest names both ``schema`` and ``changes``: a commit without
either cannot be made, and a read never infers one.

One schema rule: the first commit fixes the store's schema and records it
in every manifest. A merge whose batch would add, drop, rename or retype a
stored column raises before writing anything, and every read passes the
recorded schema to the parquet reader — no footer merge, no inference job.

One write path: ``delete(keys)`` is a merge of tombstones, the way a
Cassandra DELETE writes a tombstone through its normal write path. A
tombstone outranks any row of its key in the one last-write-wins window
pass; the key leaves the snapshot, and its stored row becomes the feed's
``delete`` row.

One NULL-key rule: ``merge``'s LWW dedup groups NULL keys as one key, so a
stored NULL key is updated, and shows in the change feed, like any other.
``read_keys`` and ``delete`` match with ``=`` and never select a NULL key.

Because every manifest is a COMPLETE bucket map, any retained version is
directly readable — ``read(version=N)`` is snapshot time travel with no log
replay, ``history()`` lists versions, and ``vacuum(keep_last=K)`` bounds
disk growth by dropping old manifests plus the snapshot and feed dirs only
they referenced (the merge-time GC keeps every dir a retained manifest
needs).

Within one stream, foreachBatch serializes micro-batches; ACROSS writers the
manifest commit is put-if-absent (``os.link``), so a racing commit raises
``ConcurrentWriteError`` instead of silently losing an update — optimistic
concurrency, the contended-commit contract of a Delta log. In production the
same semantics come from a Delta/Iceberg ``MERGE INTO``.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import uuid
from collections.abc import Callable, Iterator
from typing import NamedTuple

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from ..session import release

BUCKET_COL = "bucket"
#: The feed files' commit-version column: orders one key's changes across
#: a range of versions. ``changes`` does not return it.
VERSION_COL = "_commit_version"

#: Snapshot dir name: b{bucket}-v{version}[-{attempt}], and feed dir name:
#: v{version}-{attempt}. The version component lets GC distinguish decided
#: versions from in-flight attempts.
_SNAP_RE = re.compile(r"^b\d+-v(\d+)")
_FEED_RE = re.compile(r"^v(\d+)")


class Manifest(NamedTuple):
    """One committed store version: ``buckets`` maps bucket id → snapshot
    dir, ``feed`` names the commit's change-feed dir. ``schema`` and
    ``feed`` are None only for version 0, the empty store."""

    version: int
    buckets: dict[int, str]
    schema: StructType | None
    feed: str | None


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this manifest version first. The store is
    untouched by the losing attempt (its data dirs are unreferenced and
    will be GC'd); re-invoke ``merge`` to rebase the batch on the winner's
    snapshot."""


class ParquetUpsertStore:
    """A keyed store with last-write-wins merge semantics: hash-bucketed so
    merges scale with the micro-batch, manifest-committed so every reader
    sees a single consistent snapshot."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        ts_col: str,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.ts_col = ts_col
        self.n_buckets = n_buckets

    # -- layout helpers -----------------------------------------------------

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.path, "data")

    @property
    def _changes_dir(self) -> str:
        return os.path.join(self.path, "_changes")

    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifest")

    def _bucket(self, key: F.Column | None = None) -> F.Column:
        key = F.col(self.key) if key is None else key
        return F.pmod(F.xxhash64(key), F.lit(self.n_buckets)).cast("int")

    def _versions(self) -> list[int]:
        """Committed manifest versions, ascending."""
        if not os.path.isdir(self._manifest_dir):
            return []
        return sorted(
            int(name[1:-5])
            for name in os.listdir(self._manifest_dir)
            if name.startswith("v") and name.endswith(".json")
        )

    def _manifest(self, version: int | None = None) -> Manifest:
        """Manifest ``version`` as committed (the latest when None), read
        once. Version 0 is the pre-commit store: a valid, empty snapshot,
        so read() and changes(0, N) treat it like any other version.
        Manifests are written whole and linked into place, so any file
        present is complete."""
        if version is None:
            versions = self._versions()
            version = versions[-1] if versions else 0
        if version == 0:
            return Manifest(0, {}, None, None)
        path = os.path.join(self._manifest_dir, f"v{version:06d}.json")
        if not os.path.isfile(path):
            raise FileNotFoundError(
                f"store at {self.path!r} has no committed version {version} "
                f"(retained: {self._versions()}) — it may have been vacuumed"
            )
        with open(path) as fh:
            doc = json.load(fh)
        return Manifest(
            version,
            {int(b): d for b, d in doc["buckets"].items()},
            StructType.fromJson(doc["schema"]),
            doc["changes"],
        )

    def _load_manifest(self, version: int) -> dict[int, str]:
        """The bucket map of manifest ``version``: bucket id → snapshot dir."""
        return self._manifest(version).buckets

    def _current_manifest(self) -> Manifest:
        """The latest manifest: the one read of it that ``merge`` and
        ``delete`` make."""
        return self._manifest()

    def _commit_manifest(
        self, version: int, buckets: dict[int, str], schema: StructType, changes: str
    ) -> None:
        """The atomic commit point: write the complete manifest to a temp
        name, fsync, then ``link`` into place — link (unlike rename) FAILS
        if the target exists, so racing writers get compare-and-swap
        semantics instead of a silent lost update (the same contended-commit
        contract as a Delta log; on object stores this maps to
        put-if-absent). ``changes`` names the commit's feed dir, so the
        data and its feed become visible together."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        final = os.path.join(self._manifest_dir, f"v{version:06d}.json")
        tmp = os.path.join(self._manifest_dir, f".tmp-{uuid.uuid4().hex}.json")
        doc = {
            "version": version,
            "buckets": {str(b): d for b, d in buckets.items()},
            "schema": schema.jsonValue(),
            "changes": changes,
        }
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)  # atomic put-if-absent on POSIX
        except FileExistsError as exc:
            raise ConcurrentWriteError(
                f"version {version} was committed by another writer; "
                "re-run merge to rebase on the current snapshot"
            ) from exc
        finally:
            os.unlink(tmp)

    def _gc_unreferenced(self, include_stages: bool = False) -> None:
        """Drop data and feed dirs no retained manifest references (left
        by pre-commit crashes or lost races, or stranded when vacuum
        removed the last manifest that referenced them). Best-effort — a
        failure here never affects correctness, only disk usage.

        Concurrency guard: an unreferenced dir whose version is AHEAD of
        the current committed version may belong to another writer's
        in-flight attempt (written but not yet committed) — GC skips it; it
        becomes collectable as soon as that version is decided (the attempt
        either committed a manifest referencing it, or lost the race and
        its uniquely-named dirs stay unreferenced). ``.stage-*`` workspaces
        are owned (and removed) by their attempt; only ``vacuum`` — an
        administrative call, documented as not concurrent with writers —
        sweeps crashed leftovers of those."""
        retained = [self._manifest(v) for v in self._versions()]
        current = retained[-1].version if retained else 0
        for root, live, pattern in (
            (self._data_dir, {d for m in retained for d in m.buckets.values()}, _SNAP_RE),
            (self._changes_dir, {m.feed for m in retained}, _FEED_RE),
        ):
            if not os.path.isdir(root):
                continue
            for name in os.listdir(root):
                if name in live:
                    continue
                if name.startswith("."):
                    if include_stages:
                        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
                    continue
                m = pattern.match(name)
                if m is not None and int(m.group(1)) > current:
                    continue  # possibly an in-flight attempt at the next version
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)

    def _read_buckets(self, m: Manifest, ids: list[int] | None) -> DataFrame | None:
        """The one reader from a manifest to rows: the snapshot dirs of
        ``ids`` (every bucket when None) that ``m`` holds, read with its
        schema; None when it holds none of them."""
        buckets = m.buckets
        if ids is not None:
            buckets = {b: buckets[b] for b in ids if b in buckets}
        if not buckets:
            return None
        dirs = [os.path.join(self._data_dir, d) for d in buckets.values()]
        return self.spark.read.schema(m.schema).parquet(*dirs)

    # -- public API ---------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame | None:
        """The committed snapshot, or None if no merge has committed yet.

        ``version`` pins a historical snapshot (time travel): each manifest
        is a complete bucket map, so any retained version reads directly —
        no log replay. Raises if the version was vacuumed; existence comes
        from the manifest (never inferred from a swallowed read error — a
        transient/corruption failure must surface, not silently reset the
        store to empty)."""
        return self._read_buckets(self._manifest(version), None)

    def read_keys(self, keys: list, version: int | None = None) -> DataFrame | None:
        """Point lookups by primary key — the reference's Cassandra PK read
        path (`consumer/consume_items.py:50-58`: PRIMARY KEY item_name
        routes a read to one partition). Each requested key hashes to its
        bucket and ONLY those bucket dirs are opened, then an exact filter
        keeps the requested keys — O(requested buckets) I/O, never
        O(store), at any store size.

        ``keys`` must be a BOUNDED list of values of the key column's type
        (a point-lookup API, not a join); the bucket ids are computed with
        the same xxhash64 expression the writer uses, over an inline
        ``VALUES`` table that the optimizer folds into a local relation, so
        building the frame launches no Spark job. For an unbounded key set,
        join ``read()`` instead. Returns None when the store has never
        committed."""
        m = self._manifest(version)
        if not m.buckets:
            return None
        ids: list[int] = []
        if keys:
            values = ", ".join("(?)" for _ in keys)
            kdf = self.spark.sql(f"SELECT * FROM VALUES {values} AS t(k)", args=list(keys))
            hashed = kdf.select(self._bucket(F.col("k").cast(m.schema[self.key].dataType)))
            ids = sorted({r[0] for r in hashed.collect()})
        hits = self._read_buckets(m, ids)
        if hits is None:
            # None of the requested keys' buckets exist in this snapshot.
            return self._read_buckets(m, None).where(F.lit(False))
        return hits.where(F.col(self.key).isin(keys))

    def changes(self, v_from: int, v_to: int) -> DataFrame | None:
        """Row-level change feed between two committed versions (CDF).

        Every commit writes its own feed next to its snapshot dirs, out of
        the dedup pass that already held each touched key's stored row, and
        names it in its manifest. ``changes(v, v + 1)`` is one parquet read
        of that one small dir, with no join. A longer range reads the feeds
        of versions ``v_from + 1 .. v_to`` in one scan and collapses each
        key to its first pre-image against its last post-image: an insert
        later deleted, or a final row equal to its first pre-image, leaves
        no row.

        Rows carry the post-image plus ``change_type`` — ``insert`` (no
        stored row before), ``update`` (the stored row changed: a NULL-SAFE
        comparison of the full pre/post structs, so value changes that
        carry an equal or NULL timestamp still surface) or ``delete`` (the
        ``delete()`` path, with the pre-image values in the data columns,
        as in Delta's CDF) — and a ``pre_image`` struct (NULL for inserts).
        Pre-images let a downstream incremental view RETRACT the replaced
        contribution and add the new one instead of recomputing from the
        full store. A stored NULL key is one key like any other.

        None iff the two manifests reference the same snapshot dirs;
        otherwise a DataFrame, empty when the commits rewrote rows without
        changing them (a replayed micro-batch)."""
        first = self._manifest(v_from)
        commits = [self._manifest(v) for v in range(v_from + 1, v_to + 1)]
        if not commits or commits[-1].buckets == first.buckets:
            return None
        schema = commits[-1].schema
        cols = schema.fieldNames()
        feeds = [os.path.join(self._changes_dir, m.feed) for m in commits]
        feed = self.spark.read.schema(_feed_schema(schema)).parquet(*feeds)
        if len(feeds) == 1:  # one commit: each key changed at most once
            return feed.drop(VERSION_COL)
        by_version = F.col(VERSION_COL)
        per_key = feed.groupBy(self.key).agg(
            F.min_by("pre_image", by_version).alias("pre"),
            F.max_by(F.struct(*cols, "change_type"), by_version).alias("last"),
        )
        pre, last = F.col("pre"), F.col("last")
        gone = last["change_type"] == "delete"
        post = F.struct(*[last[c].alias(c) for c in cols])
        return per_key.select(
            *[F.when(gone, pre[c]).otherwise(last[c]).alias(c) for c in cols],
            F.when(pre.isNull(), F.when(~gone, F.lit("insert")))
            .when(gone, F.lit("delete"))
            .when(~post.eqNullSafe(pre), F.lit("update"))
            .alias("change_type"),
            pre.alias("pre_image"),
        ).where(F.col("change_type").isNotNull())

    def history(self) -> list[int]:
        """Committed versions available to ``read(version=...)``,
        ascending — the store's ``DESCRIBE HISTORY``."""
        return self._versions()

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` manifests, then GC
        snapshot and feed dirs no retained manifest references. Returns the
        dropped versions. Bounds time-travel disk growth the same way
        Delta's VACUUM does; the current snapshot is never touched."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the live snapshot)")
        versions = self._versions()
        dropped = versions[:-keep_last]
        for v in dropped:
            os.remove(os.path.join(self._manifest_dir, f"v{v:06d}.json"))
        self._gc_unreferenced(include_stages=True)
        return dropped

    def _commit(self, cut: DataFrame, touched: list[int], m: Manifest, schema: StructType) -> None:
        """Commit ``cut``, the ``_winners`` of the ``touched`` buckets, as
        version ``m.version + 1``, then GC: its live rows (already
        partitioned by BUCKET_COL) rewrite those buckets, and its rows with
        a ``change_type`` become the commit's change feed. A touched bucket
        with no rows left drops out of the manifest.

        Both are written into ``.stage-{attempt}`` workspaces, which GC
        leaves alone, and renamed into place once complete. The feed is a
        small second write over the same rows, so it runs beside the
        snapshot write and its fixed per-job cost overlaps that write. Every
        on-disk name this attempt creates is ATTEMPT-UNIQUE (the workspace,
        ``b{b}-v{V}-{attempt}`` snapshot dirs, ``_changes/v{V}-{attempt}``),
        and nothing pre-existing is ever deleted before the commit — so two
        writers racing from the same base version never touch each other's
        files; the put-if-absent manifest link alone decides the winner, and
        the loser's dirs (removed on the spot, or by later GC) were never
        visible to any reader."""
        cols = schema.fieldNames()
        new_version = m.version + 1
        attempt = uuid.uuid4().hex[:8]
        stage = os.path.join(self._data_dir, f".stage-{attempt}")
        feed_stage = os.path.join(self._changes_dir, f".stage-{attempt}")
        feed_name = f"v{new_version:06d}-{attempt}"
        written: list[str] = []
        rows = cut.where(~F.col("__gone")).select(*cols, BUCKET_COL)
        feed = cut.where(F.col("change_type").isNotNull()).select(
            *cols,
            "change_type",
            "pre_image",
            F.lit(new_version).cast(LongType()).alias(VERSION_COL),
        )
        try:
            _at_once(
                lambda: rows.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(stage),
                lambda: feed.coalesce(1).write.parquet(feed_stage),
            )
            written.append(os.path.join(self._changes_dir, feed_name))
            os.rename(feed_stage, written[0])
            new_buckets = dict(m.buckets)
            for b in touched:
                stage_dir = os.path.join(stage, f"{BUCKET_COL}={b}")
                if not os.path.isdir(stage_dir):
                    new_buckets.pop(b, None)  # bucket fully emptied
                    continue
                snap = f"b{b}-v{new_version:06d}-{attempt}"
                dst = os.path.join(self._data_dir, snap)
                os.rename(stage_dir, dst)
                written.append(dst)
                new_buckets[b] = snap
            try:
                # ← visibility point
                self._commit_manifest(new_version, new_buckets, schema, feed_name)
            except ConcurrentWriteError:
                # Lost the race: the winner's store state is untouched (our
                # names are unique); drop our never-visible dirs and let the
                # caller rebase.
                for d in written:
                    shutil.rmtree(d, ignore_errors=True)
                raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)
            shutil.rmtree(feed_stage, ignore_errors=True)
        self._gc_unreferenced()

    def _touched(self, df: DataFrame) -> list[int]:
        """Sorted ids of the buckets ``df``'s keys hash into: a metric
        observed on a no-op write, so one job with no shuffle (a
        ``distinct().collect()`` takes two), which also fills ``df``'s
        cache when ``df`` is persisted."""
        seen = Observation()
        (
            df.observe(seen, F.collect_set(self._bucket()).alias("ids"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return sorted(seen.get["ids"])

    def _partitions(self, touched: list[int]) -> int:
        """Write tasks for a commit: one per touched bucket, capped at the
        cores — a task writing several small bucket dirs beats several
        tasks each paying the per-task cost for one."""
        return min(len(touched), self.spark.sparkContext.defaultParallelism)

    def _check_schema(self, stored: StructType, batch: StructType) -> None:
        """The store's one schema rule: the first commit fixes the columns
        and their types (nullability aside), and a batch that would add,
        drop, rename or retype one raises before anything is written."""

        def shape(schema: StructType) -> dict[str, str]:
            return {f.name: f.dataType.simpleString() for f in schema.fields}

        if shape(batch) != shape(stored):
            raise ValueError(
                f"batch schema {batch.simpleString()} does not match the schema "
                f"of the store at {self.path!r}, {stored.simpleString()}: the "
                "first commit fixes the store's columns and types"
            )

    def _winners(
        self, new: DataFrame, touched: list[int], m: Manifest, schema: StructType
    ) -> DataFrame:
        """The one last-write-wins pass of ``merge`` and ``delete``: each
        key's winner over the ``new`` rows (``__gone`` true for a
        tombstone) and the stored rows of the ``touched`` buckets, with its
        change against the stored row.

        After a repartition by bucket, one window on (bucket, key) ranks a
        tombstone first, then the latest ``ts_col``, then a new row over a
        stored one on a tie, and carries the key's stored row along as its
        pre-image. A tombstone winner takes its pre-image's values and
        ``change_type`` ``delete``, or no change when the key was not
        stored; any other winner is an ``insert`` (no pre-image), an
        ``update`` (differs null-safely from its pre-image) or unchanged
        (NULL)."""
        cols = schema.fieldNames()
        bucket = self._bucket().alias(BUCKET_COL)
        rows = new.select(*cols, "__gone", bucket, F.lit(False).alias("__old"))
        stored = self._read_buckets(m, touched)
        if stored is not None:
            kept = F.lit(False).alias("__gone")
            rows = stored.select(*cols, kept, bucket, F.lit(True).alias("__old")).union(rows)
        post = F.struct(*cols)
        key = Window.partitionBy(BUCKET_COL, self.key).orderBy(
            F.desc("__gone"), F.desc(self.ts_col), "__old"
        )
        whole_key = key.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ranked = rows.repartition(self._partitions(touched), BUCKET_COL).select(
            *cols,
            "__gone",
            BUCKET_COL,
            F.row_number().over(key).alias("__rn"),
            F.first(F.when(F.col("__old"), post), ignorenulls=True).over(whole_key).alias("__pre"),
        )
        pre, gone = F.col("__pre"), F.col("__gone")
        changed = ~post.eqNullSafe(pre)
        return ranked.where(F.col("__rn") == 1).select(
            *[F.when(gone, pre[c]).otherwise(F.col(c)).alias(c) for c in cols],
            gone,
            BUCKET_COL,
            F.when(gone, F.when(pre.isNotNull(), F.lit("delete")))
            .when(pre.isNull(), F.lit("insert"))
            .when(changed, F.lit("update"))
            .alias("change_type"),
            F.when(gone | changed, pre).alias("pre_image"),
        )

    def merge(self, batch: DataFrame) -> None:
        """LWW-merge one micro-batch through the one window pass
        (``_winners``) over the batch and the stored rows of the buckets it
        touches. Winners become the new snapshot dirs; winners that differ
        (null-safely) from their pre-image, or have none, become the
        commit's change feed. Both commit in one manifest (``_commit``:
        attempt-unique names, put-if-absent manifest link). A replayed
        batch rewrites its buckets with an empty feed.

        The batch is persisted for the call and released on return, so its
        source and any enrichment upstream run once, not once per action
        (the touched-bucket scan and the write)."""
        batch.persist()
        try:
            touched = self._touched(batch)
            if not touched:
                return
            m = self._current_manifest()
            # the first commit fixes the schema
            schema = batch.schema if m.schema is None else m.schema
            self._check_schema(schema, batch.schema)
            new = batch.select(*schema.fieldNames(), F.lit(False).alias("__gone"))
            with _cut(self._winners(new, touched, m, schema)) as cut:
                self._commit(cut, touched, m, schema)
        finally:
            batch.unpersist()

    def delete(self, keys: DataFrame) -> int:
        """Key-targeted delete (GDPR / right-to-be-forgotten): a merge of
        one tombstone per distinct non-NULL key, cast to the stored key
        type so it hashes to the bucket its row is in. It rewrites ONLY the
        buckets the keys hash into, without the matched rows, and commits a
        new manifest version whose change feed holds the matched rows as
        ``delete`` rows with their pre-images — O(touched buckets), never
        O(store). A bucket left empty drops out of the manifest entirely.
        Time travel still serves pre-delete versions until ``vacuum()``
        removes them — the physical-erasure step a real forgetting workflow
        must run (same two-phase contract as Delta DELETE + VACUUM). Returns
        the number of rows removed; no-op (no new version) when nothing
        matched.

        Concurrency: same attempt-unique staging + put-if-absent manifest
        commit as ``merge()`` — a racing writer loses loudly with
        ConcurrentWriteError and the store stays consistent."""
        m = self._current_manifest()
        if not m.buckets:
            return 0
        key = F.col(self.key).cast(m.schema[self.key].dataType).alias(self.key)
        tombstones = (
            keys.select(key)
            .where(F.col(self.key).isNotNull())
            .distinct()
            .select(
                *[
                    F.col(f.name) if f.name == self.key
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in m.schema.fields
                ],
                F.lit(True).alias("__gone"),
            )
        )
        touched = self._touched(tombstones)
        if not touched:
            return 0
        with _cut(self._winners(tombstones, touched, m, m.schema)) as cut:
            n = cut.where(F.col("change_type") == "delete").count()
            if n == 0:
                return 0  # nothing matched: don't burn a version
            self._commit(cut, touched, m, m.schema)
            return n


def _at_once(first: Callable[[], None], second: Callable[[], None]) -> None:
    """Run two Spark actions concurrently: ``second`` on a thread that
    inherits the caller's job properties, ``first`` on this one. Returns
    once both are done, raising the first failure."""
    failed: list[BaseException] = []

    def run() -> None:
        try:
            second()
        except BaseException as exc:
            failed.append(exc)

    thread = InheritableThread(target=run)
    thread.start()
    try:
        first()
    finally:
        thread.join()
    if failed:
        raise failed[0]


@contextlib.contextmanager
def _cut(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` computed once for the block: a lineage cut whose blocks are
    filled by the first action that reaches them and read by the others
    (a concurrent action waits on the block's lock), freed on exit. A
    snapshot and its feed thus come from the same rows, even where an LWW
    tie between equal timestamps inside one batch could fall either way.
    The blocks are stored serialized: they are read once more, and the
    rows of every touched bucket would otherwise sit on the heap as
    objects."""
    cut = df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    try:
        yield cut
    finally:
        release(cut)


def _feed_schema(schema: StructType) -> StructType:
    """The on-disk feed of a store with ``schema``: the post-image columns,
    ``change_type``, the ``pre_image`` struct and the commit version."""
    return StructType(
        [
            *schema.fields,
            StructField("change_type", StringType()),
            StructField("pre_image", schema),
            StructField(VERSION_COL, LongType()),
        ]
    )
