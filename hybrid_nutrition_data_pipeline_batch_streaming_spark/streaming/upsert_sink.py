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

One schema rule: the first commit fixes the store's schema and records it
in every manifest. A merge whose batch would add, drop, rename or retype a
stored column raises before writing anything, and every read passes the
recorded schema to the parquet reader — no footer merge, no inference job.

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

    def _doc(self, version: int) -> dict:
        """Manifest ``version`` as committed. Version 0 is the pre-commit
        store: a valid, empty snapshot (read() treats it the same way), so
        changes(0, N) covers the first commit instead of raising
        FileNotFoundError."""
        if version == 0:
            return {"version": 0, "buckets": {}}
        path = os.path.join(self._manifest_dir, f"v{version:06d}.json")
        if not os.path.isfile(path):
            raise FileNotFoundError(
                f"store at {self.path!r} has no committed version {version} "
                f"(retained: {self._versions()}) — it may have been vacuumed"
            )
        with open(path) as fh:
            return json.load(fh)

    def _load_manifest(self, version: int) -> dict[int, str]:
        """The bucket map of manifest ``version``: bucket id → snapshot dir."""
        return {int(b): d for b, d in self._doc(version)["buckets"].items()}

    def _current_manifest(self) -> tuple[int, dict[int, str]]:
        """(version, bucket id → snapshot dir name). (0, {}) before the
        first commit. Manifests are written whole and renamed into place,
        so any file present here is complete."""
        versions = self._versions()
        if not versions:
            return 0, {}
        return versions[-1], self._load_manifest(versions[-1])

    def _schema(self, version: int, buckets: dict[int, str]) -> StructType | None:
        """The store's schema as manifest ``version`` records it; None
        before the first commit. A manifest committed without one (by hand)
        falls back to reading a bucket's footer."""
        recorded = self._doc(version).get("schema")
        if recorded is not None:
            return StructType.fromJson(recorded)
        if not buckets:
            return None
        return self._read_buckets(buckets, [min(buckets)], None).schema

    def _commit_manifest(
        self,
        version: int,
        buckets: dict[int, str],
        schema: StructType | None = None,
        changes: str | None = None,
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
        doc = {"version": version, "buckets": {str(b): d for b, d in buckets.items()}}
        if schema is not None:
            doc["schema"] = schema.jsonValue()
        if changes is not None:
            doc["changes"] = changes
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

    def _referenced_dirs(self) -> set[str]:
        """Every snapshot dir any RETAINED manifest points at — the live set
        for GC. Older manifests keep their dirs alive (time travel) until
        ``vacuum`` drops the manifests themselves."""
        refs: set[str] = set()
        for v in self._versions():
            refs.update(self._load_manifest(v).values())
        return refs

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
        current, _ = self._current_manifest()
        feeds = {self._doc(v).get("changes") for v in self._versions()}
        for root, live, pattern in (
            (self._data_dir, self._referenced_dirs(), _SNAP_RE),
            (self._changes_dir, feeds, _FEED_RE),
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

    def _snapshot(self, version: int | None) -> tuple[dict[int, str], StructType | None]:
        """The bucket map and schema of ``version``, or of the current
        version when None."""
        if version is None:
            version, buckets = self._current_manifest()
        else:
            buckets = self._load_manifest(version)
        return buckets, self._schema(version, buckets)

    def _read_buckets(
        self,
        buckets: dict[int, str],
        ids: list[int] | None,
        schema: StructType | None,
    ) -> DataFrame | None:
        """The one reader from a bucket map to rows: the snapshot dirs of
        ``ids`` (every bucket when None) that ``buckets`` holds, read with
        the store's ``schema``; None when it holds none of them."""
        if ids is not None:
            buckets = {b: buckets[b] for b in ids if b in buckets}
        if not buckets:
            return None
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(*[os.path.join(self._data_dir, d) for d in buckets.values()])

    # -- public API ---------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame | None:
        """The committed snapshot, or None if no merge has committed yet.

        ``version`` pins a historical snapshot (time travel): each manifest
        is a complete bucket map, so any retained version reads directly —
        no log replay. Raises if the version was vacuumed; existence comes
        from the manifest (never inferred from a swallowed read error — a
        transient/corruption failure must surface, not silently reset the
        store to empty)."""
        buckets, schema = self._snapshot(version)
        return self._read_buckets(buckets, None, schema)

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
        buckets, schema = self._snapshot(version)
        if not buckets:
            return None
        ids: list[int] = []
        if keys:
            values = ", ".join("(?)" for _ in keys)
            kdf = self.spark.sql(f"SELECT * FROM VALUES {values} AS t(k)", args=list(keys))
            hashed = kdf.select(self._bucket(F.col("k").cast(schema[self.key].dataType)))
            ids = sorted({r[0] for r in hashed.collect()})
        hits = self._read_buckets(buckets, ids, schema)
        if hits is None:
            # None of the requested keys' buckets exist in this snapshot.
            return self._read_buckets(buckets, None, schema).where(F.lit(False))
        return hits.where(F.col(self.key).isin(keys))

    def _changed_buckets(self, v_from: int, v_to: int) -> list[int]:
        """Bucket ids whose snapshot dir differs between two versions — the
        manifest diff, no data I/O at all."""
        mf = self._load_manifest(v_from)
        mt = self._load_manifest(v_to)
        # buckets present only in mf were fully emptied by a delete()
        return sorted(
            {b for b in mt if mf.get(b) != mt[b]} | {b for b in mf if b not in mt}
        )

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
        if not self._changed_buckets(v_from, v_to):
            return None
        feeds = []
        prev = self._load_manifest(v_from)
        for v in range(v_from + 1, v_to + 1):
            doc = self._doc(v)
            buckets = self._load_manifest(v)
            if "changes" in doc:
                feeds.append(os.path.join(self._changes_dir, doc["changes"]))
            elif buckets != prev:
                raise ValueError(
                    f"version {v} of the store at {self.path!r} changed its "
                    "buckets but records no change feed"
                )
            prev = buckets
        schema = self._schema(v_to, prev)
        cols = schema.fieldNames()
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

    def _commit(
        self,
        rows: DataFrame,
        feed: DataFrame,
        touched: list[int],
        version: int,
        buckets: dict[int, str],
        schema: StructType,
    ) -> None:
        """Rewrite the ``touched`` buckets from ``rows`` (the data columns
        plus BUCKET_COL, already partitioned by it), write ``feed`` as the
        commit's change feed, and commit both as manifest ``version + 1``,
        then GC. A touched bucket with no rows left drops out of the
        manifest.

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
        new_version = version + 1
        attempt = uuid.uuid4().hex[:8]
        stage = os.path.join(self._data_dir, f".stage-{attempt}")
        feed_stage = os.path.join(self._changes_dir, f".stage-{attempt}")
        feed_name = f"v{new_version:06d}-{attempt}"
        written: list[str] = []
        feed = feed.withColumn(VERSION_COL, F.lit(new_version).cast(LongType())).coalesce(1)
        try:
            _at_once(
                lambda: rows.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(stage),
                lambda: feed.write.parquet(feed_stage),
            )
            written.append(os.path.join(self._changes_dir, feed_name))
            os.rename(feed_stage, written[0])
            new_buckets = dict(buckets)
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

    def merge(self, batch: DataFrame) -> None:
        """LWW-merge one micro-batch: read touched buckets, then one window
        pass over the stored rows (tagged old) and the batch (tagged new),
        partitioned by bucket, picks each key's winner — the latest
        ``ts_col``, a batch row over a stored row on a tie — and carries the
        key's stored row along as its pre-image. Winners become the new
        snapshot dirs; winners that differ (null-safely) from their
        pre-image, or have none, become the commit's change feed. Both
        commit in one manifest (``_commit``: attempt-unique names,
        put-if-absent manifest link). A replayed batch rewrites its buckets
        with an empty feed.

        The batch is persisted for the call and released on return, so its
        source and any enrichment upstream run once, not once per action
        (the touched-bucket scan and the write)."""
        batch.persist()
        try:
            touched = self._touched(batch)
            if not touched:
                return
            version, buckets = self._current_manifest()
            schema = self._schema(version, buckets)
            if schema is None:
                schema = batch.schema  # the first commit fixes the schema
            self._check_schema(schema, batch.schema)
            cols = schema.fieldNames()
            bucket = self._bucket().alias(BUCKET_COL)
            rows = batch.select(*cols, bucket, F.lit(False).alias("__old"))
            current = self._read_buckets(buckets, touched, schema)
            if current is not None:
                rows = current.select(*cols, bucket, F.lit(True).alias("__old")).union(rows)
            post = F.struct(*cols)
            key = Window.partitionBy(BUCKET_COL, self.key).orderBy(F.desc(self.ts_col), "__old")
            whole_key = key.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ranked = (
                rows.repartition(self._partitions(touched), BUCKET_COL)
                .select(
                    *cols,
                    BUCKET_COL,
                    F.row_number().over(key).alias("__rn"),
                    F.first(F.when(F.col("__old"), post), ignorenulls=True)
                    .over(whole_key)
                    .alias("__pre"),
                )
            )
            pre = F.col("__pre")
            changed = ~post.eqNullSafe(pre)
            winners = ranked.where(F.col("__rn") == 1).select(
                *cols,
                BUCKET_COL,
                F.when(pre.isNull(), F.lit("insert"))
                .when(changed, F.lit("update"))
                .alias("change_type"),
                F.when(changed, pre).alias("pre_image"),
            )
            with _cut(winners) as cut:
                self._commit(
                    cut.select(*cols, BUCKET_COL),
                    cut.where(F.col("change_type").isNotNull()).drop(BUCKET_COL),
                    touched,
                    version,
                    buckets,
                    schema,
                )
        finally:
            batch.unpersist()

    def delete(self, keys: DataFrame) -> int:
        """Key-targeted delete (GDPR / right-to-be-forgotten): rewrite ONLY
        the buckets the keys hash into, without the matched rows, and
        commit a new manifest version whose change feed holds the matched
        rows as ``delete`` rows with their pre-images — O(touched buckets),
        never O(store). A bucket left empty drops out of the manifest
        entirely. Time travel still serves pre-delete versions until
        ``vacuum()`` removes them — the physical-erasure step a real
        forgetting workflow must run (same two-phase contract as Delta
        DELETE + VACUUM). Returns the number of rows removed; no-op (no new
        version) when nothing matched.

        Concurrency: same attempt-unique staging + put-if-absent manifest
        commit as ``merge()`` — a racing writer loses loudly with
        ConcurrentWriteError and the store stays consistent."""
        key_df = keys.select(F.col(self.key)).distinct()
        touched = self._touched(key_df)
        if not touched:
            return 0
        version, buckets = self._current_manifest()
        schema = self._schema(version, buckets)
        current = self._read_buckets(buckets, touched, schema)
        if current is None:
            return 0
        cols = schema.fieldNames()
        hit = F.col("__hit").isNotNull()
        rows = (
            current.join(
                key_df.select(F.col(self.key).alias("__hit")),
                F.col(self.key) == F.col("__hit"),
                "left",
            )
            .withColumn(BUCKET_COL, self._bucket())
            .repartition(self._partitions(touched), BUCKET_COL)
            .select(
                *cols,
                BUCKET_COL,
                F.when(hit, F.lit("delete")).alias("change_type"),
                F.when(hit, F.struct(*cols)).alias("pre_image"),
            )
        )
        with _cut(rows) as cut:
            gone = cut.where(F.col("change_type").isNotNull()).drop(BUCKET_COL)
            n = gone.count()
            if n == 0:
                return 0  # nothing matched: don't burn a version
            survivors = cut.where(F.col("change_type").isNull()).select(*cols, BUCKET_COL)
            self._commit(survivors, gone, touched, version, buckets, schema)
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
