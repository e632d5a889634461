"""Streaming keyed-upsert sink via foreachBatch (SURVEY.md §2.1 S4, §2.9 T7).

The reference's raw layer is a Cassandra table whose PRIMARY KEY makes every
INSERT a last-write-wins upsert (`consumer/consume_items.py:53,102-103`).
Structured Streaming's file sinks are append-only, so keyed upserts go
through ``foreachBatch``: each micro-batch is merged into the keyed store
with LWW semantics.

Store layout — a manifest-committed snapshot store (the Delta-log commit
pattern over plain parquet, dependency-free)::

    path/data/b{N}-v{V}/part-*.parquet   immutable bucket snapshots
    path/_manifest/v{V:06d}.json         {"version": V, "buckets": {N: dir}}

Buckets are hash partitions of the key space (N = pmod(xxhash64(key),
n_buckets)), so a merge

- reads ONLY the buckets the micro-batch touches (the manifest maps bucket
  id → current snapshot dir — O(touched buckets), not O(store));
- writes new immutable snapshot dirs for those buckets, leaving every other
  bucket's files byte-identical;
- COMMITS by renaming one complete manifest file into place — the single
  atomic visibility point. A crash anywhere before the rename leaves the
  previous manifest (and therefore a fully consistent store) in effect;
  orphaned data dirs are garbage-collected by later merges. The commit is
  transactional across buckets.

One schema rule: the first commit fixes the store's schema, and a merge
whose batch would add, drop, rename or retype a stored column raises before
writing anything — so every bucket shares one schema and reads never merge
footers.

One NULL-key rule: ``merge``'s LWW dedup groups NULL keys as one key, and
``changes`` matches keys null-safely (``<=>``), so a stored NULL key is
updated and diffed like any other. ``read_keys`` and ``delete`` match with
``=`` and never select a NULL key.

Because every manifest is a COMPLETE bucket map, any retained version is
directly readable — ``read(version=N)`` is snapshot time travel with no log
replay, ``history()`` lists versions, and ``vacuum(keep_last=K)`` bounds
disk growth by dropping old manifests plus the snapshot dirs only they
referenced (the merge-time GC keeps every dir a retained manifest needs).

Within one stream, foreachBatch serializes micro-batches; ACROSS writers the
manifest commit is put-if-absent (``os.link``), so a racing commit raises
``ConcurrentWriteError`` instead of silently losing an update — optimistic
concurrency, the contended-commit contract of a Delta log. In production the
same semantics come from a Delta/Iceberg ``MERGE INTO``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..pipeline import dedup_last_write_wins

BUCKET_COL = "bucket"

#: Snapshot dir name: b{bucket}-v{version}[-{attempt}]. The version component
#: lets GC distinguish decided versions from in-flight attempts.
_SNAP_RE = re.compile(r"^b\d+-v(\d+)")


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
    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifest")

    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets)).cast("int")

    def _versions(self) -> list[int]:
        """Committed manifest versions, ascending."""
        if not os.path.isdir(self._manifest_dir):
            return []
        return sorted(
            int(name[1:-5])
            for name in os.listdir(self._manifest_dir)
            if name.startswith("v") and name.endswith(".json")
        )

    def _load_manifest(self, version: int) -> dict[int, str]:
        if version == 0:
            # The pre-commit store: a valid, empty snapshot (read() treats it
            # the same way), so changes(0, N) diffs the first commit as pure
            # inserts instead of raising FileNotFoundError.
            return {}
        path = os.path.join(self._manifest_dir, f"v{version:06d}.json")
        if not os.path.isfile(path):
            raise FileNotFoundError(
                f"store at {self.path!r} has no committed version {version} "
                f"(retained: {self._versions()}) — it may have been vacuumed"
            )
        with open(path) as fh:
            doc = json.load(fh)
        return {int(b): d for b, d in doc["buckets"].items()}

    def _current_manifest(self) -> tuple[int, dict[int, str]]:
        """(version, bucket id → snapshot dir name). (0, {}) before the
        first commit. Manifests are written whole and renamed into place,
        so any file present here is complete."""
        versions = self._versions()
        if not versions:
            return 0, {}
        return versions[-1], self._load_manifest(versions[-1])

    def _commit_manifest(self, version: int, buckets: dict[int, str]) -> None:
        """The atomic commit point: write the complete manifest to a temp
        name, fsync, then ``link`` into place — link (unlike rename) FAILS
        if the target exists, so racing writers get compare-and-swap
        semantics instead of a silent lost update (the same contended-commit
        contract as a Delta log; on object stores this maps to
        put-if-absent)."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        final = os.path.join(self._manifest_dir, f"v{version:06d}.json")
        tmp = os.path.join(self._manifest_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(
                {"version": version, "buckets": {str(b): d for b, d in buckets.items()}},
                fh,
            )
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
        """Drop data dirs no retained manifest references (left by
        pre-commit crashes, or stranded when vacuum removed the last
        manifest that referenced them). Best-effort — a failure here never
        affects correctness, only disk usage.

        Concurrency guard: an unreferenced snapshot dir whose version is
        AHEAD of the current committed version may belong to another
        writer's in-flight attempt (renamed but not yet committed) — GC
        skips it; it becomes collectable as soon as that version is decided
        (the attempt either committed a manifest referencing it, or lost
        the race and its uniquely-named dirs stay unreferenced).
        ``.stage-*`` workspaces are owned (and removed) by their attempt;
        only ``vacuum`` — an administrative call, documented as not
        concurrent with writers — sweeps crashed leftovers of those."""
        if not os.path.isdir(self._data_dir):
            return
        current, _ = self._current_manifest()
        referenced = self._referenced_dirs()
        for name in os.listdir(self._data_dir):
            if name in referenced:
                continue
            if name.startswith("."):
                if include_stages:
                    shutil.rmtree(os.path.join(self._data_dir, name), ignore_errors=True)
                continue
            m = _SNAP_RE.match(name)
            if m is not None and int(m.group(1)) > current:
                continue  # possibly an in-flight attempt at the next version
            shutil.rmtree(os.path.join(self._data_dir, name), ignore_errors=True)

    def _manifest(self, version: int | None) -> dict[int, str]:
        """The bucket map of ``version``, or of the current version when
        None."""
        if version is None:
            return self._current_manifest()[1]
        return self._load_manifest(version)

    def _read_buckets(
        self, buckets: dict[int, str], ids: list[int] | None = None
    ) -> DataFrame | None:
        """The one reader from a bucket map to rows: the snapshot dirs of
        ``ids`` (every bucket when None) that ``buckets`` holds, or None
        when it holds none of them."""
        if ids is not None:
            buckets = {b: buckets[b] for b in ids if b in buckets}
        if not buckets:
            return None
        return self.spark.read.parquet(
            *[os.path.join(self._data_dir, d) for d in buckets.values()]
        )

    # -- public API ---------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame | None:
        """The committed snapshot, or None if no merge has committed yet.

        ``version`` pins a historical snapshot (time travel): each manifest
        is a complete bucket map, so any retained version reads directly —
        no log replay. Raises if the version was vacuumed; existence comes
        from the manifest (never inferred from a swallowed read error — a
        transient/corruption failure must surface, not silently reset the
        store to empty)."""
        return self._read_buckets(self._manifest(version))

    def read_keys(self, keys: list, version: int | None = None) -> DataFrame | None:
        """Point lookups by primary key — the reference's Cassandra PK read
        path (`consumer/consume_items.py:50-58`: PRIMARY KEY item_name
        routes a read to one partition). Each requested key hashes to its
        bucket and ONLY those bucket dirs are opened, then an exact filter
        keeps the requested keys — O(requested buckets) I/O, never
        O(store), at any store size.

        ``keys`` must be a BOUNDED list of values of the key column's type
        (a point-lookup API, not a join); the bucket ids are computed with
        the same xxhash64 expression the writer uses, via one tiny local
        job over the key list (no store data touched). For an unbounded
        key set, join ``read()`` instead. Returns None when the store has
        never committed."""
        buckets = self._manifest(version)
        if not buckets:
            return None
        kdf = self.spark.createDataFrame([(k,) for k in keys], [self.key])
        hits = self._read_buckets(buckets, self._touched(kdf))
        if hits is None:
            # None of the requested keys' buckets exist in this snapshot.
            return self._read_buckets(buckets).where(F.lit(False))
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

        Because a bucket's snapshot dir name changes iff its contents
        changed, the manifest diff bounds the read to TOUCHED buckets —
        O(changed data), never O(store), no matter how far apart the
        versions are. Within those buckets, a left join of the new snapshot
        against the old on the key classifies each row: ``insert`` (no old
        row) or ``update`` (the stored row changed — a NULL-SAFE
        comparison of the full pre/post structs, so value changes that
        carry an equal or NULL timestamp still surface); an anti-join leg
        surfaces ``delete`` rows (key present before, gone after — the
        ``delete()`` path), carrying the pre-image values in the data
        columns the way Delta's CDF does. Both legs match keys NULL-safely
        (``<=>``), so a stored NULL key is one key like any other, as in
        the LWW dedup. A side with no stored bucket reads as the other
        side with no rows, and the optimizer folds both joins away —
        ``changes(0, N)`` diffs against the empty pre-commit store and
        plans as the first commit's rows marked as inserts. Returns the
        post-image plus ``change_type`` and a ``pre_image`` struct (NULL
        for inserts) — pre-images let a downstream incremental view
        RETRACT the replaced contribution and add the new one instead of
        recomputing from the full store. None if nothing changed."""
        changed = self._changed_buckets(v_from, v_to)
        if not changed:
            return None
        old = self._read_buckets(self._load_manifest(v_from), changed)
        new = self._read_buckets(self._load_manifest(v_to), changed)
        if old is None:
            old = new.where(F.lit(False))
        if new is None:
            new = old.where(F.lit(False))
        cols = new.columns
        # Both structs list the columns in one order — struct comparison is
        # positional.
        pre = F.col("__pre")
        upserts = new.join(
            old.select(
                F.col(self.key).alias("__old_key"), F.struct(*cols).alias("__pre")
            ),
            F.col(self.key).eqNullSafe(F.col("__old_key")),
            "left",
        ).select(
            *cols,
            F.when(pre.isNull(), F.lit("insert"))
            .when(~F.struct(*cols).eqNullSafe(pre), F.lit("update"))
            .alias("change_type"),
            pre.alias("pre_image"),
        ).where(F.col("change_type").isNotNull())
        deletes = old.join(
            new.select(F.col(self.key).alias("__new_key")),
            F.col(self.key).eqNullSafe(F.col("__new_key")),
            "left_anti",
        ).select(
            *cols,
            F.lit("delete").alias("change_type"),
            F.struct(*cols).alias("pre_image"),
        )
        return upserts.unionByName(deletes)

    def history(self) -> list[int]:
        """Committed versions available to ``read(version=...)``,
        ascending — the store's ``DESCRIBE HISTORY``."""
        return self._versions()

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` manifests, then GC
        snapshot dirs no retained manifest references. Returns the dropped
        versions. Bounds time-travel disk growth the same way Delta's
        VACUUM does; the current snapshot is never touched."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the live snapshot)")
        versions = self._versions()
        dropped = versions[:-keep_last]
        for v in dropped:
            os.remove(os.path.join(self._manifest_dir, f"v{v:06d}.json"))
        self._gc_unreferenced(include_stages=True)
        return dropped

    def _commit_buckets(
        self,
        rows: DataFrame,
        touched: list[int],
        version: int,
        buckets: dict[int, str],
    ) -> None:
        """Rewrite the ``touched`` buckets from ``rows`` and commit them as
        manifest ``version + 1``, then GC. A touched bucket with no rows
        left drops out of the manifest.

        Every on-disk name this attempt creates is ATTEMPT-UNIQUE
        (``.stage-{attempt}`` workspace, ``b{b}-v{V}-{attempt}`` snapshot
        dirs), and nothing pre-existing is ever deleted before the commit —
        so two writers racing from the same base version never touch each
        other's files; the put-if-absent manifest link alone decides the
        winner, and the loser's dirs (removed on the spot, or by later GC)
        were never visible to any reader."""
        new_version = version + 1
        attempt = uuid.uuid4().hex[:8]
        stage = os.path.join(self._data_dir, f".stage-{attempt}")
        renamed: list[str] = []
        try:
            (
                rows.withColumn(BUCKET_COL, self._bucket())
                .repartition(len(touched), BUCKET_COL)
                .write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(stage)
            )
            new_buckets = dict(buckets)
            for b in touched:
                stage_dir = os.path.join(stage, f"{BUCKET_COL}={b}")
                if not os.path.isdir(stage_dir):
                    new_buckets.pop(b, None)  # bucket fully emptied
                    continue
                snap = f"b{b}-v{new_version:06d}-{attempt}"
                dst = os.path.join(self._data_dir, snap)
                os.rename(stage_dir, dst)
                renamed.append(dst)
                new_buckets[b] = snap
            try:
                self._commit_manifest(new_version, new_buckets)  # ← visibility point
            except ConcurrentWriteError:
                # Lost the race: the winner's store state is untouched (our
                # names are unique); drop our never-visible dirs and let the
                # caller rebase.
                for d in renamed:
                    shutil.rmtree(d, ignore_errors=True)
                raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        self._gc_unreferenced()

    def _touched(self, df: DataFrame) -> list[int]:
        """Sorted ids of the buckets ``df``'s keys hash into — one small
        driver-side collect, bounded by n_buckets, never by data volume."""
        return sorted(
            r[0]
            for r in df.select(self._bucket()).distinct().collect()
            if r[0] is not None
        )

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
        """LWW-merge one micro-batch: read touched buckets, union, dedup,
        write new snapshot dirs, commit one manifest (``_commit_buckets``:
        attempt-unique names, put-if-absent manifest link).

        The batch is persisted for the call and released on return, so its
        source and any enrichment upstream run once, not once per action
        (the touched-bucket collect and the write)."""
        batch.persist()
        try:
            touched = self._touched(batch)
            if not touched:
                return
            version, buckets = self._current_manifest()
            current = self._read_buckets(buckets, touched)
            if buckets:
                # every stored bucket carries the one schema; read another
                # bucket's only when the batch touches no stored one
                stored = current if current is not None else self._read_buckets(
                    buckets, [min(buckets)]
                )
                self._check_schema(stored.schema, batch.schema)
            merged = batch if current is None else current.unionByName(batch)
            deduped = dedup_last_write_wins(merged, key=self.key, ts=self.ts_col)
            self._commit_buckets(deduped, touched, version, buckets)
        finally:
            batch.unpersist()

    def delete(self, keys: DataFrame) -> int:
        """Key-targeted delete (GDPR / right-to-be-forgotten): rewrite ONLY
        the buckets the keys hash into, anti-joining them out, and commit a
        new manifest version — O(touched buckets), never O(store). A bucket
        left empty drops out of the manifest entirely. Time travel still
        serves pre-delete versions until ``vacuum()`` removes them — the
        physical-erasure step a real forgetting workflow must run (same
        two-phase contract as Delta DELETE + VACUUM). Returns the number of
        rows removed; no-op (no new version) when nothing matched.

        Concurrency: same attempt-unique staging + put-if-absent manifest
        commit as ``merge()`` — a racing writer loses loudly with
        ConcurrentWriteError and the store stays consistent."""
        key_df = keys.select(F.col(self.key)).distinct()
        touched = self._touched(key_df)
        if not touched:
            return 0
        version, buckets = self._current_manifest()
        current = self._read_buckets(buckets, touched)
        if current is None:
            return 0
        n = current.join(key_df, on=self.key, how="left_semi").count()
        if n == 0:
            return 0  # nothing matched: don't burn a version
        survivors = current.join(key_df, on=self.key, how="left_anti")
        self._commit_buckets(survivors, touched, version, buckets)
        return n

