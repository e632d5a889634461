"""Spark streaming source over the TCP wire broker (S1, the wire path).

``spark.readStream.format("wire_topic")`` with options ``host``/``port``/
``topic``/``group`` consumes a ``streaming.wirebroker.WireBroker`` topic the
way the reference consumer consumes Kafka (`consumer/consume_items.py`):

- **offsets in the checkpoint**: micro-batches are broker offset ranges, and
  a replayed batch re-FETCHes the identical bytes (the broker log is
  immutable and fetch is non-destructive) — exactly-once with an idempotent
  sink, the same contract as the Kafka source;
- **consumer-group resume**: the reference runs with auto-commit off and
  commits manually after processing (`consume_items.py:27-29,107`).
  ``initialOffset`` asks the broker for the group's committed offset and
  ``commit`` (called by the engine when a micro-batch's epoch completes)
  writes it back — so a NEW query with no checkpoint resumes where the
  group left off instead of re-reading the topic;
- **ranged fetches from executors**: ``read`` runs in worker tasks, each
  opening its own short-lived connection for its slice of the range —
  production Kafka's per-task consumer, not a driver-side drain. Ranges
  split at ``maxRowsPerPartition`` so a large backlog fans out.

Topic partitions: ``partitions()`` maps one-to-one onto broker partitions
(plus offset-range splits within each) and the group commit is per
(group, topic, partition); a topic never CREATEd is the same path with one
partition. Two formats depend on the partition count, each decided in one
helper pair: the checkpoint offset (``_encode_offsets``/``_decode_offsets``:
``{"offset": n}`` for 1 partition, the format existing checkpoints and
progress readers hold; Kafka's per-partition map ``{"0": o0, "1": o1}``
otherwise) and the row shape (``_schema``/``_shape_rows``: ``offset, value``
for 1 partition, with a leading ``partition`` column otherwise).

Retention + auto.offset.reset: the broker's RETAIN command
deletes a log prefix (offsets never renumber, Kafka's retention model), a
fetch below the retained start raises OffsetOutOfRange, and the consumer's
``offsetReset`` option decides: ``earliest`` (default — the reference's
``auto_offset_reset="earliest"``, `consumer/consume_items.py:27`) seeks to
the log start and accepts the loss; ``error`` fails the micro-batch loudly
(Kafka's failOnDataLoss=true). ``initialOffset`` starts new groups at the
earliest RETAINED offset, not 0.

Values are opaque strings (the broker's JSON-framed payloads), surfaced as
``(offset bigint, value string)`` — CAST/parse downstream, as with Kafka's
``CAST(value AS STRING)``.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SCHEMA = "offset bigint, value string"


def _schema(n_parts: int) -> str:
    """Row shape of a topic with ``n_parts`` partitions (see ``_shape_rows``)."""
    return SCHEMA if n_parts == 1 else "partition int, " + SCHEMA


def _shape_rows(
    rows: list[tuple[int, str]], part: int, n_parts: int
) -> list[tuple]:
    """Fetched ``(offset, value)`` rows of partition ``part`` in ``_schema``."""
    if n_parts == 1:
        return rows
    return [(part, off, value) for off, value in rows]


def _encode_offsets(offsets: list[int]) -> dict:
    """Per-partition offsets -> checkpoint offset JSON."""
    if len(offsets) == 1:
        return {"offset": offsets[0]}
    return {str(p): off for p, off in enumerate(offsets)}


def _decode_offsets(offset: dict, n_parts: int) -> list[int]:
    """Checkpoint offset JSON -> per-partition offsets."""
    if n_parts == 1:
        return [offset["offset"]]
    return [offset.get(str(p), 0) for p in range(n_parts)]


class _OffsetRange(InputPartition):
    def __init__(
        self,
        host: str,
        port: int,
        topic: str,
        start: int,
        end: int,
        part: int,
        n_parts: int,
        reset: str,
    ):
        self.host, self.port, self.topic = host, port, topic
        self.start, self.end = start, end
        self.part, self.n_parts = part, n_parts
        self.reset = reset


def _fetch_range(partition: _OffsetRange) -> Iterator[tuple]:
    from ..streaming.wirebroker import OffsetOutOfRange, WireClient

    client = WireClient(partition.host, partition.port)
    try:
        try:
            rows = client.fetch(
                partition.topic, partition.start, partition.end,
                part=partition.part,
            )
        except OffsetOutOfRange as oor:
            # Broker retention deleted part of the planned range between
            # offset planning and this task's fetch (or the checkpointed /
            # committed offset predates retention). Kafka's
            # auto.offset.reset decides: "earliest" seeks to the log start
            # and accepts the data loss (the reference consumer's setting,
            # consume_items.py:27); "error" fails the batch loudly
            # (failOnDataLoss=true). Retention can advance AGAIN between
            # the error and the re-fetch, so the reseek itself retries
            # (bounded) rather than failing the task despite the earliest
            # policy; each round re-reads the fresh log start from the
            # error. Skipped offsets are logged loudly — silent data loss
            # under "earliest" should at least be visible in task logs.
            if partition.reset != "earliest":
                raise
            import logging

            seek = min(max(partition.start, oor.start), partition.end)
            for attempt in range(5):
                try:
                    rows = client.fetch(
                        partition.topic, seek, partition.end,
                        part=partition.part,
                    )
                    break
                except OffsetOutOfRange as again:
                    if attempt == 4:  # bounded: fail loudly, not forever
                        raise
                    seek = min(max(seek, again.start), partition.end)
            logging.getLogger(__name__).warning(
                "wire_topic %s[%d]: offsetReset=earliest skipped offsets"
                " [%d, %d) deleted by retention",
                partition.topic, partition.part, partition.start, seek,
            )
    finally:
        client.close()
    yield from _shape_rows(rows, partition.part, partition.n_parts)


def _offset_ranges(
    host: str,
    port: int,
    topic: str,
    bounds: list[tuple[int, int]],
    step: int,
    reset: str = "error",
) -> list[_OffsetRange]:
    """One input partition per ``step`` offsets of each broker partition's
    ``[lo, hi)`` in ``bounds``; an empty range still yields one (empty)
    input partition."""
    n_parts = len(bounds)
    return [
        _OffsetRange(host, port, topic, s, min(s + step, hi), p, n_parts, reset)
        for p, (lo, hi) in enumerate(bounds)
        for s in range(lo, hi, step) or [lo]
    ]


class _WireStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, n_parts: int):
        self.host = options.get("host", "127.0.0.1")
        self.port = int(options["port"])
        self.topic = options["topic"]
        self.group = options.get("group", "spark")
        self.max_rows = int(options.get("maxrowsperpartition", 10_000))
        # auto.offset.reset: "earliest" (the reference consumer's setting,
        # consume_items.py:27 — seek to the retained log start when the
        # wanted offsets were deleted by retention) or "error"
        # (failOnDataLoss: fail the batch instead of skipping records).
        self.offset_reset = options.get("offsetreset", "earliest").lower()
        if self.offset_reset not in ("earliest", "error"):
            raise ValueError(
                f"offsetReset must be 'earliest' or 'error',"
                f" got {self.offset_reset!r}"
            )
        self.n_parts = n_parts

    def _client(self):
        from ..streaming.wirebroker import WireClient

        return WireClient(self.host, self.port)

    def initialOffset(self) -> dict:
        # No checkpoint: resume from the group's commit, else from the
        # EARLIEST RETAINED offset (not 0 — retention may have deleted a
        # prefix before this consumer ever started). A committed offset
        # below the log start is handled by the reset policy at fetch time.
        offsets = []
        with self._client() as c:
            for p in range(self.n_parts):
                committed = c.committed(self.group, self.topic, part=p)
                if committed < 0:
                    committed = c.start_offset(self.topic, part=p)
                offsets.append(committed)
        return _encode_offsets(offsets)

    def latestOffset(self) -> dict:
        with self._client() as c:
            return _encode_offsets(
                [c.end_offset(self.topic, part=p) for p in range(self.n_parts)]
            )

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        bounds = zip(
            _decode_offsets(start, self.n_parts),
            _decode_offsets(end, self.n_parts),
        )
        return _offset_ranges(
            self.host, self.port, self.topic, list(bounds), self.max_rows,
            self.offset_reset,
        )

    def read(self, partition: _OffsetRange) -> Iterator[tuple]:
        return _fetch_range(partition)

    def commit(self, end: dict) -> None:
        # Manual consumer-group commit on epoch completion — the wire twin
        # of the reference's consumer.commit() after processing.
        with self._client() as c:
            for p, off in enumerate(_decode_offsets(end, self.n_parts)):
                c.commit(self.group, self.topic, off, part=p)


class _WireBatchReader(DataSourceReader):
    """``spark.read.format("wire_topic")`` — every partition of the topic
    (or an explicit ``startOffset``/``endOffset`` range on 1-partition
    topics) as a batch frame, range-partitioned so each task fetches its
    own slice — Kafka's batch-read mode."""

    def __init__(self, options: dict, n_parts: int):
        self.host = options.get("host", "127.0.0.1")
        self.port = int(options["port"])
        self.topic = options["topic"]
        self.start = options.get("startoffset")  # None -> earliest retained
        self.end = options.get("endoffset")
        self.max_rows = int(options.get("maxrowsperpartition", 10_000))
        self.n_parts = n_parts
        # A single offset cannot bound several partitions' logs; ignoring
        # it would silently read the whole topic.
        for name, value in (("startOffset", self.start), ("endOffset", self.end)):
            if value is not None and n_parts > 1:
                raise ValueError(
                    f"{name} applies to 1-partition topics only; topic"
                    f" {self.topic!r} has {n_parts} partitions"
                )

    def partitions(self) -> list[InputPartition]:
        from ..streaming.wirebroker import WireClient

        # Default lower bound is the earliest RETAINED offset (an explicit
        # startOffset below it fails at fetch — data loss must be asked
        # for, never silent in batch mode).
        with WireClient(self.host, self.port) as c:
            bounds = [
                (
                    int(self.start) if self.start is not None
                    else c.start_offset(self.topic, part=p),
                    int(self.end) if self.end is not None
                    else c.end_offset(self.topic, part=p),
                )
                for p in range(self.n_parts)
            ]
        return _offset_ranges(
            self.host, self.port, self.topic, bounds, self.max_rows
        )

    def read(self, partition: _OffsetRange) -> Iterator[tuple]:
        return _fetch_range(partition)


class WireTopicDataSource(DataSource):
    """``format("wire_topic")`` — batch + streaming consumer for the TCP
    broker. Partition count is discovered from the broker once per reader
    (PARTS), like a Kafka client fetching topic metadata."""

    @classmethod
    def name(cls) -> str:
        return "wire_topic"

    def _n_parts(self) -> int:
        from ..streaming.wirebroker import WireClient

        host = self.options.get("host", "127.0.0.1")
        port = int(self.options["port"])
        with WireClient(host, port) as c:
            return c.n_partitions(self.options["topic"])

    def schema(self) -> str:
        return _schema(self._n_parts())

    def reader(self, schema) -> DataSourceReader:
        return _WireBatchReader(self.options, self._n_parts())

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _WireStreamReader(self.options, self._n_parts())


def register(spark) -> None:
    # Data-source worker processes re-import this module; ship the package
    # so the import resolves regardless of the driver's cwd/sys.path.
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    spark.dataSource.register(WireTopicDataSource)
