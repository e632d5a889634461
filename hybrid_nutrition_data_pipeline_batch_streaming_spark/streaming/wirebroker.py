"""In-process TCP line-protocol broker: the Kafka wire path, stood in.

The sandbox has no Kafka broker or client jar, so the engine's S1/S2 rows
were config-builders plus a Python-source stand-in. This module closes the
remaining gap — REAL BYTES OVER A REAL SOCKET — with a minimal
produce/fetch/commit broker speaking newline-delimited UTF-8. A topic is
one append-only log PER PARTITION (the Kafka topic model: offsets dense per
partition, consumer-group commits per (group, topic, partition)), and every
read and commit names its partition; a topic never CREATEd has one:

    CREATE <topic> <nparts>                      -> OK <nparts>
    PARTS <topic>                                -> OK <nparts>
    PRODUCE <topic> <json-value>                 -> OK <offset>
    PRODUCEK <topic> <key> <json-value>          -> OK <part> <offset>
    PRODUCEP <topic> <part> <json-value>         -> OK <offset>
    START <topic> <part>                         -> OK <start-offset>
    END <topic> <part>                           -> OK <end-offset>
    FETCH <topic> <part> <start> <end>           -> MSG <offset> <json-value>
                                                    ... DONE
                                                 |  ERR OffsetOutOfRange
                                                    start=<s> end=<e>
    COMMIT <group> <topic> <part> <offset>       -> OK
    COMMITTED <group> <topic> <part>             -> OK <offset|-1>
    RETAIN <topic> <part> <keep_last_n>          -> OK <new-start-offset>
    QUIT                                         -> (closes connection)

The three produce verbs route differently: ``PRODUCE`` appends to a
1-partition topic (an ERR on a multi-partition topic — explicit routing
only), ``PRODUCEK`` routes by key hash (crc32(key) % nparts — the
keyed-producer contract: same key, same partition, per-partition order
preserved) and ``PRODUCEP`` names the partition.

Log retention follows Kafka's retention.ms/retention.bytes model: RETAIN
deletes a PREFIX of the log, offsets are never renumbered, the log keeps a
start offset, and a FETCH below it is an offset-out-of-range error, which
is exactly the situation the reference's ``auto_offset_reset="earliest"``
(`consumer/consume_items.py:27`) exists to handle.

Semantics mirror the reference consumer/producer pair:

- append-only per-partition log, offsets dense from 0 — Kafka's topic
  model (`producer/produce_items.py:30-41` sends, the broker assigns);
- consumer groups with MANUAL commit: the reference disables auto-commit
  and commits after each processed record (`consumer/consume_items.py:27-29`
  ``enable_auto_commit=False``, `:107` ``consumer.commit()``); here COMMIT
  stores the group's next-offset-to-read and COMMITTED replays it, so a
  group resumes where it left off even WITHOUT a Spark checkpoint;
- fetch is offset-ranged and repeatable (no destructive pop), which is what
  makes Spark-side exactly-once possible: the checkpoint replays an offset
  range and the broker serves the same bytes.

The broker is a plain threaded TCP server (one thread per connection, state
under one lock) — it is test infrastructure standing in for Kafka, not a
distributed log. The SOURCE side (sources/wire_source.py) is the part that
must be production-shaped: ranged fetches from executor tasks, offsets in
the streaming checkpoint, group commit on epoch completion.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading
import zlib


class _PartLog:
    """One partition's append-only log with a retention-advanced start
    offset: ``rows[i]`` holds offset ``start + i`` (Kafka's log segment
    model — retention deletes a prefix, offsets are never renumbered)."""

    __slots__ = ("start", "rows")

    def __init__(self) -> None:
        self.start = 0
        self.rows: list[str] = []

    @property
    def end(self) -> int:
        return self.start + len(self.rows)


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:  # one connection, many commands
        broker: WireBroker = self.server.broker  # type: ignore[attr-defined]
        while True:
            line = self.rfile.readline()
            if not line:
                return
            try:
                reply = broker._dispatch(line.decode("utf-8").rstrip("\r\n"))
            except Exception as ex:  # malformed input never kills the server
                reply = [f"ERR {type(ex).__name__}: {ex}"]
            if reply is None:  # QUIT
                return
            self.wfile.write(("\n".join(reply) + "\n").encode("utf-8"))
            self.wfile.flush()


class _Server(socketserver.ThreadingTCPServer):
    daemon_threads = True
    allow_reuse_address = True


class WireBroker:
    """Threaded in-process broker. ``start()`` binds an ephemeral port."""

    def __init__(self, host: str = "127.0.0.1") -> None:
        self._host = host
        self._lock = threading.Lock()
        # topic -> one append-only log per partition (topics never
        # CREATEd auto-create with a single partition).
        self._topics: dict[str, list[_PartLog]] = {}
        self._commits: dict[tuple[str, str, int], int] = {}
        self._server: _Server | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle ----------------------------------------------------------
    def start(self) -> tuple[str, int]:
        self._server = _Server((self._host, 0), _Handler)
        self._server.broker = self  # type: ignore[attr-defined]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self.address

    @property
    def address(self) -> tuple[str, int]:
        assert self._server is not None, "broker not started"
        return self._server.server_address[:2]

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

    def __enter__(self) -> "WireBroker":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- protocol -----------------------------------------------------------
    def _log(self, topic: str, part: int) -> _PartLog:
        """The partition's log; caller holds the lock. Auto-creates a
        1-partition topic on partition-0 access, errors on out-of-range."""
        parts = self._topics.get(topic)
        if parts is None:
            if part != 0:
                raise ValueError(f"unknown topic {topic!r}")
            parts = self._topics[topic] = [_PartLog()]
        if not 0 <= part < len(parts):
            raise ValueError(
                f"partition {part} out of range for topic {topic!r}"
                f" ({len(parts)} partitions)"
            )
        return parts[part]

    def _dispatch(self, line: str) -> list[str] | None:
        cmd, _, rest = line.partition(" ")
        cmd = cmd.upper()
        if cmd == "QUIT":
            return None
        if cmd == "CREATE":
            topic, n_s = rest.split(" ")
            n = int(n_s)
            if n < 1:
                return ["ERR partition count must be >= 1"]
            with self._lock:
                existing = self._topics.get(topic)
                if existing is not None and len(existing) != n:
                    return [
                        f"ERR topic {topic!r} exists with"
                        f" {len(existing)} partitions"
                    ]
                if existing is None:
                    self._topics[topic] = [_PartLog() for _ in range(n)]
                return [f"OK {n}"]
        if cmd == "PARTS":
            with self._lock:
                parts = self._topics.get(rest)
                return [f"OK {1 if parts is None else len(parts)}"]
        if cmd in ("PRODUCE", "PRODUCEK", "PRODUCEP"):
            topic, _, payload = rest.partition(" ")
            key = None
            part = 0
            if cmd == "PRODUCEK":
                key, _, payload = payload.partition(" ")
            elif cmd == "PRODUCEP":
                part_s, _, payload = payload.partition(" ")
                part = int(part_s)
            value = json.loads(payload)
            if not isinstance(value, str):
                return ["ERR value must be a JSON string"]
            with self._lock:
                n = len(self._topics[topic]) if topic in self._topics else 1
                if cmd == "PRODUCE" and n != 1:
                    return [
                        f"ERR topic {topic!r} has {n} partitions;"
                        " use PRODUCEK or PRODUCEP"
                    ]
                if cmd == "PRODUCEK":
                    part = zlib.crc32(key.encode("utf-8")) % n
                log = self._log(topic, part)
                log.rows.append(value)
                off = log.end - 1
            return [f"OK {part} {off}" if cmd == "PRODUCEK" else f"OK {off}"]
        if cmd in ("END", "START"):
            topic, part_s = rest.split(" ")
            with self._lock:
                if topic not in self._topics:
                    return ["OK 0"]
                log = self._log(topic, int(part_s))
                return [f"OK {log.end if cmd == 'END' else log.start}"]
        if cmd == "RETAIN":
            topic, part_s, keep_s = rest.split(" ")
            part, keep = int(part_s), int(keep_s)
            if keep < 0:
                return ["ERR keep count must be >= 0"]
            with self._lock:
                if topic not in self._topics:
                    # A retention command is an admin op on an EXISTING
                    # topic; auto-creating here would let a mistyped name
                    # silently spawn an empty topic and answer OK 0.
                    return [f"ERR unknown topic {topic}"]
                log = self._log(topic, part)
                drop = max(0, len(log.rows) - keep)
                if drop:
                    del log.rows[:drop]
                    log.start += drop
                return [f"OK {log.start}"]
        if cmd == "FETCH":
            topic, part_s, start_s, end_s = rest.split(" ")
            start, end = int(start_s), int(end_s)
            with self._lock:
                if topic not in self._topics:
                    return ["DONE"]
                log = self._log(topic, int(part_s))
                # Kafka semantics: a fetch below the log start offset (the
                # requested records were deleted by retention) is an ERROR,
                # not an empty or silently-shifted read — the CONSUMER's
                # auto.offset.reset policy decides what happens next.
                if start < log.start and start < min(end, log.end):
                    return [
                        f"ERR OffsetOutOfRange start={log.start} end={log.end}"
                    ]
                chunk = list(
                    enumerate(
                        log.rows[start - log.start : max(end - log.start, 0)],
                        start,
                    )
                )
            out = [f"MSG {off} {json.dumps(v)}" for off, v in chunk]
            out.append("DONE")
            return out
        if cmd == "COMMIT":
            group, topic, part_s, off_s = rest.split(" ")
            with self._lock:
                self._commits[(group, topic, int(part_s))] = int(off_s)
            return ["OK"]
        if cmd == "COMMITTED":
            group, topic, part_s = rest.split(" ")
            with self._lock:
                return [f"OK {self._commits.get((group, topic, int(part_s)), -1)}"]
        return [f"ERR unknown command {cmd!r}"]


class OffsetOutOfRange(RuntimeError):
    """A fetch asked for offsets deleted by retention — Kafka's
    OffsetOutOfRangeException. Carries the partition's valid range so the
    consumer's reset policy can seek to ``start`` (= earliest)."""

    def __init__(self, start: int, end: int) -> None:
        super().__init__(
            f"requested offsets below log start (valid range [{start}, {end}))"
        )
        self.start = start
        self.end = end


def _maybe_oor(reply: str) -> None:
    if reply.startswith("ERR OffsetOutOfRange"):
        fields = dict(
            kv.split("=") for kv in reply.split(" ") if "=" in kv
        )
        raise OffsetOutOfRange(int(fields["start"]), int(fields["end"]))


class WireClient:
    """Blocking line-protocol client; safe to construct inside executor
    tasks (one short-lived connection per call site, like a Kafka client's
    per-task consumer)."""

    def __init__(self, host: str, port: int, timeout: float = 10.0) -> None:
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._rfile = self._sock.makefile("rb")

    def _send(self, line: str) -> None:
        self._sock.sendall((line + "\n").encode("utf-8"))

    def _recv_line(self) -> str:
        raw = self._rfile.readline()
        if not raw:
            raise ConnectionError("broker closed the connection")
        return raw.decode("utf-8").rstrip("\r\n")

    def _expect_ok(self) -> str:
        reply = self._recv_line()
        if not reply.startswith("OK"):
            raise RuntimeError(f"broker error: {reply}")
        return reply[3:]

    def produce(self, topic: str, value: str) -> int:
        self._send(f"PRODUCE {topic} {json.dumps(value)}")
        return int(self._expect_ok())

    def create_topic(self, topic: str, n_partitions: int) -> int:
        self._send(f"CREATE {topic} {n_partitions}")
        return int(self._expect_ok())

    def n_partitions(self, topic: str) -> int:
        self._send(f"PARTS {topic}")
        return int(self._expect_ok())

    def produce_keyed(self, topic: str, key: str, value: str) -> tuple[int, int]:
        """Keyed produce: broker routes crc32(key) % nparts; returns
        (partition, offset) — same key always lands on the same partition."""
        self._send(f"PRODUCEK {topic} {key} {json.dumps(value)}")
        part_s, off_s = self._expect_ok().split(" ")
        return int(part_s), int(off_s)

    def produce_part(self, topic: str, part: int, value: str) -> int:
        self._send(f"PRODUCEP {topic} {part} {json.dumps(value)}")
        return int(self._expect_ok())

    def start_offset(self, topic: str, *, part: int = 0) -> int:
        """Earliest retained offset (Kafka beginningOffsets); 0 unless
        RETAIN has deleted a prefix."""
        self._send(f"START {topic} {part}")
        return int(self._expect_ok())

    def end_offset(self, topic: str, *, part: int = 0) -> int:
        self._send(f"END {topic} {part}")
        return int(self._expect_ok())

    def fetch(
        self, topic: str, start: int, end: int, *, part: int = 0
    ) -> list[tuple[int, str]]:
        self._send(f"FETCH {topic} {part} {start} {end}")
        out: list[tuple[int, str]] = []
        while True:
            reply = self._recv_line()
            if reply == "DONE":
                return out
            if not reply.startswith("MSG "):
                _maybe_oor(reply)
                raise RuntimeError(f"broker error: {reply}")
            _, off, payload = reply.split(" ", 2)
            out.append((int(off), json.loads(payload)))

    def retain(self, topic: str, part: int, keep_last_n: int) -> int:
        """Prefix retention: keep only the newest ``keep_last_n`` records of
        the partition (offsets unchanged); returns the new start offset."""
        self._send(f"RETAIN {topic} {part} {keep_last_n}")
        return int(self._expect_ok())

    def commit(
        self, group: str, topic: str, offset: int, *, part: int = 0
    ) -> None:
        self._send(f"COMMIT {group} {topic} {part} {offset}")
        self._expect_ok()

    def committed(self, group: str, topic: str, *, part: int = 0) -> int:
        self._send(f"COMMITTED {group} {topic} {part}")
        return int(self._expect_ok())

    def close(self) -> None:
        try:
            self._send("QUIT")
        except OSError:
            pass
        self._rfile.close()
        self._sock.close()

    def __enter__(self) -> "WireClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def produce_dataframe(df, host: str, port: int, topic: str,
                      value_col: str = "item_name",
                      key_col: str | None = None) -> None:
    """Wire PRODUCER from executors (S2): each partition opens its own
    connection and streams its rows — the reference's paced driver loop
    (`produce_items.py:30-41`) turned into a partitioned write. Offset
    assignment is the broker's, so cross-partition arrival order is
    nondeterministic exactly like multi-producer Kafka. With ``key_col``
    set, rows route by key hash to the topic's partitions (keyed-producer
    mode: per-key order is preserved because one key always lands on one
    partition's append-only log)."""

    cols = [value_col] if key_col is None else [value_col, key_col]

    def _send(rows) -> None:
        client = WireClient(host, port)
        try:
            for row in rows:
                if key_col is None:
                    client.produce(topic, row[value_col])
                else:
                    client.produce_keyed(topic, str(row[key_col]), row[value_col])
        finally:
            client.close()

    df.select(*cols).foreachPartition(_send)
