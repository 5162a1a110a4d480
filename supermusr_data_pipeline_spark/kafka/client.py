"""Minimal Kafka producer/consumer speaking the real wire protocol
(protocol.py; public spec https://kafka.apache.org/protocol), plus the
bridge that lands consumed records where Spark Structured Streaming can
micro-batch them.

The consumer is built from the SAME option dict the production
`kafka_source_options` builder emits for ``spark.readStream
.format("kafka")`` (`consumer_from_options`), so S1's configuration
surface — bootstrap servers, subscribe list, startingOffsets /
startingTimestamp, maxOffsetsPerTrigger backpressure — is exercised
against a live (in-process) broker rather than only constructed.
Reference parity: consumer factory common/src/lib.rs:72-94; the
producer's bounded buffer mirrors trace-to-events/src/main.rs:81-84
(1024-message cap, flush on overflow).

Spark bridge: `spool_to_parquet` drains polls into parquet files whose
schema mirrors the Kafka source's output columns (key, value, topic,
partition, offset, timestamp), and `read_kafka_spool_stream` reads that
spool as a file stream — each poll becomes one file, i.e. one
micro-batch ingestion unit, the file-source analog of
``maxOffsetsPerTrigger`` batching."""

from __future__ import annotations

import itertools
import os
import socket
import struct
import time
from dataclasses import dataclass

from . import auth
from . import protocol as P

_DEFAULT_MAX_PARTITION_BYTES = 1 << 20


@dataclass
class ConsumerRecord:
    topic: str
    partition: int
    offset: int
    timestamp: int  # ms
    key: bytes | None
    value: bytes | None


class _Conn:
    """One blocking connection: frame requests, match correlation ids.
    ``send_request``/``recv_response`` expose the two halves so a caller
    can PIPELINE — put the next request on the wire before consuming the
    previous response (responses come back in order; pending correlation
    ids are matched FIFO, which the protocol guarantees per
    connection)."""

    def __init__(
        self, bootstrap: str, client_id: str, security=None
    ) -> None:
        host, port = bootstrap.rsplit(":", 1)
        self.sock = socket.create_connection((host, int(port)), timeout=30)
        # request/response framing: never batch the tail of a frame
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.client_id = client_id
        self._corr = itertools.count(1)
        self._pending: list[int] = []
        self.security = security
        if security is not None and security.use_tls:
            if not security.ca_location:
                raise ValueError(
                    f"{security.protocol} requires kafka.ssl.ca.location "
                    "(PEM CA bundle; librdkafka's ssl.ca.location)"
                )
            ctx = auth.client_ssl_context(security.ca_location)
            # hostname check against the cert's SANs (IPs included)
            self.sock = ctx.wrap_socket(self.sock, server_hostname=host)
        if security is not None and security.use_sasl:
            self._sasl_authenticate(security)

    def _sasl_authenticate(self, security) -> None:
        """SaslHandshake v1 + SaslAuthenticate v0 exchange (the modern
        framed flow); raises on rejection, verifies the server signature
        under SCRAM (mutual authentication)."""
        cur = self.request(
            P.API_SASL_HANDSHAKE, 1,
            P.encode_sasl_handshake_request(security.mechanism),
        )
        err, mechanisms = P.decode_sasl_handshake_response(cur)
        if err != P.ERR_NONE:
            raise OSError(
                f"SASL handshake rejected (error {err}); broker offers "
                f"{mechanisms}"
            )

        def auth_round(token: bytes) -> bytes:
            cur = self.request(
                P.API_SASL_AUTHENTICATE, 0,
                P.encode_sasl_authenticate_request(token),
            )
            aerr, msg, out = P.decode_sasl_authenticate_response(cur)
            if aerr != P.ERR_NONE:
                raise OSError(f"SASL authentication failed: {msg}")
            return out

        if security.mechanism == auth.PLAIN:
            auth_round(auth.plain_token(security.username, security.password))
            return
        scram = auth.ScramClient(security.username, security.password)
        server_first = auth_round(scram.first())
        server_final = auth_round(scram.final(server_first))
        scram.verify(server_final)

    def send_request(self, api_key: int, api_version: int, body: bytes) -> None:
        corr = next(self._corr)
        self._pending.append(corr)
        self.sock.sendall(
            P.encode_request(api_key, api_version, corr, self.client_id, body)
        )

    def recv_response(self) -> P.Cursor:
        (size,) = struct.unpack(">i", self._recv(4))
        payload = self._recv(size)
        cur = P.Cursor(payload)
        got = cur.i32()
        exp = self._pending.pop(0)
        if got != exp:
            raise OSError(f"correlation mismatch: sent {exp}, got {got}")
        return cur

    def request(self, api_key: int, api_version: int, body: bytes) -> P.Cursor:
        self.send_request(api_key, api_version, body)
        return self.recv_response()

    def _recv(self, n: int) -> bytearray:
        # recv_into a preallocated buffer: a multi-MB fetch response
        # arrives in many kernel-sized chunks, and the naive
        # ``buf += chunk`` on immutable bytes re-copies the whole prefix
        # per chunk — quadratic memcpy that capped a single connection
        # at ~156 MB/s.  Returned as the bytearray itself: a final
        # bytes() would be one more whole-response memcpy per round trip
        buf = bytearray(n)
        view = memoryview(buf)
        got = 0
        while got < n:
            r = self.sock.recv_into(view[got:])
            if r == 0:
                raise ConnectionError("broker closed connection")
            got += r
        return buf

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass

    def metadata(self, topics: list[str]) -> dict[str, int]:
        """topic → partition count (touching a topic auto-creates it)."""
        cur = self.request(P.API_METADATA, 0, P.encode_metadata_request(topics))
        _brokers, tmeta = P.decode_metadata_response(cur)
        return {name: len(parts) for err, name, parts in tmeta if err == P.ERR_NONE}

    def metadata_full(self, topics: list[str]):
        """Raw (brokers, topics) metadata — node addresses and
        per-partition (leader, replicas, isr), the cluster routing
        surface."""
        cur = self.request(P.API_METADATA, 0, P.encode_metadata_request(topics))
        return P.decode_metadata_response(cur)


class _Router:
    """Leader-aware connection management for producer/consumer: one
    ``_Conn`` per broker address, a (topic, partition) -> leader-address
    map refreshed from Metadata, and bootstrap failover across a
    comma-separated broker list.  Against a single broker every
    partition maps to the one address, so request grouping degenerates
    to exactly the old single-connection behavior."""

    def __init__(self, bootstrap: str, client_id: str, security=None) -> None:
        self.addrs = [a.strip() for a in bootstrap.split(",") if a.strip()]
        if not self.addrs:
            raise ValueError("empty bootstrap list")
        self.client_id = client_id
        self.security = security
        self._conns: dict[str, _Conn] = {}
        self._leader: dict[tuple[str, int], str] = {}
        self._counts: dict[str, int] = {}
        self._meta_addr: str | None = None

    def conn(self, addr: str) -> _Conn:
        c = self._conns.get(addr)
        if c is None:
            c = self._conns[addr] = _Conn(addr, self.client_id, self.security)
        return c

    def invalidate(self, addr: str) -> None:
        c = self._conns.pop(addr, None)
        if c is not None:
            c.close()

    def meta_conn(self) -> _Conn:
        """A connection to ANY live broker (bootstrap failover order:
        last-good, the bootstrap list, every known leader address)."""
        candidates = []
        if self._meta_addr:
            candidates.append(self._meta_addr)
        candidates += [a for a in self.addrs if a not in candidates]
        candidates += [
            a for a in set(self._leader.values()) if a not in candidates
        ]
        last_err: Exception | None = None
        for addr in candidates:
            try:
                c = self.conn(addr)
                self._meta_addr = addr
                return c
            except OSError as e:
                self.invalidate(addr)
                last_err = e
        raise OSError(f"no reachable broker in {candidates}: {last_err}")

    def meta_request(self, fn):
        """Run ``fn(conn)`` against ANY live broker: tries the cached
        metadata address first, then fails over across the bootstrap
        list and every known leader address — a cached socket to a DEAD
        broker must not sink a call two live brokers could serve."""
        last_err: Exception | None = None
        tried = 0
        while tried < 2 + len(self.addrs):
            tried += 1
            conn = self.meta_conn()
            try:
                return fn(conn)
            except OSError as e:
                self.invalidate(self._meta_addr)
                self._meta_addr = None
                last_err = e
        raise OSError(f"no broker served the metadata call: {last_err}")

    def metadata_counts(self, topics: list[str]) -> dict[str, int]:
        """topic -> partition count, with broker failover (also updates
        the leader map — one round trip serves both)."""
        brokers, tmeta = self.meta_request(lambda c: c.metadata_full(topics))
        self._apply_metadata(brokers, tmeta)
        return {
            name: len(parts) for err, name, parts in tmeta if err == P.ERR_NONE
        }

    def _apply_metadata(self, brokers, tmeta) -> None:
        by_node = {nid: f"{host}:{port}" for nid, host, port in brokers}
        for err, name, parts in tmeta:
            if err != P.ERR_NONE:
                continue
            self._counts[name] = len(parts)
            for perr, pid, leader, _replicas, _isr in parts:
                if perr == P.ERR_NONE and leader in by_node:
                    self._leader[(name, pid)] = by_node[leader]
                else:
                    self._leader.pop((name, pid), None)

    def refresh(self, topics: list[str]) -> None:
        """One Metadata round trip (with bootstrap failover): updates
        partition counts and the leader map."""
        last_err: Exception | None = None
        for _attempt in range(2):
            conn = self.meta_conn()
            try:
                brokers, tmeta = conn.metadata_full(topics)
            except OSError as e:
                self.invalidate(self._meta_addr)
                self._meta_addr = None
                last_err = e
                continue
            self._apply_metadata(brokers, tmeta)
            return
        raise OSError(f"metadata refresh failed: {last_err}")

    def partitions(self, topic: str) -> int:
        if topic not in self._counts:
            self.refresh([topic])
        return self._counts[topic]

    def leader_addr(self, topic: str, pid: int) -> str:
        addr = self._leader.get((topic, pid))
        if addr is None:
            self.refresh([topic])
            addr = self._leader.get((topic, pid))
        if addr is None:
            raise OSError(f"no leader available for {topic}/{pid}")
        return addr

    def list_offsets(
        self, tps: list[tuple[str, int]], target: int
    ) -> dict[tuple[str, int], int]:
        """Leader-routed ListOffsets for the given partitions; one
        refresh-and-retry on moved leadership.  -1 means the timestamp
        is past the log end."""
        out: dict[tuple[str, int], int] = {}
        pending = list(tps)
        for attempt in (0, 1):
            moved: list[tuple[str, int]] = []
            for addr, group in sorted(self.group_by_leader(pending).items()):
                by_topic: dict[str, list[tuple[int, int]]] = {}
                for t, p in group:
                    by_topic.setdefault(t, []).append((p, target))
                body = P.encode_list_offsets_request(sorted(by_topic.items()))
                try:
                    cur = self.conn(addr).request(P.API_LIST_OFFSETS, 1, body)
                except OSError:
                    self.invalidate(addr)
                    moved.extend(group)
                    continue
                for topic, prs in P.decode_list_offsets_response(cur):
                    for pid, err, _ts, off in prs:
                        if err == P.ERR_NOT_LEADER_FOR_PARTITION:
                            moved.append((topic, pid))
                        elif err != P.ERR_NONE:
                            raise OSError(
                                f"list_offsets {topic}/{pid}: error {err}"
                            )
                        else:
                            out[(topic, pid)] = off
            if not moved:
                return out
            if attempt == 1:
                raise OSError(f"list_offsets failed after refresh: {moved}")
            self.refresh(sorted({t for t, _p in moved}))
            pending = moved
        return out

    def group_by_leader(self, tps) -> dict[str, list[tuple[str, int]]]:
        """[(topic, pid)] -> {leader_addr: [(topic, pid)]}, resolving
        unknown leaders with one refresh."""
        out: dict[str, list[tuple[str, int]]] = {}
        for t, p in tps:
            out.setdefault(self.leader_addr(t, p), []).append((t, p))
        return out

    def close(self) -> None:
        for c in self._conns.values():
            c.close()
        self._conns.clear()


class MiniProducer:
    """Buffered producer with the reference's bounded-buffer discipline:
    ``send`` enqueues, the buffer flushes itself at ``buffer_max``
    messages (trace-to-events/src/main.rs:81-84), and ``flush`` drains
    explicitly (the SIGINT drain path, T8)."""

    def __init__(
        self,
        bootstrap: str,
        compression: str = "none",
        buffer_max: int = 1024,
        client_id: str = "supermusr-producer",
        security=None,
    ) -> None:
        self._router = _Router(bootstrap, client_id, security)
        self._router.meta_conn()  # fail fast on an unreachable bootstrap
        self.compression = compression
        self.buffer_max = buffer_max
        self._buf: list[tuple[str, int, int, bytes | None, bytes | None]] = []
        self.acked = 0

    def _partitions(self, topic: str) -> int:
        return self._router.partitions(topic)

    def send(
        self,
        topic: str,
        value: bytes | None,
        key: bytes | None = None,
        timestamp_ms: int | None = None,
        partition: int | None = None,
    ) -> None:
        if partition is None:
            partition = P.default_partition(key, self._partitions(topic))
        ts = int(time.time() * 1000) if timestamp_ms is None else timestamp_ms
        self._buf.append((topic, partition, ts, key, value))
        if len(self._buf) >= self.buffer_max:
            self.flush()

    def flush(self) -> None:
        if not self._buf:
            return
        grouped: dict[tuple[str, int], list[tuple[int, bytes | None, bytes | None]]] = {}
        for topic, pid, ts, k, v in self._buf:
            grouped.setdefault((topic, pid), []).append((ts, k, v))
        self._buf = []
        msets = {
            tp: P.encode_message_set(recs, compression=self.compression)
            for tp, recs in grouped.items()
        }
        pending = dict(msets)
        # leader-routed, acks=-1 (committed to the full ISR); one retry
        # after a metadata refresh for partitions whose leadership MOVED
        # (NOT_LEADER never appended, so the retry cannot duplicate;
        # mid-response connection failures raise — ambiguous outcomes
        # must not be blind-retried)
        for attempt in (0, 1):
            failed: dict[tuple[str, int], bytes] = {}
            by_addr = self._router.group_by_leader(sorted(pending))
            for addr, tps in sorted(by_addr.items()):
                by_topic: dict[str, list[tuple[int, bytes]]] = {}
                for t, pid in tps:
                    by_topic.setdefault(t, []).append((pid, pending[(t, pid)]))
                body = P.encode_produce_request(-1, 30_000, sorted(by_topic.items()))
                try:
                    cur = self._router.conn(addr).request(P.API_PRODUCE, 2, body)
                except OSError:
                    # connection died: refresh and retry these (the send
                    # may or may not have landed — the broker applies
                    # whole message sets, and a reconnect retry matches
                    # the real producer's retries>0 at-least-once default)
                    self._router.invalidate(addr)
                    failed.update({tp: pending[tp] for tp in tps})
                    continue
                topics, _throttle = P.decode_produce_response(cur)
                for topic, prs in topics:
                    for pid, err, _base, _lat in prs:
                        if err == P.ERR_NOT_LEADER_FOR_PARTITION:
                            failed[(topic, pid)] = pending[(topic, pid)]
                        elif err != P.ERR_NONE:
                            raise OSError(
                                f"produce to {topic}/{pid} failed: error {err}"
                            )
            if not failed:
                break
            if attempt == 1:
                raise OSError(
                    f"produce failed after leader refresh: {sorted(failed)}"
                )
            self._router.refresh(sorted({t for t, _p in failed}))
            pending = failed
        self.acked += sum(len(r) for r in grouped.values())

    def close(self) -> None:
        self.flush()
        self._router.close()

    def __enter__(self) -> "MiniProducer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class MiniConsumer:
    """Manual-assignment consumer over every partition of the subscribed
    topics (the pipeline's consumers are single-group readers of whole
    topics — common/src/lib.rs:72-94; no group coordinator needed)."""

    def __init__(
        self,
        bootstrap: str,
        topics: list[str],
        starting_offsets: str = "earliest",
        starting_timestamp_ms: int | None = None,
        max_poll_records: int | None = None,
        client_id: str = "supermusr-consumer",
        security=None,
        partitions: dict[str, list[int]] | None = None,
    ) -> None:
        """``partitions`` restricts the assignment to an explicit
        topic->partition-list map (the JVM source's ``assign`` form) —
        the fleet-sharding primitive: N consumer processes each own a
        disjoint partition set of one topic.  Default: every partition
        of every subscribed topic."""
        self._router = _Router(bootstrap, client_id, security)
        self.max_poll_records = max_poll_records
        # one metadata round trip: partition counts AND the leader map
        counts = self._router.metadata_counts(topics)
        self._positions: dict[tuple[str, int], int] = {}
        missing = [t for t in topics if t not in counts]
        if missing:
            raise ValueError(f"unknown topics: {missing}")
        if starting_timestamp_ms is not None:
            target = starting_timestamp_ms
        else:
            target = (
                P.EARLIEST_TIMESTAMP
                if starting_offsets == "earliest"
                else P.LATEST_TIMESTAMP
            )
        if partitions is not None:
            bad = [
                (t, p)
                for t, ps in partitions.items()
                for p in ps
                if p < 0 or p >= counts.get(t, 0)
            ]
            if bad:
                raise ValueError(
                    f"assigned partitions outside topic range: {bad}"
                )
            assignment = [
                (t, sorted(int(p) for p in partitions.get(t, [])))
                for t in topics
            ]
        else:
            assignment = [(t, list(range(counts[t]))) for t in topics]
        self._seek_all(assignment, target)

    def _list_offsets(
        self, tps: list[tuple[str, int]], target: int
    ) -> dict[tuple[str, int], int]:
        return self._router.list_offsets(tps, target)

    def _seek_all(self, assignment: list[tuple[str, list[int]]], target: int) -> None:
        tps = [(t, p) for t, pids in assignment for p in pids]
        offs = self._list_offsets(tps, target)
        # timestamp lookup past the log end → -1: start at the end
        # (nothing at/after the target yet), matching the Kafka
        # source's startingTimestamp + failOnDataLoss=false posture
        ends: dict[tuple[str, int], int] = {}
        missing = [tp for tp, off in offs.items() if off < 0]
        if missing:
            ends = self._list_offsets(missing, P.LATEST_TIMESTAMP)
        for tp in tps:
            off = offs[tp]
            self._positions[tp] = off if off >= 0 else ends[tp]

    def _log_end(self, topic: str, pid: int) -> int:
        return self._list_offsets([(topic, pid)], P.LATEST_TIMESTAMP)[
            (topic, pid)
        ]

    def seek_tail(self, n: int) -> None:
        """Position each partition ``n`` records before its log end — the
        kafka-tail diagnostic's read window (reference
        diagnostics/src/kafka_tail.rs:10-52).  With multiple partitions
        the aggregate window is up to n×partitions, like tailing each
        partition independently."""
        for (t, p) in list(self._positions):
            self._positions[(t, p)] = max(0, self._log_end(t, p) - n)

    def seek_to_timestamp(self, timestamp_ms: int) -> None:
        """O3 analog over the wire: the broker's time→offset bisect
        replaces the reference's manual binary_by_timestamp.rs search."""
        by_topic: dict[str, list[int]] = {}
        for t, p in self._positions:
            by_topic.setdefault(t, []).append(p)
        self._seek_all(sorted((t, sorted(ps)) for t, ps in by_topic.items()), timestamp_ms)

    def positions(self) -> dict[tuple[str, int], int]:
        return dict(self._positions)

    def seek(self, positions: dict[tuple[str, int], int]) -> None:
        """Set the fetch cursor for partitions in the CURRENT
        assignment; keys outside it are dropped (a resumed consumer's
        saved offsets may reference topics/partitions it no longer
        subscribes to — injecting those would error every poll).
        This is the public resume API and part of the contract any
        ``consumer_factory`` object handed to FetchLoopNexusWriter
        must honor."""
        for tp, off in positions.items():
            if tp in self._positions:
                self._positions[tp] = int(off)

    def poll(
        self,
        max_wait_ms: int = 500,
        min_bytes: int = 1,
        max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
    ) -> list[ConsumerRecord]:
        """One blocking fetch PER PARTITION LEADER across the
        assignment; advances positions.  Against a single broker this is
        one fetch request on one connection (the pre-cluster behavior);
        against a MiniCluster each leader gets its own request — the
        per-broker fan-out a real consumer does.  ``max_poll_records``
        (the maxOffsetsPerTrigger analog) bounds the batch — excess
        records stay on the broker for the next poll.  Moved leadership
        (NOT_LEADER / dead connection) triggers ONE metadata refresh and
        retry; fetch is idempotent so the retry is safe."""
        out: list[ConsumerRecord] = []
        budget = self.max_poll_records
        pending = sorted(self._positions)
        for attempt in (0, 1):
            moved: list[tuple[str, int]] = []
            for addr, group in sorted(
                self._router.group_by_leader(pending).items()
            ):
                by_topic: dict[str, list[tuple[int, int, int]]] = {}
                for t, p in group:
                    by_topic.setdefault(t, []).append(
                        (p, self._positions[(t, p)], max_partition_bytes)
                    )
                body = P.encode_fetch_request(
                    max_wait_ms, min_bytes, sorted(by_topic.items())
                )
                try:
                    cur = self._router.conn(addr).request(P.API_FETCH, 2, body)
                except OSError:
                    self._router.invalidate(addr)
                    moved.extend(group)
                    continue
                _throttle, topics = P.decode_fetch_response(cur)
                for topic, prs in topics:
                    for pid, err, _hw, mset in prs:
                        if err == P.ERR_NOT_LEADER_FOR_PARTITION:
                            moved.append((topic, pid))
                            continue
                        if err != P.ERR_NONE:
                            raise OSError(f"fetch {topic}/{pid}: error {err}")
                        budget = self._take_records(
                            out, topic, pid, mset or b"", budget
                        )
            if not moved:
                break
            if attempt == 1:
                raise OSError(f"fetch failed after leader refresh: {moved}")
            self._router.refresh(sorted({t for t, _p in moved}))
            pending = moved
        return out

    def _take_records(
        self, out: list, topic: str, pid: int, mset: bytes,
        budget: int | None,
    ) -> int | None:
        """Append one partition's message set to ``out`` and advance its
        position; returns the remaining record budget.  The set is
        parsed columnar (``decode_message_set_columns``, the Spark
        source's path).  A record is kept when its offset is past both
        the position and every record kept before it — the rule a
        record-at-a-time walk applies when it drops duplicates below
        its advancing position (a gzip wrapper fetched from mid-set
        re-delivers its earlier inner records)."""
        import numpy as np
        import pyarrow as pa

        offs, tss, keys, vals = P.decode_message_set_columns(mset)
        if not len(offs):
            return budget
        floor = np.empty(len(offs), np.int64)
        floor[0] = self._positions[(topic, pid)] - 1
        np.maximum.accumulate(offs[:-1], out=floor[1:])
        np.maximum(floor, floor[0], out=floor)
        keep = np.flatnonzero(offs > floor)
        if budget is not None:
            keep = keep[:max(budget, 0)]
            budget -= len(keep)
        if not len(keep):
            return budget
        if len(keep) < len(offs):
            idx = pa.array(keep)
            keys, vals = keys.take(idx), vals.take(idx)
            offs, tss = offs[keep], tss[keep]
        out.extend(
            map(
                ConsumerRecord,
                itertools.repeat(topic), itertools.repeat(pid),
                offs.tolist(), tss.tolist(),
                keys.to_pylist(), vals.to_pylist(),
            )
        )
        self._positions[(topic, pid)] = int(offs[-1]) + 1
        return budget

    def close(self) -> None:
        self._router.close()

    def __enter__(self) -> "MiniConsumer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def parse_assign(raw: str) -> dict[str, list[int]]:
    """Parse and shape-validate the JVM source's ``assign`` option
    ('{"topicA":[0,1]}') — shared by every consumer path (the wire
    source's planner and ``consumer_from_options``) so malformed input
    fails the same way everywhere instead of diverging per caller."""
    import json as _json

    parsed = _json.loads(raw)
    if not isinstance(parsed, dict) or not parsed:
        raise ValueError(
            'assign must be a non-empty JSON object {"topic": '
            "[partition, ...]}"
        )
    out: dict[str, list[int]] = {}
    for t, ps in parsed.items():
        if not isinstance(ps, (list, tuple)):
            raise ValueError(
                f"assign[{t!r}] must be a list of partition ids"
            )
        out[str(t)] = sorted(int(p) for p in ps)
    return out


def consumer_from_options(options: dict[str, str]) -> MiniConsumer:
    """Build a consumer from the EXACT dict `kafka_source_options`
    produces for ``spark.readStream.format("kafka")`` — the S1 closure:
    the same keys Spark's Kafka source would consume configure a live
    consumer here (unknown ``kafka.*`` passthrough keys are accepted and
    ignored, as the real source does for client configs).  A
    ``kafka.group.id`` key (the JVM source's group override; the
    reference CLI's --consumer-group) selects the GROUP-MANAGED
    consumer — coordinator join, leader-assigned partitions, fenced
    commits — instead of the manual whole-topic assignment.  An
    ``assign`` key (the JVM source's explicit-partition form) restricts
    the manual consumer to the listed partitions; combining it with a
    group id is rejected, as in the real client (group management and
    manual assignment are mutually exclusive)."""
    brokers = options["kafka.bootstrap.servers"]
    subscribe = options.get("subscribe")
    assign_raw = options.get("assign")
    if subscribe and assign_raw:
        raise ValueError("subscribe and assign are mutually exclusive")
    partitions: dict[str, list[int]] | None = None
    if assign_raw:
        partitions = parse_assign(assign_raw)
        topics = sorted(partitions)
    else:
        if not subscribe:
            raise ValueError("subscribe or assign is required")
        topics = subscribe.split(",")
    ts = options.get("startingTimestamp")
    max_offsets = options.get("maxOffsetsPerTrigger")
    group = options.get("kafka.group.id")
    security = auth.ClientSecurity.from_options(options)
    if security.protocol == "PLAINTEXT":
        security = None  # no handshake work on the default path
    if group:
        if partitions is not None:
            raise ValueError(
                "assign cannot be combined with kafka.group.id: group "
                "management owns the assignment"
            )
        return GroupConsumer(
            brokers,
            group,
            topics,
            starting_offsets=options.get("startingOffsets", "latest"),
            starting_timestamp_ms=int(ts) if ts is not None else None,
            max_poll_records=int(max_offsets) if max_offsets is not None else None,
            security=security,
        )
    return MiniConsumer(
        brokers,
        topics,
        starting_offsets=options.get("startingOffsets", "latest"),
        starting_timestamp_ms=int(ts) if ts is not None else None,
        max_poll_records=int(max_offsets) if max_offsets is not None else None,
        security=security,
        partitions=partitions,
    )


# ---------------------------------------------------------------------------
# Spark bridge
# ---------------------------------------------------------------------------

KAFKA_SPOOL_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp"
)


def spool_to_parquet(
    consumer: MiniConsumer,
    spool_dir: str,
    max_polls: int = 1_000_000,
    max_wait_ms: int = 200,
    stop_when_empty: bool = True,
) -> int:
    """Drain the consumer into ``spool_dir``: each non-empty poll becomes
    one parquet file of KAFKA_SPOOL_SCHEMA rows (the Kafka source's
    column shape), so a file stream over the spool sees one file per
    poll — micro-batch boundaries that mirror maxOffsetsPerTrigger
    batching.  Stops after ``max_polls`` or the first empty poll
    (drain-to-quiescence, T8).  Returns records spooled."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(spool_dir, exist_ok=True)
    seq = len([f for f in os.listdir(spool_dir) if f.endswith(".parquet")])
    total = 0
    for _ in range(max_polls):
        recs = consumer.poll(max_wait_ms=max_wait_ms)
        if not recs:
            if stop_when_empty:
                break
            continue
        table = pa.table(
            {
                "key": pa.array([r.key for r in recs], pa.binary()),
                "value": pa.array([r.value for r in recs], pa.binary()),
                "topic": pa.array([r.topic for r in recs], pa.string()),
                "partition": pa.array([r.partition for r in recs], pa.int32()),
                "offset": pa.array([r.offset for r in recs], pa.int64()),
                "timestamp": pa.array(
                    [r.timestamp * 1000 for r in recs], pa.timestamp("us")
                ),
            }
        )
        # write-then-rename so a concurrent file-stream lister never sees
        # a half-written parquet footer
        tmp = os.path.join(spool_dir, f"_spool-{seq:06d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(spool_dir, f"spool-{seq:06d}.parquet"))
        seq += 1
        total += len(recs)
    return total


def read_kafka_spool_stream(spark, spool_dir: str, max_files_per_trigger: int | None = None):
    """File stream over a spool directory, one poll per file — the
    columns are exactly what ``spark.readStream.format("kafka")`` emits,
    so downstream operators are agnostic to which front door fed them."""
    reader = spark.readStream.schema(KAFKA_SPOOL_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(spool_dir)


class GroupConsumer(MiniConsumer):
    """Group-managed consumer (S1's missing third: consumer-group
    rebalancing).  Joins ``group_id`` through the wire coordinator
    (FindCoordinator → JoinGroup → SyncGroup), owns the partitions the
    elected LEADER assigns (client-side round-robin assignor over the
    members' ConsumerProtocolSubscription metadata — assignment is a
    client concern in the Kafka protocol, the broker only brokers the
    agreement), heartbeats between polls, rebalances when membership
    changes (join/leave/session-expiry all surface as
    REBALANCE_IN_PROGRESS / UNKNOWN_MEMBER_ID on the next group call),
    and commits offsets FENCED by (generation, member_id) so a fenced-
    out consumer can never clobber its successor's progress.

    Reference parity: create_default_consumer sets group.id and
    enable.auto.commit=false (common/src/lib.rs:72-94) — commits here
    are explicit too (``commit()``), and positions resume from the
    group's committed offsets on (re)join, falling back to
    ``starting_offsets`` for never-committed partitions.

    Two connections by design: group APIs must flow while a fetch
    long-polls, exactly why the real client separates the coordinator
    channel from the data channel."""

    def __init__(
        self,
        bootstrap: str,
        group_id: str,
        topics: list[str],
        starting_offsets: str = "earliest",
        starting_timestamp_ms: int | None = None,
        session_timeout_ms: int = 6000,
        heartbeat_interval_ms: int = 500,
        max_poll_records: int | None = None,
        client_id: str = "supermusr-group-consumer",
        security=None,
    ) -> None:
        self.group_id = group_id
        self.topics = list(topics)
        self.starting_offsets = starting_offsets
        # startingTimestamp with a group: committed offsets still win
        # (the group's progress is authoritative), the timestamp only
        # positions NEVER-COMMITTED partitions — the JVM source's
        # semantics for group.id + startingTimestamp
        self.starting_timestamp_ms = starting_timestamp_ms
        self.session_timeout_ms = session_timeout_ms
        self.heartbeat_interval_ms = heartbeat_interval_ms
        self.max_poll_records = max_poll_records
        self.member_id = ""
        self.generation = -1
        self.rebalances = 0
        self._positions: dict[tuple[str, int], int] = {}
        # one-shot resume targets for partitions NOT currently owned:
        # seek() buffers them here and _adopt applies each the first
        # time a rebalance hands this member the partition (then the
        # group's committed offsets take over).  Without this, a
        # FetchLoopNexusWriter resumed through a group-consumer factory
        # would silently lose saved offsets for partitions another
        # member happened to own at seek time.
        self._seek_targets: dict[tuple[str, int], int] = {}
        # data channel: leader-routed like the manual consumer's
        self._router = _Router(bootstrap, client_id, security)
        self._client_id = client_id
        self._security = security
        self._coord: _Conn | None = None
        self._find_coordinator()
        self._last_heartbeat = 0.0
        self._join()

    def _find_coordinator(self) -> None:
        """(Re)discover the group's coordinator and connect the
        coordinator channel — also the failover path: when the
        coordinator broker dies, the cluster maps the group to a
        surviving node (group state is cluster-plane, so commits and
        membership carry over)."""
        if self._coord is not None:
            self._coord.close()
            self._coord = None
        cur = self._router.meta_request(
            lambda c: c.request(
                P.API_FIND_COORDINATOR, 0,
                P.encode_find_coordinator_request(self.group_id),
            )
        )
        err, _node, host, port = P.decode_find_coordinator_response(cur)
        if err != P.ERR_NONE:
            raise OSError(f"find_coordinator({self.group_id}): error {err}")
        self._coord = _Conn(f"{host}:{port}", self._client_id, self._security)

    def _coord_request(self, api: int, version: int, body: bytes) -> P.Cursor:
        """Coordinator request with one re-discovery retry on a dead
        connection (the real client's coordinator-failover behavior).
        Safe for every group API: join/sync/heartbeat/commit are
        idempotent under (generation, member) fencing."""
        try:
            return self._coord.request(api, version, body)
        except (OSError, ConnectionError):
            import time as _time

            _time.sleep(0.05)
            self._find_coordinator()
            return self._coord.request(api, version, body)

    # -- group membership ---------------------------------------------------

    def _join(self) -> None:
        sub = P.encode_consumer_subscription(self.topics)
        while True:
            cur = self._coord_request(
                P.API_JOIN_GROUP, 0,
                P.encode_join_group_request(
                    self.group_id, self.session_timeout_ms, self.member_id,
                    "consumer", [("roundrobin", sub)],
                ),
            )
            err, gen, proto, leader, member, members = (
                P.decode_join_group_response(cur)
            )
            if err == P.ERR_UNKNOWN_MEMBER_ID:
                self.member_id = ""  # fenced: rejoin as a new member
                continue
            if err != P.ERR_NONE:
                raise OSError(f"join_group({self.group_id}): error {err}")
            self.member_id = member
            self.generation = gen
            assignments: list[tuple[str, bytes]] = []
            if member == leader:
                assignments = self._lead_assign(members)
            cur = self._coord_request(
                P.API_SYNC_GROUP, 0,
                P.encode_sync_group_request(
                    self.group_id, gen, member, assignments
                ),
            )
            serr, mine = P.decode_sync_group_response(cur)
            if serr == P.ERR_REBALANCE_IN_PROGRESS:
                continue  # membership changed mid-sync: rejoin
            if serr in (P.ERR_UNKNOWN_MEMBER_ID, P.ERR_ILLEGAL_GENERATION):
                self.member_id = ""
                continue
            if serr != P.ERR_NONE:
                raise OSError(f"sync_group({self.group_id}): error {serr}")
            tps, _ud = P.decode_consumer_assignment(mine or b"")
            owned = [(t, p) for t, ps in tps for p in sorted(ps)]
            self._adopt(owned)
            self.rebalances += 1
            self._last_heartbeat = time.monotonic()
            return

    def _lead_assign(self, members: list[tuple[str, bytes]]) -> list[tuple[str, bytes]]:
        """The round-robin assignor: topic-partitions in (topic,
        partition) order dealt to members in member-id order — the stock
        client's RoundRobinAssignor layout."""
        all_topics = sorted(
            {
                t
                for _mid, md in members
                for t in P.decode_consumer_subscription(md or b"")[0]
            }
        )
        counts = self._router.metadata_counts(all_topics)
        tps = [(t, p) for t in all_topics for p in range(counts.get(t, 0))]
        order = [mid for mid, _md in members]
        per: dict[str, list[tuple[str, int]]] = {mid: [] for mid in order}
        for i, tp in enumerate(tps):
            per[order[i % len(order)]].append(tp)

        def pack(tp_list: list[tuple[str, int]]) -> bytes:
            by_t: dict[str, list[int]] = {}
            for t, p in tp_list:
                by_t.setdefault(t, []).append(p)
            return P.encode_consumer_assignment(sorted(by_t.items()))

        return [(mid, pack(per[mid])) for mid in order]

    def _adopt(self, owned: list[tuple[str, int]]) -> None:
        """Position newly-owned partitions: committed group offset when
        one exists, else the configured starting point."""
        self._positions = {}
        if not owned:
            return
        by_t: dict[str, list[int]] = {}
        for t, p in owned:
            by_t.setdefault(t, []).append(p)
        cur = self._coord_request(
            P.API_OFFSET_FETCH, 1,
            P.encode_offset_fetch_request(self.group_id, sorted(by_t.items())),
        )
        uncommitted: list[tuple[str, list[int]]] = []
        for topic, prs in P.decode_offset_fetch_response(cur):
            missing = []
            for pid, off, _md, err in prs:
                if err == P.ERR_NONE and off >= 0:
                    self._positions[(topic, pid)] = off
                else:
                    missing.append(pid)
            if missing:
                uncommitted.append((topic, sorted(missing)))
        if uncommitted:
            if self.starting_timestamp_ms is not None:
                target = self.starting_timestamp_ms
            else:
                target = (
                    P.EARLIEST_TIMESTAMP
                    if self.starting_offsets == "earliest"
                    else P.LATEST_TIMESTAMP
                )
            self._seek_all(uncommitted, target)
        # buffered seek targets win over committed/starting offsets the
        # FIRST time this member owns the partition, then are consumed
        # AND committed (anchoring them in the group the same way
        # seek() anchors owned-partition targets) — later rebalances
        # resume from the group's own progress
        applied = {}
        for tp in list(self._seek_targets):
            if tp in self._positions:
                applied[tp] = self._seek_targets.pop(tp)
                self._positions[tp] = applied[tp]
        if applied:
            try:
                self.commit(only=set(applied))
            except OSError:
                # fenced (another member joined mid-adopt): re-buffer
                # so the NEXT adoption retries instead of losing the
                # resume point forever
                self._seek_targets.update(applied)

    def seek(self, positions: dict[tuple[str, int], int]) -> None:
        """The resume API under group semantics: currently-owned
        partitions reposition immediately AND the new positions commit
        to the group — without that anchor, the next rebalance (member
        churn, session expiry after a GC pause) would wipe _positions
        and fall back to committed/starting offsets, silently
        discarding the seek.  Partitions of subscribed topics owned by
        other members buffer as one-shot targets that ``_adopt``
        applies (and commits) when a rebalance hands them over.  Keys
        for unsubscribed topics or partitions outside the topic's
        live range drop, matching ``MiniConsumer.seek`` — a stale
        saved cursor for a recreated/shrunk topic must not linger and
        mis-position a future partition."""
        try:
            counts = self._router.metadata_counts(self.topics)
        except OSError:
            # broker unreachable right now: keep the non-throwing seek
            # contract (MiniConsumer.seek never raises) and validate by
            # topic membership only
            counts = None
        applied: dict[tuple[str, int], int] = {}
        for tp, off in positions.items():
            t, p = tp
            if counts is not None:
                if t not in counts or p < 0 or p >= counts[t]:
                    continue
            elif t not in self.topics:
                continue
            if tp in self._positions:
                self._positions[tp] = int(off)
                applied[tp] = int(off)
            else:
                self._seek_targets[tp] = int(off)
        if applied and self.generation >= 0:
            try:
                self.commit(only=set(applied))
            except OSError:
                # fenced by a concurrent rebalance: the applied
                # positions are about to be wiped by the rejoin, so
                # re-buffer them — _adopt re-applies and re-commits
                # after the new assignment lands
                self._seek_targets.update(applied)

    def assignment(self) -> list[tuple[str, int]]:
        return sorted(self._positions)

    # -- the poll/heartbeat/commit loop --------------------------------------

    def _maybe_heartbeat(self) -> None:
        if (
            time.monotonic() - self._last_heartbeat
        ) * 1000.0 < self.heartbeat_interval_ms:
            return
        cur = self._coord_request(
            P.API_HEARTBEAT, 0,
            P.encode_heartbeat_request(
                self.group_id, self.generation, self.member_id
            ),
        )
        err = P.decode_heartbeat_response(cur)
        self._last_heartbeat = time.monotonic()
        if err in (
            P.ERR_REBALANCE_IN_PROGRESS,
            P.ERR_ILLEGAL_GENERATION,
            P.ERR_UNKNOWN_MEMBER_ID,
        ):
            if err == P.ERR_UNKNOWN_MEMBER_ID:
                self.member_id = ""
            self._join()
        elif err != P.ERR_NONE:
            raise OSError(f"heartbeat({self.group_id}): error {err}")

    def poll(self, max_wait_ms: int = 500, **kw) -> list[ConsumerRecord]:
        self._maybe_heartbeat()
        if not self._positions:
            time.sleep(min(max_wait_ms, self.heartbeat_interval_ms) / 1000.0)
            return []
        return super().poll(max_wait_ms=max_wait_ms, **kw)

    def commit(self, only: set[tuple[str, int]] | None = None) -> None:
        """Commit current positions, fenced by (generation, member).
        ``only`` restricts the commit to the given partitions — the
        seek/adopt anchor uses it so repositioning one partition never
        publishes OTHER partitions' uncommitted poll progress to the
        group (that would break at-least-once for records this
        explicit-commit consumer has polled but not yet processed)."""
        items = [
            (tp, off)
            for tp, off in sorted(self._positions.items())
            if only is None or tp in only
        ]
        if not items:
            return
        by_t: dict[str, list[tuple[int, int, str | None]]] = {}
        for (t, p), off in items:
            by_t.setdefault(t, []).append((p, off, None))
        cur = self._coord_request(
            P.API_OFFSET_COMMIT, 2,
            P.encode_offset_commit_request(
                self.group_id, self.generation, self.member_id,
                sorted(by_t.items()),
            ),
        )
        for _topic, prs in P.decode_offset_commit_response(cur):
            for _pid, err in prs:
                if err != P.ERR_NONE:
                    raise OSError(f"offset_commit fenced: error {err}")

    def close(self, leave: bool = True) -> None:
        if leave and self.member_id:
            try:
                self._coord.request(
                    P.API_LEAVE_GROUP, 0,
                    P.encode_leave_group_request(self.group_id, self.member_id),
                )
            except OSError:
                pass
        self._coord.close()
        self._router.close()
