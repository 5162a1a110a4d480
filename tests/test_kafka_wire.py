"""S1/S2 over the real wire: the minimal in-process Kafka broker/client
pair (kafka/protocol.py, broker.py, client.py — from the public protocol
spec) exercised over actual TCP sockets: framing, CRC integrity, gzip
message sets, murmur2 partitioning, time-based offset lookup (the O3
bisect as a wire call), backpressure bounds, and the option-dict bridge
from `kafka_source_options` to a live consumer."""

import threading
import time

import pytest

from supermusr_data_pipeline_spark.kafka import (
    MiniBroker,
    MiniConsumer,
    MiniProducer,
    consumer_from_options,
)
from supermusr_data_pipeline_spark.kafka import protocol as P
from supermusr_data_pipeline_spark.streaming.envelope_stream import kafka_source_options


def _drain(consumer, max_wait_ms=100):
    out = []
    while True:
        batch = consumer.poll(max_wait_ms=max_wait_ms)
        if not batch:
            return out
        out.extend(batch)


# ---------------------------------------------------------------------------
# pure protocol
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("compression", ["none", "gzip"])
def test_message_set_roundtrip(compression):
    recs = [(1000, b"k1", b"v1"), (2000, None, b"v2"), (3000, b"k3", None)]
    buf = P.encode_message_set(recs, base_offset=7, compression=compression)
    got = P.decode_message_set(buf)
    assert [(r.timestamp, r.key, r.value) for r in got] == recs
    assert [r.offset for r in got] == [7, 8, 9]


def test_crc_detects_corruption():
    buf = bytearray(P.encode_message_set([(1000, b"k", b"payload")]))
    buf[-1] ^= 0xFF  # flip a value byte; CRC covers it
    with pytest.raises(ValueError, match="CRC"):
        P.decode_message_set(bytes(buf))


def test_partial_trailing_message_dropped():
    buf = P.encode_message_set([(1, b"a", b"x" * 10), (2, b"b", b"y" * 10)])
    # protocol-legal truncation: fetch max_bytes may cut the last entry
    got = P.decode_message_set(buf[: len(buf) - 5])
    assert [r.key for r in got] == [b"a"]


def test_murmur2_partitioning_properties():
    h = P.murmur2(b"digitizer-3")
    assert h == P.murmur2(b"digitizer-3")  # deterministic
    assert 0 <= h <= 0xFFFFFFFF
    parts = {P.default_partition(f"d{i}".encode(), 8) for i in range(64)}
    assert len(parts) > 1  # spreads
    assert all(0 <= p < 8 for p in parts)
    assert P.default_partition(None, 8, fallback=13) == 13 % 8


# ---------------------------------------------------------------------------
# broker + client over TCP
# ---------------------------------------------------------------------------


def test_produce_fetch_roundtrip_per_partition_order():
    with MiniBroker() as b, MiniProducer(b.bootstrap) as prod:
        for i in range(5):
            prod.send("t1", f"v{i}".encode(), key=b"same-key", timestamp_ms=1000 + i)
        prod.flush()
        with MiniConsumer(b.bootstrap, ["t1"], starting_offsets="earliest") as cons:
            recs = _drain(cons)
    assert [r.value for r in recs] == [f"v{i}".encode() for i in range(5)]
    assert [r.offset for r in recs] == list(range(5))
    assert [r.timestamp for r in recs] == [1000 + i for i in range(5)]


def test_keyed_messages_stick_to_murmur2_partition():
    with MiniBroker() as b:
        b.create_topic("t4", partitions=4)
        with MiniProducer(b.bootstrap) as prod:
            for i in range(20):
                for _rep in range(3):
                    prod.send("t4", f"m{i}".encode(), key=f"dig-{i}".encode())
            prod.flush()
        sizes = b.topic_sizes()["t4"]
    assert sum(sizes) == 60
    assert sum(1 for s in sizes if s > 0) > 1  # spread across partitions
    # every key's 3 copies landed together: per-partition totals are all
    # multiples of 3 (a key never splits across partitions)
    assert all(s % 3 == 0 for s in sizes)


def test_gzip_produce_served_uncompressed():
    payload = b"x" * 4096  # compressible
    with MiniBroker() as b:
        with MiniProducer(b.bootstrap, compression="gzip") as prod:
            for i in range(10):
                prod.send("tz", payload + bytes([i]), key=b"k", timestamp_ms=i)
            prod.flush()
        with MiniConsumer(b.bootstrap, ["tz"], starting_offsets="earliest") as cons:
            recs = _drain(cons)
    assert [r.value[-1] for r in recs] == list(range(10))
    assert all(r.value[:-1] == payload for r in recs)
    assert [r.timestamp for r in recs] == list(range(10))


def test_starting_timestamp_seeks_by_time():
    """The O3 time→offset search as a single ListOffsets wire call
    (replaces trace-viewer binary_by_timestamp.rs:20-72)."""
    with MiniBroker() as b:
        with MiniProducer(b.bootstrap) as prod:
            for i, ts in enumerate([1000, 2000, 3000]):
                prod.send("tt", f"v{i}".encode(), timestamp_ms=ts)
            prod.flush()
        with MiniConsumer(b.bootstrap, ["tt"], starting_timestamp_ms=2000) as c:
            assert [r.value for r in _drain(c)] == [b"v1", b"v2"]
        with MiniConsumer(b.bootstrap, ["tt"], starting_timestamp_ms=2500) as c:
            assert [r.value for r in _drain(c)] == [b"v2"]
        # past the log end: start at the end (nothing at/after target yet)
        with MiniConsumer(b.bootstrap, ["tt"], starting_timestamp_ms=9999) as c:
            assert _drain(c) == []


def test_source_options_dict_drives_live_consumer():
    """S1 closure: the EXACT dict kafka_source_options builds for
    spark.readStream.format('kafka') configures a live consumer, and
    maxOffsetsPerTrigger bounds each poll (backpressure analog)."""
    with MiniBroker() as b:
        with MiniProducer(b.bootstrap) as prod:
            for i in range(25):
                prod.send("daq-traces", f"v{i}".encode(), timestamp_ms=i)
            prod.flush()
        opts = kafka_source_options(
            b.bootstrap, ["daq-traces"], max_offsets_per_trigger=10,
            starting_offsets="earliest",
        )
        with consumer_from_options(opts) as cons:
            sizes = []
            while True:
                batch = cons.poll(max_wait_ms=100)
                if not batch:
                    break
                sizes.append(len(batch))
    assert sizes == [10, 10, 5]  # trigger bound honored, remainder drains


def test_starting_timestamp_option_path():
    with MiniBroker() as b:
        with MiniProducer(b.bootstrap) as prod:
            for i, ts in enumerate([100, 200, 300]):
                prod.send("daq-traces", f"v{i}".encode(), timestamp_ms=ts)
            prod.flush()
        opts = kafka_source_options(
            b.bootstrap, ["daq-traces"], starting_timestamp_ms=200
        )
        assert opts["startingTimestamp"] == "200"
        with consumer_from_options(opts) as cons:
            assert [r.value for r in _drain(cons)] == [b"v1", b"v2"]


def test_fetch_out_of_range_and_no_starvation():
    with MiniBroker() as b:
        with MiniProducer(b.bootstrap) as prod:
            prod.send("tb", b"z" * 1000, timestamp_ms=1)
            prod.send("tb", b"z" * 1000, timestamp_ms=2)
            prod.flush()
        with MiniConsumer(b.bootstrap, ["tb"], starting_offsets="earliest") as cons:
            # no starvation: a max_bytes smaller than one message still
            # yields exactly one message per poll
            one = cons.poll(max_wait_ms=100, max_partition_bytes=10)
            two = cons.poll(max_wait_ms=100, max_partition_bytes=10)
            assert len(one) == 1 and len(two) == 1
            assert one[0].offset == 0 and two[0].offset == 1
            # beyond the log end: broker answers OFFSET_OUT_OF_RANGE
            cons._positions[("tb", 0)] = 99
            with pytest.raises(OSError, match="error 1"):
                cons.poll(max_wait_ms=100)


def test_producer_bounded_buffer_autoflushes():
    """The reference's bounded producer buffer
    (trace-to-events/src/main.rs:81-84): overflow flushes, close drains."""
    with MiniBroker() as b:
        prod = MiniProducer(b.bootstrap, buffer_max=4)
        for i in range(10):
            prod.send("tq", bytes([i]))
        assert prod.acked >= 8  # two autoflushes happened
        prod.close()  # T8 drain
        assert prod.acked == 10
        assert b.topic_sizes()["tq"] == [10]


def test_long_poll_blocks_until_data():
    with MiniBroker() as b:
        with MiniConsumer(b.bootstrap, ["tl"], starting_offsets="earliest") as cons:

            def later():
                time.sleep(0.15)
                with MiniProducer(b.bootstrap) as prod:
                    prod.send("tl", b"late", timestamp_ms=1)

            t = threading.Thread(target=later)
            t0 = time.monotonic()
            t.start()
            recs = cons.poll(max_wait_ms=3000, min_bytes=1)
            waited = time.monotonic() - t0
            t.join()
    assert [r.value for r in recs] == [b"late"]
    assert 0.1 < waited < 2.5  # returned on data, not at the deadline


def test_dump_cli_tails_live_broker(spark, capsys):
    """S8 against the wire: the dump CLI's kafka:// form tails the last n
    messages of a live topic and pretty-prints them."""
    from supermusr_data_pipeline_spark import dump
    from supermusr_data_pipeline_spark.sources import messages as M

    with MiniBroker() as b:
        with MiniProducer(b.bootstrap) as prod:
            for i in range(7):
                buf = M.encode_f144(f"temp-{i}", 1_000_000 + i, float(i))
                prod.send("selog", buf, key=b"s")
        rc = dump.main([f"kafka://{b.bootstrap}/selog", "3"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "(3 messages)" in out
    assert "temp-6" in out and "temp-4" in out and "temp-3" not in out


def test_unsupported_version_rejected_in_band():
    with MiniBroker() as b:
        from supermusr_data_pipeline_spark.kafka.client import _Conn

        conn = _Conn(b.bootstrap, "probe")
        cur = conn.request(P.API_PRODUCE, 9, b"")  # v9 unsupported
        err, _apis = P.decode_api_versions_response(cur)
        conn.close()
    assert err == P.ERR_UNSUPPORTED_VERSION


def test_column_decoder_matches_record_decoder():
    """decode_message_set_columns (the Spark source's batched fetch
    parse) is row-identical to decode_message_set across compression,
    null keys/values, offset bases, concatenated sets, and trailing
    truncation — and rejects the same corruptions."""
    import os
    import random

    random.seed(20260815)
    for _ in range(80):
        n = random.randrange(0, 25)
        recs = [
            (
                random.randrange(0, 2**40),
                None if random.random() < 0.3
                else os.urandom(random.randrange(0, 12)),
                None if random.random() < 0.05
                else os.urandom(random.randrange(0, 300)),
            )
            for _ in range(n)
        ]
        buf = P.encode_message_set(
            recs,
            base_offset=random.randrange(1000),
            compression=random.choice(["none", "gzip"]),
        )
        if random.random() < 0.4 and n:
            extra = [(7, b"k", os.urandom(50))]
            buf += P.encode_message_set(
                extra, base_offset=9000,
                compression=random.choice(["none", "gzip"]),
            )
        if random.random() < 0.3 and len(buf) > 13:
            buf = buf[: random.randrange(1, len(buf))]
        ref = P.decode_message_set(buf)
        offs, tss, keys, vals = P.decode_message_set_columns(buf)
        assert list(offs) == [r.offset for r in ref]
        assert list(tss) == [r.timestamp for r in ref]
        assert keys.to_pylist() == [r.key for r in ref]
        assert vals.to_pylist() == [r.value for r in ref]

    # CRC corruption raises identically
    corrupt = bytearray(P.encode_message_set([(123, b"k", b"hello")]))
    corrupt[20] ^= 0xFF
    for fn in (P.decode_message_set, P.decode_message_set_columns):
        with pytest.raises(ValueError, match="CRC"):
            fn(bytes(corrupt))


def test_auth_option_surface_parity_and_validation():
    """VERDICT r9 #8 (upgraded in r11): the option builder emits the JVM
    Kafka source's SASL names for the reference's mechanism
    (SCRAM-SHA-256 over sasl_plaintext, common/src/lib.rs:62-68) and
    requires the username/password PAIR exactly as the reference CLI
    does (lib.rs:40-49).  The wire source now PARSES the auth surface
    into a ClientSecurity that rides the read plan (kafka/auth.py
    honors it with a real handshake); unsupported mechanisms and
    half-configured auth still fail loudly at plan time."""
    from supermusr_data_pipeline_spark.kafka.auth import ClientSecurity

    opts = kafka_source_options(
        "host:9092", ["traces"], username="svc", password="hunter2"
    )
    assert opts["kafka.security.protocol"] == "SASL_PLAINTEXT"
    assert opts["kafka.sasl.mechanism"] == "SCRAM-SHA-256"
    jaas = opts["kafka.sasl.jaas.config"]
    assert "ScramLoginModule required" in jaas
    assert 'username="svc"' in jaas and 'password="hunter2"' in jaas
    # unauthenticated builder emits NO auth keys at all
    plain = kafka_source_options("host:9092", ["traces"])
    assert not [k for k in plain if "sasl" in k or "security" in k]
    # one-sided credentials are a config error, as in the reference CLI
    with pytest.raises(ValueError, match="together"):
        kafka_source_options("host:9092", ["traces"], username="svc")

    # the full option dict parses into executor-ready security config
    lowered = {k.lower(): v for k, v in opts.items()}
    sec = ClientSecurity.from_options(lowered)
    assert sec.use_sasl and not sec.use_tls
    assert (sec.username, sec.password) == ("svc", "hunter2")
    # TLS builder variant carries the CA and upgrades the protocol
    tls = kafka_source_options(
        "host:9092", ["traces"], username="svc", password="hunter2",
        ssl_ca_location="/etc/ca.pem",
    )
    tsec = ClientSecurity.from_options(tls)
    assert tsec.protocol == "SASL_SSL" and tsec.ca_location == "/etc/ca.pem"
    # unsupported mechanisms stay a loud plan-time error
    with pytest.raises(ValueError, match="GSSAPI"):
        ClientSecurity.from_options({
            "kafka.security.protocol": "SASL_PLAINTEXT",
            "kafka.sasl.mechanism": "GSSAPI",
            "kafka.sasl.jaas.config": jaas,
        })
    # SASL without credentials is a config error, not silent plaintext
    with pytest.raises(ValueError, match="jaas"):
        ClientSecurity.from_options(
            {"kafka.security.protocol": "SASL_SSL"}
        )
    # sasl.* options without a SASL protocol are contradictory
    with pytest.raises(ValueError, match="SASL_PLAINTEXT or SASL_SSL"):
        ClientSecurity.from_options(
            {"kafka.sasl.mechanism": "PLAIN"}
        )
    assert ClientSecurity.from_options({}).protocol == "PLAINTEXT"


def test_binary_column_guards_int32_offset_overflow():
    """Arrow binary offsets are int32: a decompressed set whose
    key/value bytes exceed 2 GiB must fail LOUD, not wrap the cumsum
    into corrupt offsets (ADVICE r10, protocol._binary_column)."""
    import numpy as np
    import pytest

    from supermusr_data_pipeline_spark.kafka.protocol import _binary_column

    u8 = np.zeros(8, dtype=np.uint8)
    starts = np.array([0, 0], dtype=np.int64)
    lens = np.array([2**31 - 100, 200], dtype=np.int64)
    with pytest.raises(ValueError, match="2 GiB"):
        _binary_column(u8, starts, lens)
    # ... and the small path still works, nulls included
    col = _binary_column(
        np.frombuffer(b"abcdef", dtype=np.uint8),
        np.array([0, 2], dtype=np.int64),
        np.array([2, -1], dtype=np.int64),
    )
    assert col.to_pylist() == [b"ab", None]


def test_partition_log_slice_serves_reference_semantics():
    """Property: the pre-encoded log's bisect+slice serve (r11) is
    record-identical to the protocol's reference semantics — from any
    fetch offset, whole entries in order, at least one when available
    (no starvation), never exceeding max_bytes except for a lone
    oversized entry."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from supermusr_data_pipeline_spark.kafka.broker import _PartitionLog
    from supermusr_data_pipeline_spark.kafka import protocol as P

    rec = st.tuples(
        st.integers(min_value=0, max_value=2**40),       # timestamp_ms
        st.one_of(st.none(), st.binary(max_size=64)),    # key
        st.one_of(st.none(), st.binary(max_size=600)),   # value
    )

    @settings(max_examples=40, deadline=None)
    @given(
        recs=st.lists(rec, min_size=1, max_size=30),
        chunks=st.integers(min_value=1, max_value=5),
        gzip_on=st.booleans(),
        data=st.data(),
    )
    def prop(recs, chunks, gzip_on, data):
        log = _PartitionLog()
        per = -(-len(recs) // chunks)
        for i in range(0, len(recs), per):
            mset = P.encode_message_set(
                recs[i : i + per],
                compression="gzip" if gzip_on else "none",
            )
            base, err = log.append_set(mset)
            assert err == P.ERR_NONE and base == i
        off = data.draw(st.integers(min_value=0, max_value=len(recs)))
        max_bytes = data.draw(st.integers(min_value=1, max_value=4096))
        served, hw, err = log.read(off, max_bytes)
        assert err == P.ERR_NONE and hw == len(recs)
        out = P.decode_message_set(served)
        if off < len(recs):
            assert out, "no-starvation: at least one entry when available"
        # in-order, contiguous, matching the produced records
        for j, r in enumerate(out):
            assert r.offset == off + j
            ts, k, v = recs[off + j]
            assert (r.timestamp, r.key, r.value) == (ts, k, v)
        if len(out) > 1:
            assert len(served) <= max_bytes, "multi-entry serve over budget"

    prop()


def test_gather_write_framing_survives_partial_sends():
    """A fetch response far larger than the socket buffer exercises the
    gather-write resume loop (_send_buffers' memoryview restart after a
    partial sendmsg) — the framed response must arrive byte-exact."""
    with MiniBroker() as broker:
        broker.create_topic("big", partitions=1)
        blob = bytes(range(256)) * 512  # 128 KiB per record
        with MiniProducer(broker.bootstrap, buffer_max=16) as prod:
            for i in range(200):  # ~26 MB total
                prod.send("big", blob, key=str(i).encode(), timestamp_ms=i)
        from supermusr_data_pipeline_spark.kafka.client import _Conn

        conn = _Conn(broker.bootstrap, "big-reader")
        cur = conn.request(
            P.API_FETCH, 2,
            P.encode_fetch_request(500, 1, [("big", [(0, 0, 1 << 26)])]),
        )
        _th, topics = P.decode_fetch_response(cur)
        [(_t, [(pid, err, hw, mset)])] = topics
        assert (pid, err, hw) == (0, P.ERR_NONE, 200)
        recs = P.decode_message_set(mset)
        assert len(recs) == 200
        assert all(r.value == blob and r.timestamp == i for i, r in enumerate(recs))
        conn.close()


def test_fetch_response_parts_bytes_identical_to_joined_form():
    """The gather-write encoder and the joined encoder must stay
    byte-identical — the parts form is the broker's live path, the
    joined form the documented reference spelling."""
    topics = [
        ("alpha", [(0, P.ERR_NONE, 7, b"\x01" * 37), (1, 3, -1, b"")]),
        ("b", [(2, P.ERR_NONE, 99, bytes(range(256)) * 5)]),
    ]
    joined = P.encode_response(1234, P.encode_fetch_response(topics))
    parts = P.encode_fetch_response_parts(topics, 1234)
    assert b"".join(parts) == joined


def test_message_set_prefix_len_clamps_to_range():
    """message_set_prefix_len keeps every record below the range end,
    includes the straddling boundary entry, and drops the rest."""
    mset = P.encode_message_set(
        [(1000 + i, b"k", bytes([i])) for i in range(10)], base_offset=5
    )
    # offsets 5..14; end=9 -> prefix holds 5..9 (entry 9 included)
    plen = P.message_set_prefix_len(mset, 9)
    offs, _ts, _k, vals = P.decode_message_set_columns(mset[:plen])
    assert list(offs) == [5, 6, 7, 8, 9]
    # end beyond the set: whole buffer
    assert P.message_set_prefix_len(mset, 100) == len(mset)
    # end at/below the first offset: exactly one entry (the straddler)
    one = P.message_set_prefix_len(mset, 5)
    offs1, _t, _k2, _v = P.decode_message_set_columns(mset[:one])
    assert list(offs1) == [5]
    # empty set
    assert P.message_set_prefix_len(b"", 3) == 0


def test_send_buffers_chunks_past_iov_max():
    """A response of more than IOV_MAX buffers must be written whole —
    one sendmsg call would raise EMSGSIZE at 1025 iovecs."""
    import socket as sk
    import threading

    from supermusr_data_pipeline_spark.kafka import broker as B

    parts = [bytes([i % 251]) * (1 + i % 7) for i in range(3000)]
    want = b"".join(parts)
    srv, cli = sk.socketpair()
    got = bytearray()

    def reader():
        while len(got) < len(want):
            chunk = cli.recv(65536)
            if not chunk:
                break
            got.extend(chunk)

    th = threading.Thread(target=reader)
    th.start()
    B._send_buffers(srv, parts)
    th.join(timeout=10)
    srv.close(); cli.close()
    assert bytes(got) == want


def test_consumer_assign_restricts_partitions():
    """The assign form end-to-end through consumer_from_options: a
    consumer built from assign options polls ONLY the listed
    partitions; assign+subscribe and assign+group are rejected."""
    from supermusr_data_pipeline_spark.kafka import consumer_from_options

    with MiniBroker() as broker:
        broker.create_topic("t", partitions=4)
        with MiniProducer(broker.bootstrap) as prod:
            for i in range(40):
                prod.send("t", f"v{i}".encode(), partition=i % 4)

        opts = kafka_source_options(
            broker.bootstrap, [], starting_offsets="earliest",
            assign={"t": [1, 3]},
        )
        c = consumer_from_options(opts)
        got = []
        deadline = time.time() + 10
        while len(got) < 20 and time.time() < deadline:
            got.extend(c.poll(max_wait_ms=100))
        assert len(got) == 20
        assert {r.partition for r in got} == {1, 3}
        assert c.poll(max_wait_ms=100) == []
        c.close()

        with pytest.raises(ValueError, match="mutually exclusive"):
            consumer_from_options({**opts, "subscribe": "t"})
        with pytest.raises(ValueError, match="group management"):
            consumer_from_options({**opts, "kafka.group.id": "g"})
        with pytest.raises(ValueError, match="outside topic range"):
            consumer_from_options(
                kafka_source_options(
                    broker.bootstrap, [], starting_offsets="earliest",
                    assign={"t": [9]},
                )
            )


def test_assign_malformed_shapes_rejected():
    """parse_assign is shared by the wire source and the live-consumer
    factory: malformed shapes fail with the same ValueError in both,
    instead of AttributeError (list) or a silent no-partition consumer
    (empty object)."""
    from supermusr_data_pipeline_spark.kafka import consumer_from_options

    with MiniBroker() as broker:
        broker.create_topic("t", partitions=2)
        base = {"kafka.bootstrap.servers": broker.bootstrap}
        for bad in ("[0,1]", "{}", '{"t": 3}'):
            with pytest.raises(ValueError, match="assign"):
                consumer_from_options({**base, "assign": bad})


class _CannedRouter:
    """One leader whose fetch response carries fixed message sets."""

    def __init__(self, msets):
        self.msets = msets  # (topic, pid) -> message-set bytes

    def group_by_leader(self, tps):
        return {"leader:0": list(tps)}

    def conn(self, _addr):
        return self

    def request(self, api_key, _version, body):
        assert api_key == P.API_FETCH
        _rid, _wait, _min, topics = P.decode_fetch_request(P.Cursor(body))
        return P.Cursor(P.encode_fetch_response([
            (t, [(p, P.ERR_NONE, 0, self.msets.get((t, p), b""))
                 for p, _off, _max in parts])
            for t, parts in topics
        ]))


def _canned_consumer(msets, positions, max_poll_records):
    c = MiniConsumer.__new__(MiniConsumer)
    c._router = _CannedRouter(msets)
    c._positions = dict(positions)
    c.max_poll_records = max_poll_records
    return c


def _record_walk(msets, positions, budget):
    """The record-at-a-time consumer rule over decode_message_set: drop
    records below the advancing position, stop at the budget."""
    pos, out = dict(positions), []
    for tp in sorted(pos):
        for r in P.decode_message_set(msets.get(tp, b"")):
            if r.offset < pos[tp]:
                continue
            if budget is not None and budget <= 0:
                break
            out.append((*tp, r.offset, r.timestamp, r.key, r.value))
            pos[tp] = r.offset + 1
            if budget is not None:
                budget -= 1
    return out, pos


def test_consumer_poll_parse_matches_record_decoder():
    """MiniConsumer.poll parses fetches column-wise; it must return the
    records (topic, partition, offset, timestamp, key, value) and the
    positions of a record-at-a-time walk over decode_message_set, for
    plain, gzip-wrapped and truncated sets, null keys, records below
    the position, and every max_poll_records budget."""
    import os
    import random

    random.seed(20261017)

    def recs(n):
        return [
            (
                random.randrange(0, 2**40),
                None if random.random() < 0.4
                else os.urandom(random.randrange(0, 8)),
                None if random.random() < 0.05
                else os.urandom(random.randrange(1, 200)),
            )
            for _ in range(n)
        ]

    seen = {"null_key": False, "dropped": False, "capped": False}
    for case in range(40):
        plain = P.encode_message_set(recs(6), base_offset=100)
        # a wrapper fetched from mid-set re-delivers its earlier records
        wrapped = P.encode_message_set(
            recs(5), base_offset=40, compression="gzip"
        ) + P.encode_message_set(recs(3), base_offset=45)
        mixed = P.encode_message_set(recs(4), base_offset=7) + (
            P.encode_message_set(recs(4), base_offset=11, compression="gzip")
        )
        mixed = mixed[: random.randrange(len(mixed) - 30, len(mixed))]
        msets = {("a", 0): plain, ("a", 1): wrapped, ("b", 0): mixed}
        positions = {
            ("a", 0): random.choice([0, 100, 103, 106]),
            ("a", 1): random.choice([40, 42, 45, 47]),
            ("b", 0): random.choice([0, 9, 12]),
            ("b", 1): 5,  # nothing fetched
        }
        for budget in (None, 0, 1, 4, 9, 50):
            want, want_pos = _record_walk(msets, positions, budget)
            c = _canned_consumer(msets, positions, budget)
            got = [
                (r.topic, r.partition, r.offset, r.timestamp, r.key, r.value)
                for r in c.poll(max_wait_ms=0)
            ]
            assert got == want, (case, budget)
            assert c.positions() == want_pos, (case, budget)
            if budget is None:
                seen["null_key"] |= any(r[4] is None for r in got)
                seen["dropped"] |= len(got) < sum(
                    len(P.decode_message_set(m)) for m in msets.values()
                )
                seen["capped"] |= len(got) > 9
    # the cases exercised every rule above
    assert all(seen.values()), seen
