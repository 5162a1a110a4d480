"""The fetch-loop door (streaming/nexus_fetchloop.py) must produce the
SAME sink rows as the batch builder for the same dev2 tape — the oracle
the FSM door is pinned to in test_nexus_stream_batch_parity — while
committing without a micro-batch: poll + decode + Arrow append in one
loop thread.  Crash recovery (write-once commit records + held-back offset
cursor) is driven crash-at-every-step."""

import json
import os
import time
from datetime import datetime, timezone

import pytest

from supermusr_data_pipeline_spark.kafka import MiniBroker, MiniProducer
from supermusr_data_pipeline_spark.sources import messages as M
from supermusr_data_pipeline_spark.streaming.nexus_fetchloop import (
    FetchLoopNexusWriter,
)


# slow set (pytest.ini deselects by default; opt in with -m slow):
# multi-minute soak / streaming end-to-end / large-SF coverage whose
# operators' value-correctness stays pinned by the default sf0.001
# parity + plan audits
pytestmark = pytest.mark.slow

T0_US = int(
    datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc).timestamp() * 1_000_000
)
N_DIG = 4


def _payload(did, frame, n_events, veto=0, ev_offset=0):
    md = {
        "ts_ns": (T0_US + frame * 20_000) * 1000,
        "period_number": frame // 1000,
        "protons_per_pulse": 4,
        "running": True,
        "frame_number": frame,
        "veto_flags": veto,
    }
    return M.encode_dev2(
        did, md,
        [int(100 * frame + 10 * (ev_offset + e)) for e in range(n_events)],
        [int(ev_offset + e) for e in range(n_events)],
        [int((ev_offset + e) % 8) for e in range(n_events)],
    )


def _runs(name="run_a", from_us=None, until_us=None):
    return [
        {
            "run_name": name,
            "from_us": from_us or (T0_US - 1_000_000),
            "until_us": until_us,
        }
    ]


def _writer(broker, path, **kw):
    defaults = dict(
        runs=_runs(),
        path=str(path),
        expected_digitizers=list(range(N_DIG)),
        bootstrap=broker.bootstrap,
        topics=["daq-events"],
        frame_ttl_ms=200,
        poll_ms=10,
    )
    defaults.update(kw)
    return FetchLoopNexusWriter(**defaults)


def _sink_rows(spark, path):
    df = spark.read.parquet(str(path))
    cols = sorted(c for c in df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect()), cols


def _produce(broker, payloads):
    with MiniProducer(broker.bootstrap, buffer_max=64) as prod:
        for p in payloads:
            prod.send("daq-events", p, key=b"d")


def _await(predicate, timeout_s=10.0):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if predicate():
            return True
        time.sleep(0.02)
    return predicate()


def test_fetchloop_rows_equal_batch_builder(spark, tmp_path):
    """Same complete-frame tape through the fetch loop and the batch
    builder (the decoded messages' events assembled by
    operators/frame_assembly, matched by the J1 join, decorated by
    build_nexus_events) -> identical sink rows."""
    from pyspark.sql import functions as F

    from supermusr_data_pipeline_spark.operators.frame_assembly import (
        assemble_frames_long,
    )
    from supermusr_data_pipeline_spark.operators.nexus_sink import (
        build_nexus_events,
    )
    from supermusr_data_pipeline_spark.operators.run_matching import (
        match_events_to_runs,
    )
    from supermusr_data_pipeline_spark.sources.decode import (
        decode_dev2_messages,
    )

    payloads = [
        _payload(d, f, n_events=3 + d, veto=1 << d)
        for f in range(6)
        for d in range(N_DIG)
    ]
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=2)
        _produce(broker, payloads)
        w = _writer(broker, tmp_path / "loop")
        w.start()
        assert _await(
            lambda: w._totals.get("run_a", (0, 0))[0] == 6, timeout_s=15
        )
        w.stop()

    runs_df = spark.createDataFrame(
        [("run_a", T0_US - 1_000_000, None)],
        "run_name string, from_us long, until_us long",
    ).select(
        "run_name",
        F.timestamp_micros("from_us").alias("collect_from"),
        F.timestamp_micros(F.col("until_us")).alias("collect_until"),
    )
    msgs = decode_dev2_messages(
        spark.createDataFrame([(p,) for p in payloads], "value binary")
    )
    events = msgs.withColumn(
        "_e", F.explode(F.arrays_zip("channel", "event_time", "event_voltage"))
    ).select(
        "digitizer_id", "ts", "period_number", "protons_per_pulse",
        "running", "frame_number", "veto_flags",
        F.col("_e.channel").alias("channel"),
        F.col("_e.event_time").alias("event_time"),
        F.col("_e.event_voltage").alias("event_voltage"),
    )
    batch_out = build_nexus_events(
        match_events_to_runs(
            assemble_frames_long(events, list(range(N_DIG))), runs_df
        )
    )

    got, cols_a = _sink_rows(spark, tmp_path / "loop")
    cols_b = sorted(batch_out.columns)
    want = sorted(
        tuple(repr(r[c]) for c in cols_b) for r in batch_out.collect()
    )
    assert cols_a == cols_b
    assert got == want
    assert len(got) == sum(6 * (3 + d) for d in range(N_DIG))


def test_fetchloop_ttl_dispatches_incomplete_and_tombstones(spark, tmp_path):
    """A frame missing a digitiser dispatches on TTL (incomplete); a
    straggler after dispatch is rejected by the tombstone."""
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        _produce(
            broker,
            [_payload(d, 0, n_events=2) for d in range(N_DIG - 1)],
        )
        w = _writer(broker, tmp_path / "s", tombstone_ttl_ms=60_000)
        w.start()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 1)
        # straggler for the dispatched frame: must NOT re-open it
        _produce(broker, [_payload(N_DIG - 1, 0, n_events=2)])
        time.sleep(0.5)
        w.stop()
    df = spark.read.parquet(str(tmp_path / "s"))
    rows = df.collect()
    assert {r.frame_number for r in rows} == {0}
    assert all(r.frame_complete is False for r in rows)
    assert df.count() == 2 * (N_DIG - 1)


def test_fetchloop_duplicate_message_rejected(spark, tmp_path):
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        dup = _payload(1, 0, n_events=5, ev_offset=90)
        _produce(
            broker,
            [_payload(d, 0, n_events=2) for d in range(N_DIG)] + [dup],
        )
        w = _writer(broker, tmp_path / "s")
        w.start()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 1)
        w.stop()
    assert spark.read.parquet(str(tmp_path / "s")).count() == 2 * N_DIG


def test_fetchloop_zero_event_frame_writes_null_row(spark, tmp_path):
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        _produce(broker, [_payload(d, 0, n_events=0) for d in range(N_DIG)])
        w = _writer(broker, tmp_path / "s")
        w.start()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 1)
        w.stop()
    rows = spark.read.parquet(str(tmp_path / "s")).collect()
    assert len(rows) == 1
    assert rows[0].event_id is None and rows[0].pulse_height is None
    assert rows[0].frame_complete is True


def test_fetchloop_restart_resumes_totals_and_offsets(spark, tmp_path):
    """Stop after some frames, produce more, restart a FRESH writer on
    the same sink: continuation totals and the offset cursor resume —
    no gap, no duplicate (T5)."""
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=2)
        _produce(
            broker,
            [_payload(d, f, n_events=2) for f in range(3) for d in range(N_DIG)],
        )
        w = _writer(broker, tmp_path / "s")
        w.start()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 3)
        w.stop()

        _produce(
            broker,
            [
                _payload(d, f, n_events=2)
                for f in range(3, 6)
                for d in range(N_DIG)
            ],
        )
        w2 = _writer(broker, tmp_path / "s")
        w2.start()
        assert _await(lambda: w2._totals.get("run_a", (0, 0))[0] == 6)
        w2.stop()
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.count() == 6 * N_DIG * 2
    seqs = sorted(r.frame_seq for r in df.select("frame_seq").distinct().collect())
    assert seqs == list(range(6))


class _Boom(RuntimeError):
    pass


def _committed(w):
    """The rename list of the newest commit record on disk (empty when
    no dispatch has reached its commit point)."""
    seqs = w._record_seqs()
    if not seqs:
        return []
    with open(w._record_file(seqs[-1])) as fh:
        return json.load(fh)["renames"]


def _crashing_writer(broker, path, crash_at: str, **kw):
    """A writer whose commit path crashes at a chosen protocol step:
    ``after_parts`` (tmps staged, record never written), ``after_record``
    (record written, nothing published), ``after_publish`` (parts
    published, the previous record not yet unlinked)."""
    w = _writer(broker, path, **kw)
    step = {
        "after_parts": "_save_state",
        "after_record": "_publish_renames",
        "after_publish": "_drop_record",
    }[crash_at]
    orig = getattr(w, step)
    state = {"armed": True}

    def bomb(*args):
        if state["armed"]:
            raise _Boom()
        orig(*args)

    setattr(w, step, bomb)
    return w, state


@pytest.mark.parametrize(
    "crash_at", ["after_parts", "after_record", "after_publish"]
)
def test_fetchloop_crash_recovery_exactly_once(spark, tmp_path, crash_at):
    """Crash at every protocol step: before the commit record (staged
    tmps only — the dispatch never committed, so the records replay and
    the frames re-assemble), after the record (recovery publishes the
    renames), and after the publish (recovery's renames are no-ops) —
    the sink holds every frame exactly once in all three."""
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        _produce(
            broker,
            [_payload(d, f, n_events=2) for f in range(2) for d in range(N_DIG)],
        )
        w, _state = _crashing_writer(broker, tmp_path / "s", crash_at)
        with pytest.raises((_Boom, RuntimeError)):
            for _ in range(200):
                w.poll_once()
        # the commit point is the record write: before it, no record
        # (and nothing visible in the sink); after it, the record and
        # its rename list survive the crash
        if crash_at == "after_parts":
            assert not _committed(w)
            assert not list(
                (tmp_path / "s" / "run_name=run_a").glob("*.parquet")
            )
        else:
            assert _committed(w)
        if w._consumer is not None:
            w._consumer.close()

        # a FRESH writer recovers, then drains the rest of the tape
        w2 = _writer(broker, tmp_path / "s")
        w2.start()
        assert _await(lambda: w2._totals.get("run_a", (0, 0))[0] == 2)
        w2.stop()
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.count() == 2 * N_DIG * 2  # 2 frames x 4 digs x 2 events, once
    assert sorted(
        r.frame_seq for r in df.select("frame_seq").distinct().collect()
    ) == [0, 1]


def test_fetchloop_crash_mid_publish_two_runs(spark, tmp_path):
    """Two overlapping runs -> one dispatch stages two part files; the
    crash hits after the FIRST rename published.  Recovery re-runs the
    rename list idempotently (the published pair is a no-op, the
    surviving tmp publishes now) — each run holds its rows exactly
    once."""
    runs2 = [
        {"run_name": "run_a", "from_us": T0_US - 1_000_000, "until_us": None},
        {"run_name": "run_b", "from_us": T0_US - 1_000_000, "until_us": None},
    ]
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        _produce(broker, [_payload(d, 0, n_events=2) for d in range(N_DIG)])
        w = _writer(broker, tmp_path / "s", runs=runs2)
        orig = w._publish_renames
        state = {"armed": True}

        def bomb(renames):
            if state["armed"]:
                orig(renames[:1])  # first run publishes, then power cut
                raise _Boom()
            orig(renames)

        w._publish_renames = bomb
        with pytest.raises((_Boom, RuntimeError)):
            for _ in range(200):
                w.poll_once()
        assert len(_committed(w)) == 2
        if w._consumer is not None:
            w._consumer.close()

        w2 = _writer(broker, tmp_path / "s", runs=runs2)
        w2.start()
        assert _await(lambda: w2._totals.get("run_b", (0, 0))[0] == 1)
        w2.stop()
        assert w2._totals.get("run_a", (0, 0)) == (1, N_DIG * 2)
        assert w2._totals.get("run_b", (0, 0)) == (1, N_DIG * 2)
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.count() == 2 * N_DIG * 2
    per = {
        r["run_name"]: r["count"]
        for r in df.groupBy("run_name").count().collect()
    }
    assert per == {"run_a": N_DIG * 2, "run_b": N_DIG * 2}


def test_fetchloop_crash_after_record_with_pending_frame(spark, tmp_path):
    """Frame 0 PENDING (holding the persisted cursor back at its floor)
    while frame 1 dispatches, crash after the record write.  Recovery
    adopts the record's held-back offsets and so replays frame 1's
    records — they must be rejected by the re-armed tombstones carried
    in the record, not re-assembled and re-appended (exactly-once)."""
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        w, _state = _crashing_writer(
            broker, tmp_path / "s", "after_record", frame_ttl_ms=60_000
        )
        # frame 0 partially arrives (2 of 4 digitisers) -> stays pending
        _produce(broker, [_payload(d, 0, n_events=2) for d in range(2)])
        w.poll_once()
        assert w._totals.get("run_a", (0, 0))[0] == 0
        # frame 1 arrives fully -> dispatches -> crash after the record
        _produce(broker, [_payload(d, 1, n_events=2) for d in range(N_DIG)])
        with pytest.raises((_Boom, RuntimeError)):
            for _ in range(200):
                w.poll_once()
        assert _committed(w)
        if w._consumer is not None:
            w._consumer.close()

        # recovery: finish the record, replay from frame 0's floor
        # (which re-delivers frame 1's records too), then complete
        # frame 0 from the late digitisers
        _produce(
            broker, [_payload(d, 0, n_events=2) for d in range(2, N_DIG)]
        )
        w2 = _writer(broker, tmp_path / "s", frame_ttl_ms=60_000)
        w2.start()
        assert _await(lambda: w2._totals.get("run_a", (0, 0))[0] == 2)
        time.sleep(0.3)  # any wrongly re-assembled frame would land here
        w2.stop()
        assert w2._totals.get("run_a", (0, 0)) == (2, 2 * N_DIG * 2)
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.count() == 2 * N_DIG * 2  # each frame exactly once
    assert sorted(
        r.frame_seq for r in df.select("frame_seq").distinct().collect()
    ) == [0, 1]
    assert {
        r.frame_number for r in df.select("frame_number").distinct().collect()
    } == {0, 1}


def test_fetchloop_crash_mid_part_write_recovers(spark, tmp_path, monkeypatch):
    """A crash DURING the sink part staging (power cut mid-
    pq.write_table) must leave no truncated .parquet at a final name:
    the write goes to a dot-prefixed tmp (invisible to Spark's listing
    and *.parquet globs).  The staging precedes the record, so the
    dispatch never committed — recovery sweeps the orphaned tmp and the
    replayed records re-assemble the frame."""
    import supermusr_data_pipeline_spark.streaming.nexus_fetchloop as FL

    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        _produce(broker, [_payload(d, 0, n_events=2) for d in range(N_DIG)])
        w = _writer(broker, tmp_path / "s")

        orig = FL.pq.write_table
        state = {"armed": True}

        def bomb(table, where, **kw):
            if state["armed"] and "run_name=" in str(where):
                # simulate a partial write: garbage bytes, then die
                with open(where, "wb") as fh:
                    fh.write(b"PAR1\x00\x00trunc")
                state["armed"] = False
                raise _Boom()
            orig(table, where, **kw)

        monkeypatch.setattr(FL.pq, "write_table", bomb)
        with pytest.raises((_Boom, RuntimeError)):
            for _ in range(200):
                w.poll_once()
        # staging precedes the record: the dispatch never committed
        assert not _committed(w)
        if w._consumer is not None:
            w._consumer.close()
        run_dir = tmp_path / "s" / "run_name=run_a"
        # the garbage landed at a tmp name only — no final-name .parquet
        finals = [
            f for f in os.listdir(run_dir) if f.endswith(".parquet")
        ]
        assert finals == []
        # the in-process error path unlinks its own tmp before
        # re-raising; a HARD crash (kill -9 mid-write) would leave one,
        # so plant an orphan to exercise the recovery sweep too
        orphans = [
            f
            for f in os.listdir(run_dir)
            if f.startswith(".part-fetchloop-") and f.endswith(".tmp")
        ]
        assert orphans == []
        (run_dir / ".part-fetchloop-999-000000-deadbeef.parquet.tmp").write_bytes(
            b"PAR1\x00\x00trunc"
        )

        w2 = _writer(broker, tmp_path / "s")
        w2.start()
        assert _await(lambda: w2._totals.get("run_a", (0, 0))[0] == 1)
        w2.stop()
        # orphan swept, the replayed frame landed exactly once
        assert not any(
            f.endswith(".tmp") for f in os.listdir(run_dir)
        )
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.count() == N_DIG * 2
    assert {r.frame_number for r in df.collect()} == {0}


def test_fetchloop_long_frame_ttl_crash_replays_exactly_once(spark, tmp_path):
    """frame_ttl requested LONGER than tombstone_ttl (the r13 chaos
    soak's own configuration): a long-pending frame holds the persisted
    cursor back past a dispatched frame's requested tombstone expiry, a
    later dispatch persists the pruned tombstone set, and a crash then
    replays the dispatched frame's records.  Without the constructor's
    TTL-coupling derivation the frame re-assembles and its rows append
    twice; with it, the tombstone outlives every replayable record."""
    t = [1_000_000.0]  # fake epoch seconds — drives frame/tombstone TTLs

    def mk(path):
        return _writer(
            broker, path, frame_ttl_ms=5000, tombstone_ttl_ms=100,
            clock=lambda: t[0],
        )

    def drain(w, want_seq, polls=80):
        for _ in range(polls):
            w.poll_once()
            if w._totals.get("run_a", (0, 0))[0] >= want_seq:
                return
        raise AssertionError(
            f"never reached frame_seq {want_seq}: {w._totals}"
        )

    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        # F0 complete (dispatches on sight) + F1 partial (pends for the
        # full 5 s frame TTL, holding the cursor at this poll's floor)
        _produce(
            broker,
            [_payload(d, 0, n_events=2) for d in range(N_DIG)]
            + [_payload(d, 1, n_events=2) for d in range(N_DIG - 1)],
        )
        w = mk(tmp_path / "s")
        # the guard under test: tombstone TTL derived past the frame TTL
        assert w.tombstone_ttl_ms > w.frame_ttl_ms
        drain(w, 1)
        assert len(w._pending) == 1  # F1 pending, cursor held back

        # advance past the REQUESTED 100 ms tombstone TTL (old code
        # prunes F0's tombstone here) but inside the frame TTL, then a
        # second dispatch persists state after the prune would have run
        t[0] += 0.5
        _produce(broker, [_payload(d, 2, n_events=2) for d in range(N_DIG)])
        drain(w, 2)
        assert len(w._pending) == 1  # F1 STILL pending

        # crash (no stop/flush) and resume: the held-back cursor replays
        # F0/F1/F2's records — F0 and F2 must reject via re-armed
        # tombstones, F1 re-pends and TTL-dispatches once
        if w._consumer is not None:
            w._consumer.close()
        w2 = mk(tmp_path / "s")
        for _ in range(30):
            w2.poll_once()
        t[0] += 6.0  # expire F1's (replayed) frame TTL
        drain(w2, 3)
        if w2._consumer is not None:
            w2._consumer.close()

    df = spark.read.parquet(str(tmp_path / "s"))
    per_frame = {
        r["frame_number"]: r["n"]
        for r in df.groupBy("frame_number").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert per_frame == {
        0: 2 * N_DIG, 1: 2 * (N_DIG - 1), 2: 2 * N_DIG
    }


def test_fetchloop_saved_offsets_for_unsubscribed_topic_dropped(
    spark, tmp_path
):
    """A writer resumed with a DIFFERENT topic list must not inject the
    old topic's saved offsets into the consumer (they would error every
    poll): MiniConsumer.seek drops keys outside the current
    assignment — the consumer_factory contract."""
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        broker.create_topic("daq-events-b", partitions=1)
        _produce(broker, [_payload(d, 0, n_events=2) for d in range(N_DIG)])
        w = _writer(broker, tmp_path / "s")
        w.start()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 1)
        w.stop()

        # resume the same state dir subscribed to the OTHER topic
        w2 = _writer(broker, tmp_path / "s", topics=["daq-events-b"])
        with MiniProducer(broker.bootstrap, buffer_max=8) as prod:
            prod.send("daq-events-b", _payload(0, 5, n_events=1), key=b"d")
        w2.start()
        assert _await(
            lambda: w2._totals.get("run_a", (0, 0))[0] >= 2, timeout_s=15
        )
        w2.stop()
        assert w2.loop_error is None


def test_miniconsumer_seek_ignores_unassigned_partitions(tmp_path):
    from supermusr_data_pipeline_spark.kafka.client import MiniConsumer

    with MiniBroker() as broker:
        broker.create_topic("t-a", partitions=2)
        c = MiniConsumer(broker.bootstrap, ["t-a"])
        before = c.positions()
        c.seek({("t-a", 0): 7, ("ghost-topic", 0): 99, ("t-a", 9): 3})
        after = c.positions()
        c.close()
    assert after[("t-a", 0)] == 7
    assert ("ghost-topic", 0) not in after
    assert ("t-a", 9) not in after
    assert after[("t-a", 1)] == before[("t-a", 1)]


def test_fetchloop_crash_property_exactly_once(spark, tmp_path):
    """Property: over random tapes (incomplete frames, byte-identical
    duplicate messages, random poll chunking) and a crash at a RANDOM
    protocol step (before the record / before the publish / before the
    older record's unlink) at a random dispatch, the recovered sink is
    row-identical to a no-crash run fed the same chunks.  Duplicates
    are byte-identical by construction so winner identity cannot mask a
    protocol divergence; frame TTL is set high so completeness is a
    function of the tape alone, not crash timing."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from supermusr_data_pipeline_spark.kafka.client import ConsumerRecord

    case_idx = [0]

    @settings(max_examples=8, deadline=None)
    @given(data=st.data())
    def _case(data):
        n_frames = data.draw(st.integers(1, 3), label="n_frames")
        msgs = []
        for f in range(n_frames):
            dids = data.draw(
                st.lists(st.integers(0, N_DIG - 1), min_size=1, max_size=5),
                label=f"dids{f}",  # repeats = byte-identical duplicates
            )
            for d in dids:
                msgs.append(
                    _payload(
                        d, f, n_events=(f + d) % 4, veto=(f ^ d) & 7,
                        ev_offset=3 * d,
                    )
                )
        cuts = data.draw(
            st.lists(st.integers(1, max(1, len(msgs))), max_size=3),
            label="cuts",
        )
        bounds = sorted({0, len(msgs), *cuts})
        pairs = [(a, b) for a, b in zip(bounds, bounds[1:]) if b > a]
        step = data.draw(
            st.sampled_from(["parts", "record", "publish"]), label="step"
        )
        fuse = data.draw(st.integers(1, 2), label="fuse")
        case_idx[0] += 1
        base = tmp_path / f"ccase{case_idx[0]}"
        tape = [
            ConsumerRecord("t", 0, i, 0, b"k", p) for i, p in enumerate(msgs)
        ]

        def mk(sink, clock):
            return FetchLoopNexusWriter(
                runs=_runs(), path=str(base / sink),
                expected_digitizers=list(range(N_DIG)),
                bootstrap="unused:0", topics=["t"],
                frame_ttl_ms=60_000, clock=lambda: clock[0],
            )

        # reference: same chunks, no crash
        now_ref = [1_000_000.0]
        ref = mk("ref", now_ref)
        for a, b in pairs:
            ref.poll_once(records=tape[a:b])
            now_ref[0] += 0.05
        now_ref[0] += 100.0
        ref.poll_once(records=[])

        # crash run: bomb at the drawn step, on the fuse-th dispatch
        now_c = [1_000_000.0]
        w = mk("s", now_c)
        armed = {"step": step, "fuse": fuse}

        def maybe_boom(which):
            if armed["step"] == which:
                armed["fuse"] -= 1
                if armed["fuse"] <= 0:
                    armed["step"] = "spent"
                    raise _Boom()

        orig_save = w._save_state
        orig_pub = w._publish_renames
        orig_drop = w._drop_record

        def sv(*args):
            maybe_boom("parts")
            orig_save(*args)

        def pr(renames):
            maybe_boom("record")
            orig_pub(renames)

        def dr(seq):
            maybe_boom("publish")
            orig_drop(seq)

        w._save_state, w._publish_renames, w._drop_record = sv, pr, dr
        crashed = False
        for a, b in pairs:
            try:
                w.poll_once(records=tape[a:b])
            except _Boom:
                crashed = True
                break
            now_c[0] += 0.05
        if not crashed:
            now_c[0] += 100.0
            try:
                w.poll_once(records=[])
            except _Boom:
                crashed = True

        if crashed:
            # process death: a FRESH writer resumes from disk state and
            # replays from the persisted (held-back) cursor, re-fed with
            # the ORIGINAL chunk boundaries
            w2 = mk("s", now_c)
            w2.poll_once(records=[])  # triggers recovery
            resume = w2._offsets.get("t/0", 0)
            for a, b in pairs:
                if b <= resume:
                    continue
                w2.poll_once(records=tape[max(a, resume):b])
                now_c[0] += 0.05
            now_c[0] += 100.0
            w2.poll_once(records=[])

        got = (
            _sink_rows(spark, base / "s")
            if os.path.isdir(str(base / "s" / "run_name=run_a"))
            else ([], None)
        )
        want = (
            _sink_rows(spark, base / "ref")
            if os.path.isdir(str(base / "ref" / "run_name=run_a"))
            else ([], None)
        )
        assert got == want

    _case()


def test_fetchloop_heldback_cursor_replays_pending(spark, tmp_path):
    """A frame split across polls whose writer dies before the frame
    dispatches: the persisted cursor was held at the frame's first
    offset, so the restart re-fetches and completes it — no lost
    events, and the frames dispatched meanwhile do not duplicate."""
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        w = _writer(broker, tmp_path / "s", frame_ttl_ms=60_000)
        # frame 0 partially arrives (2 of 4 digitisers)
        _produce(broker, [_payload(d, 0, n_events=2) for d in range(2)])
        w.poll_once()
        assert w._totals.get("run_a", (0, 0))[0] == 0  # still pending
        # frame 1 arrives fully and dispatches -> state save happens
        _produce(broker, [_payload(d, 1, n_events=2) for d in range(N_DIG)])
        for _ in range(20):
            w.poll_once()
            if w._totals.get("run_a", (0, 0))[0] == 1:
                break
        assert w._totals.get("run_a", (0, 0))[0] == 1
        if w._consumer is not None:
            w._consumer.close()
        # writer dies here (no stop/drain).  Frame 0's rows were only in
        # memory — the held-back cursor must replay them.
        _produce(
            broker, [_payload(d, 0, n_events=2) for d in range(2, N_DIG)]
        )
        w2 = _writer(broker, tmp_path / "s", frame_ttl_ms=60_000)
        w2.start()
        assert _await(lambda: w2._totals.get("run_a", (0, 0))[0] == 2)
        w2.stop()
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.count() == 2 * N_DIG * 2
    assert {
        r.frame_number for r in df.select("frame_number").distinct().collect()
    } == {0, 1}


def test_fetchloop_survives_cluster_leader_failover(spark, tmp_path):
    """The loop over a REPLICATED cluster: a broker dies mid-stream
    (leaderships move to ISR survivors), the loop re-dials and resumes
    from its in-memory cursor — every frame lands exactly once."""
    from supermusr_data_pipeline_spark.kafka.cluster import MiniCluster

    with MiniCluster(
        n_brokers=3, replication_factor=2, min_insync_replicas=1,
    ) as c:
        c.create_topic("daq-events", partitions=2)
        victim = c.meta.state("daq-events", 0).leader
        w = FetchLoopNexusWriter(
            runs=_runs(),
            path=str(tmp_path / "s"),
            expected_digitizers=list(range(N_DIG)),
            bootstrap=c.bootstrap,
            topics=["daq-events"],
            frame_ttl_ms=5000,
            poll_ms=10,
        )
        w.start()
        with MiniProducer(c.bootstrap, buffer_max=64) as prod:
            for f in range(4):
                for d in range(N_DIG):
                    prod.send(
                        "daq-events", _payload(d, f, n_events=2),
                        key=str(d).encode(),
                    )
            prod.flush()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 4)
        c.kill(victim)
        with MiniProducer(c.bootstrap, buffer_max=64) as prod:
            for f in range(4, 8):
                for d in range(N_DIG):
                    prod.send(
                        "daq-events", _payload(d, f, n_events=2),
                        key=str(d).encode(),
                    )
            prod.flush()
        assert _await(
            lambda: w._totals.get("run_a", (0, 0))[0] == 8, timeout_s=20
        )
        w.stop()
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.count() == 8 * N_DIG * 2
    assert sorted(
        r.frame_seq for r in df.select("frame_seq").distinct().collect()
    ) == list(range(8))


def test_fetchloop_aev2_mode_matches_dev2_mode(spark, tmp_path):
    """input_format='aev2' (the reference nexus-writer's exact input —
    pre-assembled frames, one message each) produces the same sink rows
    as the dev2 mode assembling the equivalent digitiser messages, and
    rejects a re-delivered frame message."""
    frames = range(5)

    def _frame_events(f):
        # the union of what the dev2 messages would carry, sorted by
        # (did, channel, time) as the aggregator emits them
        ch, et, ev = [], [], []
        for d in range(N_DIG):
            n = 3 + d
            ch += [int(e % 8) for e in range(n)]
            et += [int(100 * f + 10 * e) for e in range(n)]
            ev += [int(e) for e in range(n)]
        return ch, et, ev

    with MiniBroker() as broker:
        broker.create_topic("frame-events", partitions=1)
        with MiniProducer(broker.bootstrap, buffer_max=64) as prod:
            for f in frames:
                ch, et, ev = _frame_events(f)
                md = {
                    "ts_ns": (T0_US + f * 20_000) * 1000,
                    "period_number": f // 1000,
                    "protons_per_pulse": 4,
                    "running": True,
                    "frame_number": f,
                    "veto_flags": f % 3,
                }
                payload = M.encode_aev2(
                    md, et, ev, ch, complete=True,
                    digitizers_present=list(range(N_DIG)),
                )
                prod.send("frame-events", payload, key=b"agg")
                if f == 2:  # re-delivery: must be rejected
                    prod.send("frame-events", payload, key=b"agg")
        w = FetchLoopNexusWriter(
            runs=_runs(), path=str(tmp_path / "aev2"),
            expected_digitizers=list(range(N_DIG)),
            bootstrap=broker.bootstrap, topics=["frame-events"],
            input_format="aev2", poll_ms=10,
        )
        w.start()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 5)
        w.stop()

    with MiniBroker() as broker2:
        broker2.create_topic("daq-events", partitions=1)
        with MiniProducer(broker2.bootstrap, buffer_max=64) as prod:
            for f in frames:
                for d in range(N_DIG):
                    prod.send(
                        "daq-events",
                        _payload(d, f, n_events=3 + d, veto=f % 3),
                        key=str(d).encode(),
                    )
        w2 = _writer(broker2, tmp_path / "dev2")
        w2.start()
        assert _await(lambda: w2._totals.get("run_a", (0, 0))[0] == 5)
        w2.stop()

    got, cols_a = _sink_rows(spark, tmp_path / "aev2")
    want, cols_b = _sink_rows(spark, tmp_path / "dev2")
    assert cols_a == cols_b
    assert got == want


def test_fetchloop_over_sasl_ssl(spark, tmp_path):
    """The loop authenticates like any client: SCRAM over TLS against a
    secured broker (the reference writer always authenticates,
    common/src/lib.rs:62-70)."""
    from supermusr_data_pipeline_spark.kafka.auth import (
        SCRAM_SHA_256,
        ClientSecurity,
    )

    with MiniBroker(
        security_protocol="SASL_SSL", scram_users={"writer": "hunter2"}
    ) as broker:
        broker.create_topic("daq-events", partitions=1)
        sec = ClientSecurity(
            protocol="SASL_SSL", mechanism=SCRAM_SHA_256,
            username="writer", password="hunter2",
            ca_location=broker.ssl_cert[0],
        )
        with MiniProducer(broker.bootstrap, buffer_max=64, security=sec) as p:
            for f in range(3):
                for d in range(N_DIG):
                    p.send("daq-events", _payload(d, f, n_events=2))
        w = _writer(broker, tmp_path / "s", security=sec)
        w.start()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 3)
        w.stop()
    assert spark.read.parquet(str(tmp_path / "s")).count() == 3 * N_DIG * 2


def test_fetchloop_secured_cluster_failover(spark, tmp_path):
    """The full composition: the loop authenticates (SCRAM over TLS,
    per-broker CA-chained certs) against a REPLICATED cluster, a broker
    dies mid-stream, and the re-dial path re-authenticates against the
    survivors — every frame lands exactly once."""
    from supermusr_data_pipeline_spark.kafka.auth import (
        SCRAM_SHA_256,
        ClientSecurity,
    )
    from supermusr_data_pipeline_spark.kafka.cluster import MiniCluster

    with MiniCluster(
        n_brokers=3, replication_factor=2, min_insync_replicas=1,
        security_protocol="SASL_SSL",
        scram_users={"writer": "hunter2", "replicator": "wheel"},
        inter_broker_user=("replicator", "wheel"),
    ) as c:
        c.create_topic("daq-events", partitions=2)
        sec = ClientSecurity(
            protocol="SASL_SSL", mechanism=SCRAM_SHA_256,
            username="writer", password="hunter2",
            ca_location=c.ssl_ca_location,
        )
        victim = c.meta.state("daq-events", 0).leader
        w = FetchLoopNexusWriter(
            runs=_runs(), path=str(tmp_path / "s"),
            expected_digitizers=list(range(N_DIG)),
            bootstrap=c.bootstrap, topics=["daq-events"],
            frame_ttl_ms=5000, poll_ms=10, security=sec,
        )
        w.start()
        prod = MiniProducer(c.bootstrap, buffer_max=64, security=sec)
        for f in range(3):
            for d in range(N_DIG):
                prod.send(
                    "daq-events", _payload(d, f, n_events=2),
                    key=str(d).encode(),
                )
            prod.flush()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 3)
        c.kill(victim)
        for f in range(3, 6):
            sent = False
            for _ in range(200):
                try:
                    for d in range(N_DIG):
                        prod.send(
                            "daq-events", _payload(d, f, n_events=2),
                            key=str(d).encode(),
                        )
                    prod.flush()
                    sent = True
                    break
                except OSError:
                    time.sleep(0.05)
            assert sent
        assert _await(
            lambda: w._totals.get("run_a", (0, 0))[0] == 6, timeout_s=20
        )
        w.stop()
        prod.close()
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.count() == 6 * N_DIG * 2
    assert sorted(
        r.frame_seq for r in df.select("frame_seq").distinct().collect()
    ) == list(range(6))


def test_fetchloop_sink_compacts_like_any_nexus_run(spark, tmp_path):
    """Operational closure of the door's file-count cost: committing per
    poll writes ~1 small file per dispatch (the latency trade), so the
    COMPLETED run must flow through the standard compaction pass
    (plans/index_maintenance.compact_nexus_run) — one sorted zstd file,
    rows identical.  This is the same small-files-then-compact lifecycle
    the FSM door documents (S7)."""
    from supermusr_data_pipeline_spark.plans.index_maintenance import (
        compact_nexus_run,
    )

    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        w = _writer(broker, tmp_path / "s")
        w.start()
        with MiniProducer(broker.bootstrap, buffer_max=N_DIG) as prod:
            for f in range(8):
                for d in range(N_DIG):
                    prod.send(
                        "daq-events", _payload(d, f, n_events=2),
                        key=str(d).encode(),
                    )
                prod.flush()
                time.sleep(0.05)  # several dispatches -> several files
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 8)
        w.stop()

    before, cols = _sink_rows(spark, tmp_path / "s")
    run_dir = os.path.join(str(tmp_path / "s"), "run_name=run_a")
    n_files_before = sum(
        1 for n in os.listdir(run_dir) if n.endswith(".parquet")
    )
    assert n_files_before > 1  # the latency trade actually happened
    res = compact_nexus_run(spark, str(tmp_path / "s"), "run_name=run_a")
    assert res["files_after"] < n_files_before
    after, cols2 = _sink_rows(spark, tmp_path / "s")
    assert cols2 == cols and after == before


def test_fetchloop_commit_latency_under_budget(tmp_path):
    """The door's reason to exist: per-commit wall time (decode + record
    + append) at the FULL 32x500 shape stays well under the reference's
    1 s budget — the micro-batch cycle's ~1.0-1.3 s fixed cost is gone.
    This is a smoke bound (CI machines vary); bench_streaming measures
    the honest paced p50."""
    n_dig = 32
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        payloads = [
            _payload(d, f, n_events=500) for f in range(5) for d in range(n_dig)
        ]
        _produce(broker, payloads)
        w = _writer(
            broker, tmp_path / "s", expected_digitizers=list(range(n_dig))
        )
        w.start()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 5)
        w.stop()
        totals = [c["total_s"] for c in w.commit_log]
        assert totals and max(totals) < 1.0, w.commit_log


def test_fetchloop_power_durability_mode(spark, tmp_path):
    """durability='power' fsyncs staged parts and the commit record through
    the same protocol — identical sink rows, just stronger media
    guarantees (the mode is opt-in because fsync costs commit latency
    the default's process-crash scope doesn't need)."""
    with pytest.raises(ValueError):
        FetchLoopNexusWriter(
            runs=_runs(), path=str(tmp_path / "x"),
            expected_digitizers=list(range(N_DIG)), bootstrap="none:1",
            topics=["t"], durability="nonsense",
        )
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        _produce(
            broker,
            [_payload(d, f, n_events=2) for f in range(3) for d in range(N_DIG)],
        )
        w = _writer(broker, tmp_path / "s", durability="power")
        assert w._fsync is True
        w.start()
        assert _await(lambda: w._totals.get("run_a", (0, 0))[0] == 3)
        w.stop()
    df = spark.read.parquet(str(tmp_path / "s"))
    assert df.count() == 3 * N_DIG * 2


def test_fetchloop_staging_pool_error_unlinks_tmps(spark, tmp_path, monkeypatch):
    """A failed CONCURRENT staging (multi-part dispatch) must not leave
    its already-written sibling tmps on disk for the next restart's
    sweep: the error path unlinks every allocated tmp before re-raising,
    and the dispatch never committed (no record), so recovery replays
    and lands the frames exactly once."""
    import supermusr_data_pipeline_spark.streaming.nexus_fetchloop as FL

    runs2 = [
        {"run_name": "run_a", "from_us": T0_US - 1_000_000, "until_us": None},
        {"run_name": "run_b", "from_us": T0_US - 1_000_000, "until_us": None},
    ]
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=1)
        _produce(broker, [_payload(d, 0, n_events=2) for d in range(N_DIG)])
        w = _writer(broker, tmp_path / "s", runs=runs2)

        orig = FL.pq.write_table
        state = {"n": 0}

        def bomb(table, where, **kw):
            if "run_name=" in str(where):
                state["n"] += 1
                if state["n"] == 2:  # second slice of the pooled stage
                    raise _Boom()
            orig(table, where, **kw)

        monkeypatch.setattr(FL.pq, "write_table", bomb)
        with pytest.raises((_Boom, RuntimeError)):
            for _ in range(200):
                w.poll_once()
        assert state["n"] >= 2  # the pooled path actually ran
        assert not _committed(w)
        if w._consumer is not None:
            w._consumer.close()
        monkeypatch.setattr(FL.pq, "write_table", orig)
        # the error path cleaned up: no tmps anywhere under the sink
        leftovers = [
            f
            for rd in os.listdir(tmp_path / "s")
            if rd.startswith("run_name=")
            for f in os.listdir(tmp_path / "s" / rd)
            if f.endswith(".tmp")
        ]
        assert leftovers == []

        w2 = _writer(broker, tmp_path / "s", runs=runs2)
        w2.start()
        assert _await(lambda: w2._totals.get("run_b", (0, 0))[0] == 1)
        w2.stop()
    df = spark.read.parquet(str(tmp_path / "s"))
    per = {
        r["run_name"]: r["count"]
        for r in df.groupBy("run_name").count().collect()
    }
    assert per == {"run_a": N_DIG * 2, "run_b": N_DIG * 2}


def test_fetchloop_recovery_raises_on_vanished_committed_parts(tmp_path):
    """An in-doubt commit whose rename pair exists at NEITHER name means
    the sink lost rows the commit promised (an un-fsynced directory
    entry after a power cut, or an external job consuming the sink
    mid-commit): recovery must fail loudly, not adopt totals for
    vanished rows.  Here the commit is an ``intent.json`` of the earlier
    two-file layout (a record's in-doubt case is in
    tests/test_fetchloop_commit_path.py)."""
    import json as J

    state_dir = tmp_path / "s" / "_fetchloop_state"
    os.makedirs(state_dir)
    run_dir = tmp_path / "s" / "run_name=run_a"
    os.makedirs(run_dir)
    with open(state_dir / "intent.json", "w") as fh:
        J.dump(
            {
                "offsets": {},
                "pre_totals": {"run_a": [0, 0]},
                "deltas": {"run_a": [1, 8]},
                "frame_keys": [],
                "renames": [
                    [
                        str(run_dir / ".part-fetchloop-1-000000-aa.parquet.tmp"),
                        str(run_dir / "part-fetchloop-1-000000-aa.parquet"),
                    ]
                ],
            },
            fh,
        )
    w = FetchLoopNexusWriter(
        runs=_runs(), path=str(tmp_path / "s"),
        expected_digitizers=list(range(N_DIG)), bootstrap="none:1",
        topics=["t"],
    )
    with pytest.raises(RuntimeError, match="commit corruption"):
        w._load_state()
