"""The fetch-loop door's commit path without Spark or a broker.

Records are injected through ``poll_once(records=...)`` or served by a
scripted consumer handed to ``start()`` as ``consumer_factory``, so the
loop's committer thread runs each multi-frame dispatch's commit tail
while the loop thread polls (a one-frame dispatch commits inline).  The
sink is read back with pyarrow and compared with a per-frame reference
built from the decoded messages, and over random tapes with a
plain-Python frame FSM; crashes are injected at every step of an
overlapped commit tail."""

import json
import os
import random
import sys
import threading
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from supermusr_data_pipeline_spark.kafka.client import ConsumerRecord
from supermusr_data_pipeline_spark.sources import messages as M
from supermusr_data_pipeline_spark.sources.decode import (
    aev2_arrow_batch,
    dev2_arrow_batch,
)
from supermusr_data_pipeline_spark.streaming.frame_core import (
    FrameState,
    pick_dispatch,
)
from supermusr_data_pipeline_spark.streaming.nexus_fetchloop import (
    FetchLoopNexusWriter,
)

T0_US = int(
    datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc).timestamp() * 1_000_000
)
N_DIG = 4
RUN_A = {"run_name": "run_a", "from_us": T0_US - 1_000_000, "until_us": None}
# starts between frames 1 and 2: frames 2+ land in both runs
RUN_B = {"run_name": "run_b", "from_us": T0_US + 30_000, "until_us": None}


def _md(frame):
    return {
        "ts_ns": (T0_US + frame * 20_000) * 1000,
        "period_number": frame // 3,
        "protons_per_pulse": 4,
        "running": frame != 1,
        "frame_number": frame,
        "veto_flags": 0,
    }


def _dev2(did, frame, n_events, veto=0, shift=0):
    md = dict(_md(frame), veto_flags=veto)
    return M.encode_dev2(
        did, md,
        [1000 * frame + 10 * e + shift for e in range(n_events)],
        [7 * did + e + shift for e in range(n_events)],
        [(did + e) % 8 for e in range(n_events)],
    )


def _aev2(frame, n_events, complete, veto=0):
    md = dict(_md(frame), veto_flags=veto)
    return M.encode_aev2(
        md,
        [1000 * frame + 10 * e for e in range(n_events)],
        [3 * frame + e for e in range(n_events)],
        [e % 8 for e in range(n_events)],
        complete,
        list(range(N_DIG)) if complete else [0],
    )


def _records(payloads):
    return [
        ConsumerRecord("t", 0, i, 0, b"k", p) for i, p in enumerate(payloads)
    ]


# dev2 tape: (poll, payload, accepted).  accepted=False marks the
# messages the frame FSM must reject.
def _dev2_tape():
    tape = []
    # poll 0: frame 0 complete; frame 1 complete with zero events; the
    # first half of frame 2; frame 3 with a byte-identical duplicate
    tape += [(0, _dev2(d, 0, 3, veto=d), True) for d in range(N_DIG)]
    tape += [(0, _dev2(d, 1, 0), True) for d in range(N_DIG)]
    tape += [(0, _dev2(d, 2, 2), True) for d in (0, 1)]
    tape += [(0, _dev2(d, 3, 1), True) for d in (0, 1)]
    tape += [(0, _dev2(1, 3, 1), False)]  # same poll, same digitiser
    # poll 1: frame 2 completes across the poll boundary; frame 3 sees a
    # DIFFERENT payload for digitiser 0 (first arrival wins) and
    # completes; a late message for dispatched frame 0 (tombstoned)
    tape += [(1, _dev2(d, 2, 2), True) for d in (2, 3)]
    tape += [(1, _dev2(0, 3, 5, shift=1), False)]
    tape += [(1, _dev2(d, 3, 1), True) for d in (2, 3)]
    tape += [(1, _dev2(2, 0, 4, shift=2), False)]
    # poll 2: frame 4 never completes (TTL dispatch, incomplete)
    tape += [(2, _dev2(d, 4, 2), True) for d in (1, 3)]
    return tape


def _aev2_tape():
    tape = []
    tape += [(0, _aev2(0, 3, True), True), (0, _aev2(1, 0, True), True)]
    tape += [(0, _aev2(1, 0, True), False)]  # re-delivered in the poll
    tape += [(1, _aev2(2, 2, False, veto=5), True)]
    tape += [(1, _aev2(0, 3, True), False)]  # re-delivered after dispatch
    tape += [(2, _aev2(3, 4, True), True)]
    return tape


def _reference(tape, fmt, runs):
    """Per (run, frame): the constant columns and the event tuples in
    arrival order, from the accepted messages' decoded batch."""
    accepted = [p for _poll, p, ok in tape if ok]
    decode = dev2_arrow_batch if fmt == "dev2" else aev2_arrow_batch
    rb = decode(accepted)
    frames: dict[int, dict] = {}
    for ts_us, row in zip(
        rb.column("ts").cast(pa.int64()).to_pylist(), rb.to_pylist()
    ):
        f = frames.setdefault(
            row["frame_number"],
            {"row": row, "ts_us": ts_us, "veto": 0, "dids": set(),
             "events": []},
        )
        f["veto"] |= row["veto_flags"]
        f["dids"].add(row.get("digitizer_id"))
        f["events"] += list(
            zip(row["event_time"], row["channel"],
                [float(v) for v in row["event_voltage"]])
        )
    out = {}
    for run in runs:
        for fno, f in frames.items():
            row, ts_us = f["row"], f["ts_us"]
            if not run["from_us"] < ts_us:
                continue
            complete = (
                row["complete"] if fmt == "aev2"
                else f["dids"] == set(range(N_DIG))
            )
            const = (
                (ts_us - run["from_us"]) * 1000, row["period_number"],
                complete, row["running"], f["veto"],
            )
            out[(run["run_name"], fno)] = (
                const, f["events"] or [(None, None, None)]
            )
    return out


def _sink(path):
    """Per (run, frame): constant columns + event tuples in file order,
    and per run {frame_seq: [event_index, n_rows, frame_number]}."""
    frames, seqs = {}, {}
    for name in sorted(os.listdir(path)):
        if not name.startswith("run_name="):
            continue
        run = name[len("run_name="):]
        run_dir = os.path.join(path, name)
        for f in sorted(os.listdir(run_dir)):
            if not f.endswith(".parquet"):
                continue
            for r in pq.read_table(os.path.join(run_dir, f)).to_pylist():
                key = (run, r["frame_number"])
                const = (
                    r["event_time_zero"], r["period_number"],
                    r["frame_complete"], r["running"], r["veto_flags"],
                )
                got = frames.setdefault(key, (const, []))
                assert got[0] == const, key
                got[1].append(
                    (r["event_time_offset"], r["event_id"], r["pulse_height"])
                )
                seqs.setdefault(run, {}).setdefault(
                    r["frame_seq"], [r["event_index"], 0, r["frame_number"]]
                )[1] += 1
    return frames, seqs


def _assert_sink_matches(path, tape, fmt, runs):
    frames, seqs = _sink(path)
    assert frames == _reference(tape, fmt, runs)
    _assert_contiguous(seqs)


def _assert_contiguous(seqs):
    for run, by_seq in seqs.items():
        # frame_seq contiguous from 0; event_index continues run-wide
        assert sorted(by_seq) == list(range(len(by_seq))), run
        idx = 0
        for seq in sorted(by_seq):
            assert by_seq[seq][0] == idx, (run, seq)
            idx += by_seq[seq][1]


def _writer(path, now, fmt="dev2", runs=(RUN_A,), **kw):
    return FetchLoopNexusWriter(
        runs=list(runs), path=str(path),
        expected_digitizers=list(range(N_DIG)),
        bootstrap="unused:0", topics=["t"], frame_ttl_ms=200,
        clock=lambda: now[0], input_format=fmt, **kw,
    )


def _polls(tape):
    recs = _records([p for _poll, p, _ok in tape])
    out = []
    for i, (poll, _p, _ok) in enumerate(tape):
        while len(out) <= poll:
            out.append([])
        out[poll].append(recs[i])
    return out


class _ScriptedConsumer:
    """A one-partition log served in scripted chunks; honours seek.
    Once the log is drained it advances the injected clock past every
    TTL, so a pending frame dispatches."""

    def __init__(self, records, chunks, now):
        self.records = records
        self.chunks = list(chunks)
        self.now = now
        self.pos = 0
        self.polls = 0
        self.on_poll = None

    def seek(self, positions):
        self.pos = positions.get(("t", 0), self.pos)

    def poll(self, max_wait_ms=0, **_kw):
        if self.on_poll is not None:
            self.on_poll()
        if self.pos >= len(self.records):
            self.now[0] += 10.0
            time.sleep(0.002)
            return []
        n = self.chunks[min(self.polls, len(self.chunks) - 1)]
        self.polls += 1
        out = self.records[self.pos:self.pos + n]
        self.pos += len(out)
        return out

    def close(self):
        pass


def _stop(w):
    """stop(), then check the loop thread really ended."""
    thread = w._thread
    try:
        w.stop()
    finally:
        assert not thread.is_alive()


def _await(predicate, timeout_s=10.0):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if predicate():
            return True
        time.sleep(0.005)
    return predicate()


@pytest.mark.parametrize("fmt", ["dev2", "aev2"])
def test_inline_polls_match_per_frame_reference(tmp_path, fmt):
    tape = _dev2_tape() if fmt == "dev2" else _aev2_tape()
    runs = (RUN_A, RUN_B)
    now = [1_000_000.0]
    w = _writer(tmp_path / "s", now, fmt=fmt, runs=runs)
    for recs in _polls(tape):
        w.poll_once(records=recs)
        now[0] += 0.01
    now[0] += 10.0
    w.poll_once(records=[])
    assert not w._pending
    _assert_sink_matches(tmp_path / "s", tape, fmt, runs)


@pytest.mark.parametrize("fmt", ["dev2", "aev2"])
def test_loop_overlaps_tail_and_matches_reference(tmp_path, fmt):
    """Through start(): a multi-frame dispatch's tail runs on the
    committer thread and the next poll runs while it is in flight; a
    one-frame dispatch commits inline on the loop thread.  One
    commit_log entry per on_commit, in order — and the sink equals the
    reference."""
    tape = _dev2_tape() if fmt == "dev2" else _aev2_tape()
    runs = (RUN_A, RUN_B)
    now = [1_000_000.0]
    chunks = [len(p) for p in _polls(tape)]
    consumer = _ScriptedConsumer(
        _records([p for _poll, p, _ok in tape]), chunks, now
    )
    calls, tail_threads = [], []
    overlapped = []
    w = None

    def on_commit(frames):
        tail_threads.append((len(frames), threading.current_thread().name))
        calls.append((len(w.commit_log), frames))
        time.sleep(0.03)  # a slow tail: the loop polls meanwhile

    def on_poll():
        t = w._tail
        overlapped.append(t is not None and not t.done())

    consumer.on_poll = on_poll
    w = _writer(
        tmp_path / "s", now, fmt=fmt, runs=runs, on_commit=on_commit,
        consumer_factory=lambda: consumer,
    )
    n_frames = len({fno for _run, fno in _reference(tape, fmt, (RUN_A,))})
    w.start()
    assert _await(
        lambda: len({f for _n, fr in calls for f in fr}) == n_frames
    )
    _stop(w)
    # both tapes dispatch two frames from their first poll, and end
    # with a one-frame dispatch
    assert tail_threads[0][0] > 1 and tail_threads[-1][0] == 1
    for n_frames_committed, thread in tail_threads:
        if n_frames_committed > 1:
            assert thread.startswith("nexus-fetchloop-commit")
        else:
            assert thread == "nexus-fetchloop"
    assert any(overlapped)
    # each dispatch logged its commit entry before its on_commit call
    assert [n for n, _fr in calls] == list(range(1, len(calls) + 1))
    assert len(w.commit_log) == len(calls)
    _assert_sink_matches(tmp_path / "s", tape, fmt, runs)


def test_loop_handoff_under_fast_thread_switching(tmp_path):
    """The loop and the committer hand the FSM, cursor and totals back
    and forth on every dispatch.  With the interpreter switching
    threads every microsecond and most frames split across polls,
    every frame still lands exactly once, as the reference says, with
    run-wide contiguous frame_seq and event_index."""
    rng = random.Random(7)
    n_frames = 60
    payloads = []
    for f in range(0, n_frames, 2):  # two frames interleaved at a time
        msgs = [
            _dev2(d, g, 1 + (g + d) % 3) for g in (f, f + 1)
            for d in range(N_DIG)
        ]
        rng.shuffle(msgs)
        payloads += msgs
    now = [1_000_000.0]
    consumer = _ScriptedConsumer(
        _records(payloads), [rng.randint(1, 9) for _ in range(200)], now
    )
    w = _writer(tmp_path / "s", now, consumer_factory=lambda: consumer)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        w.start()
        assert _await(
            lambda: w._totals.get("run_a", (0, 0))[0] == n_frames,
            timeout_s=30,
        )
    finally:
        sys.setswitchinterval(interval)
        _stop(w)
    _assert_sink_matches(
        tmp_path / "s", [(0, p, True) for p in payloads], "dev2", (RUN_A,)
    )


# tail step -> the writer method that performs it
_TAIL_STEPS = {
    "stage": "_write_part",
    "record": "_save_state",
    "publish": "_publish_renames",
    "unlink": "_drop_record",
}


def _bomb(w, step, fuse, threads):
    """Crash the ``fuse``-th commit tail at ``step``; records the
    threads the step ran on."""
    orig = getattr(w, _TAIL_STEPS[step])
    left = [fuse]

    def wrapped(*args):
        threads.append(threading.current_thread().name)
        left[0] -= 1
        if left[0] == 0:
            if step == "stage":
                with open(args[1], "wb") as fh:
                    fh.write(b"PAR1\x00trunc")  # a partial write
            raise RuntimeError(f"crash at {step}")
        return orig(*args)

    setattr(w, _TAIL_STEPS[step], wrapped)


def _crash_in_overlapped_tail(tmp_path, step, durability):
    n_frames = 6
    payloads = [
        _dev2(d, f, 2 + f % 3) for f in range(n_frames) for d in range(N_DIG)
    ]
    tape = [(0, p, True) for p in payloads]
    records = _records(payloads)
    now = [1_000_000.0]
    path = tmp_path / "s"

    # two frames per poll: every dispatch overlaps the next poll
    c1 = _ScriptedConsumer(records, [2 * N_DIG], now)
    w1 = _writer(
        path, now, consumer_factory=lambda: c1, durability=durability
    )
    threads = []
    _bomb(w1, step, 2, threads)
    w1.start()
    assert _await(lambda: w1.loop_error is not None)
    with pytest.raises(RuntimeError):
        _stop(w1)
    assert threads and all(
        n.startswith("nexus-fetchloop-commit") for n in threads
    )
    landed = w1._totals.get("run_a", (0, 0))[0]
    assert landed < n_frames

    # process death: a fresh writer recovers from disk and replays from
    # the persisted cursor through a fresh consumer (the poll size
    # changes too, so replayed frames re-assemble across polls)
    c2 = _ScriptedConsumer(records, [3], now)
    w2 = _writer(
        path, now, consumer_factory=lambda: c2, durability=durability
    )
    w2.start()
    assert _await(lambda: w2._totals.get("run_a", (0, 0))[0] == n_frames)
    _stop(w2)
    assert w2._totals["run_a"] == (
        n_frames, sum(N_DIG * (2 + f % 3) for f in range(n_frames))
    )
    assert not any(
        f.endswith(".tmp")
        for f in os.listdir(path / "run_name=run_a")
    )
    # one record survives: the newest
    assert os.listdir(w2.state_dir) == [f"commit-{w2._seq:012d}.json"]
    _assert_sink_matches(path, tape, "dev2", (RUN_A,))


@pytest.mark.parametrize("step", list(_TAIL_STEPS))
def test_crash_in_overlapped_tail_lands_every_frame_once(tmp_path, step):
    _crash_in_overlapped_tail(tmp_path, step, "process")


@pytest.mark.parametrize("step", list(_TAIL_STEPS))
def test_crash_in_power_mode_tail_lands_every_frame_once(tmp_path, step):
    _crash_in_overlapped_tail(tmp_path, step, "power")


def _record_files(w):
    return sorted(
        n for n in os.listdir(w.state_dir) if n.startswith("commit-")
    )


def _read_record(w, name):
    with open(os.path.join(w.state_dir, name)) as fh:
        return json.load(fh)


def _drain(w, polls, now, start=0):
    """Feed ``polls`` (lists of records) from offset ``start`` on, then
    run past every TTL so the last pending frame dispatches."""
    for recs in polls:
        recs = [r for r in recs if r.offset >= start]
        if recs:
            w.poll_once(records=recs)
        now[0] += 0.01
    now[0] += 10.0
    w.poll_once(records=[])


def _cut_before_unlink(path, now, polls, n_polls):
    """Run ``n_polls`` polls, then crash the next dispatch's tail after
    its publish: the newest record and its predecessor are both on
    disk.  Returns the crashed writer."""
    w = _writer(path, now)
    for recs in polls[:n_polls]:
        w.poll_once(records=recs)
        now[0] += 0.01
    _bomb(w, "unlink", 1, [])
    with pytest.raises(RuntimeError, match="crash at unlink"):
        _drain(w, polls[n_polls:], now)
    assert len(_record_files(w)) == 2
    return w


def test_newest_record_wins_and_torn_tmp_is_ignored(tmp_path):
    """Two records on disk (a crash before the older one's unlink) plus a
    torn tmp of a third: a fresh writer resumes from the newest record,
    ignores the tmp, leaves one record behind and lands every frame
    exactly once."""
    tape = _dev2_tape()
    polls = _polls(tape)
    now = [1_000_000.0]
    path = tmp_path / "s"
    w1 = _cut_before_unlink(path, now, polls, 1)
    older, newest = _record_files(w1)
    want = _read_record(w1, newest)
    assert want != _read_record(w1, older)
    torn = os.path.join(w1.state_dir, f".commit-{w1._seq + 1:012d}.json.tmp")
    with open(torn, "w") as fh:
        fh.write('{"offsets": {"t/0": 99')

    w2 = _writer(path, now)
    w2.poll_once(records=[])
    assert _record_files(w2) == [newest]
    assert not os.path.exists(torn)
    assert w2._offsets == want["offsets"]
    assert w2._totals == {k: tuple(v) for k, v in want["totals"].items()}
    assert set(w2._tombstones) == {tuple(k) for k, _e in want["tombstones"]}
    _drain(w2, polls, now, start=w2._offsets.get("t/0", 0))
    _assert_sink_matches(path, tape, "dev2", (RUN_A,))


def test_vanished_part_is_corruption_only_while_publish_in_doubt(tmp_path):
    """The newest record's publish is in doubt while its predecessor is
    still on disk: a rename pair with neither file then fails loudly.
    With the newest record alone the publish finished, and a part that
    moved since (run retirement, compaction) is no error."""
    polls = _polls(_dev2_tape())
    now = [1_000_000.0]
    path = tmp_path / "s"
    w1 = _cut_before_unlink(path, now, polls, 1)
    _older, newest = _record_files(w1)
    (_tmp, final), = _read_record(w1, newest)["renames"]
    moved = str(tmp_path / os.path.basename(final))
    os.rename(final, moved)
    with pytest.raises(RuntimeError, match="commit corruption"):
        _writer(path, now).poll_once(records=[])

    os.rename(moved, final)
    _writer(path, now).poll_once(records=[])  # recovers; one record left
    os.rename(final, moved)
    w3 = _writer(path, now)
    w3.poll_once(records=[])
    assert _record_files(w3) == [newest]


@pytest.mark.parametrize("legacy", ["state_and_intent", "state_only"])
def test_legacy_state_and_intent_resume_exactly_once(tmp_path, legacy):
    """A state dir of the earlier two-file layout — ``state.json``
    (offsets, totals, tombstones) and a surviving ``intent.json`` of a
    dispatch cut off before its publish finished — goes through the
    same recovery, is replaced by one record, and every frame lands
    exactly once."""
    tape = _dev2_tape()
    polls = _polls(tape)
    now = [1_000_000.0]
    path = tmp_path / "s"
    w1 = _writer(path, now)
    w1.poll_once(records=polls[0])
    now[0] += 0.01
    prev = _read_record(w1, _record_files(w1)[0])
    # the next dispatch crashes before its publish
    _bomb(w1, "publish", 1, [])
    with pytest.raises(RuntimeError, match="crash at publish"):
        w1.poll_once(records=polls[1])
    older, newest = _record_files(w1)
    rec = _read_record(w1, newest)
    assert rec["renames"] and os.path.isfile(rec["renames"][0][0])
    # rewrite the state dir in the earlier layout
    for name in (older, newest):
        os.remove(os.path.join(w1.state_dir, name))
    state = {k: prev[k] for k in ("offsets", "totals", "tombstones")}
    with open(os.path.join(w1.state_dir, "state.json"), "w") as fh:
        json.dump(state, fh)
    if legacy == "state_and_intent":
        keys = {tuple(k) for k, _e in prev["tombstones"]}
        pre = {r: prev["totals"].get(r, [0, 0]) for r in rec["totals"]}
        with open(os.path.join(w1.state_dir, "intent.json"), "w") as fh:
            json.dump(
                {
                    "offsets": rec["offsets"],
                    "pre_totals": pre,
                    "deltas": {
                        r: [a - pre[r][0], b - pre[r][1]]
                        for r, (a, b) in rec["totals"].items()
                    },
                    "frame_keys": [
                        k for k, _e in rec["tombstones"]
                        if tuple(k) not in keys
                    ],
                    "renames": rec["renames"],
                },
                fh,
            )
    else:
        # a clean stop in the earlier layout: nothing was in flight
        for tmp, _final in rec["renames"]:
            os.remove(tmp)

    w2 = _writer(path, now)
    w2.poll_once(records=[])
    assert _record_files(w2) == ["commit-000000000001.json"]
    assert sorted(os.listdir(w2.state_dir)) == _record_files(w2)
    if legacy == "state_and_intent":
        assert w2._offsets == rec["offsets"]
        assert w2._totals == {k: tuple(v) for k, v in rec["totals"].items()}
    else:
        assert w2._offsets == prev["offsets"]
        assert w2._totals == {k: tuple(v) for k, v in prev["totals"].items()}
    _drain(w2, polls, now, start=w2._offsets.get("t/0", 0))
    _assert_sink_matches(path, tape, "dev2", (RUN_A,))


@pytest.mark.parametrize("durability", ["process", "power"])
def test_commit_path_writes_one_record_and_replaces_nothing(
    tmp_path, monkeypatch, durability
):
    """Over ``poll_once`` cycles: no rename lands on an existing path,
    no file is opened for writing over an existing one, each dispatch
    writes one JSON file, one record stays on disk, and power mode
    fsyncs five times per one-part dispatch once its directories are
    durable (staged part, its directory, record tmp, state dir, and the
    published part's directory — the earlier intent + state protocol
    took seven)."""
    import builtins

    import supermusr_data_pipeline_spark.streaming.nexus_fetchloop as FL

    tape = _dev2_tape()
    now = [1_000_000.0]
    w = _writer(tmp_path / "s", now, durability=durability)
    counts = {"dump": 0, "fsync": 0}

    def guard(orig):
        def renamed(src, dst, *a, **kw):
            assert not os.path.exists(dst), f"rename onto existing {dst}"
            return orig(src, dst, *a, **kw)
        return renamed

    def opened(file, mode="r", *a, **kw):
        if "w" in mode:
            assert not os.path.exists(file), f"rewrite of {file}"
        return builtins.open(file, mode, *a, **kw)

    def counting(name, orig):
        def call(*a, **kw):
            counts[name] += 1
            return orig(*a, **kw)
        return call

    monkeypatch.setattr(os, "replace", guard(os.replace))
    monkeypatch.setattr(os, "rename", guard(os.rename))
    monkeypatch.setattr(FL, "open", opened, raising=False)
    monkeypatch.setattr(FL.json, "dumps", counting("dump", FL.json.dumps))
    monkeypatch.setattr(os, "fsync", counting("fsync", os.fsync))
    per_dispatch = []
    for recs in _polls(tape) + [[]]:
        if not recs:
            now[0] += 10.0
        before = dict(counts)
        n_log = len(w.commit_log)
        w.poll_once(records=recs)
        now[0] += 0.01
        if len(w.commit_log) > n_log:
            per_dispatch.append(
                {k: counts[k] - before[k] for k in counts}
            )
    assert not w._pending
    assert len(per_dispatch) == 3
    assert all(d["dump"] == 1 for d in per_dispatch)
    assert _record_files(w) == [f"commit-{w._seq:012d}.json"]
    fsyncs = [d["fsync"] for d in per_dispatch]
    if durability == "power":
        assert fsyncs[1:] == [5, 5]
    else:
        assert fsyncs == [0, 0, 0]
    _assert_sink_matches(tmp_path / "s", tape, "dev2", (RUN_A,))


def _model(msgs, polls, runs, ttl_ms, tombstone_ttl_ms):
    """A plain-Python frame FSM over the decoded messages, for the
    fetch loop's dev2 admission.  ``polls``: (clock in ms, message
    positions) per poll.  Within a poll, among duplicate (frame,
    digitiser) messages the one with the fewest events (then lowest
    veto, then earliest) is the candidate; it is admitted unless an
    earlier poll admitted that digitiser for the frame or the frame is
    tombstoned (which re-arms the tombstone).  Dispatch is
    ``frame_core.pick_dispatch`` on the same clock.  Returns the
    ``_sink`` view: per (run, frame) constant columns + events in
    arrival order, and per run {frame_seq: [event_index, n_rows,
    frame_number]}."""
    rb = dev2_arrow_batch(msgs)
    rows = rb.to_pylist()
    ts = rb.column("ts").cast(pa.int64()).to_pylist()
    expected = list(range(N_DIG))
    pending, tombstones, events = {}, {}, {}
    frames, seqs, totals = {}, {}, {}
    for now_ms, positions in polls:
        best: dict[tuple, dict[int, tuple]] = {}
        for i in positions:
            r = rows[i]
            key = (ts[i], r["period_number"], r["protons_per_pulse"],
                   r["running"], r["frame_number"])
            cand = (len(r["channel"]), r["veto_flags"], i)
            by_did = best.setdefault(key, {})
            by_did[r["digitizer_id"]] = min(
                by_did.get(r["digitizer_id"], cand), cand
            )
        for key, by_did in best.items():
            if key in tombstones:
                tombstones[key] = now_ms + tombstone_ttl_ms
                continue
            fs = pending.get(key)
            if fs is None:
                fs = pending[key] = FrameState(now_ms)
                events[key] = []
            for did, (n_ev, veto, i) in sorted(
                by_did.items(), key=lambda kv: kv[1][2]
            ):
                if did in fs.dids:
                    continue
                fs.dids.add(did)
                fs.veto |= veto
                fs.n_events += n_ev
                r = rows[i]
                events[key].append((i, list(zip(
                    r["event_time"], r["channel"],
                    [float(v) for v in r["event_voltage"]],
                ))))
        dispatch = pick_dispatch(
            pending, tombstones, expected, now_ms, ttl_ms, tombstone_ttl_ms
        )
        for key, fs in sorted(dispatch, key=lambda kf: (kf[0][0], kf[0][4])):
            ts_us, period, _ppp, running, fno = key
            evs = [e for _i, part in events.pop(key) for e in part]
            for run in runs:
                if not run["from_us"] < ts_us:
                    continue
                name = run["run_name"]
                seq, idx = totals.get(name, (0, 0))
                const = (
                    (ts_us - run["from_us"]) * 1000, period,
                    sorted(fs.dids) == expected, running, fs.veto,
                )
                frames[(name, fno)] = (const, evs or [(None, None, None)])
                seqs.setdefault(name, {})[seq] = [
                    idx, max(len(evs), 1), fno,
                ]
                totals[name] = (seq + 1, idx + max(len(evs), 1))
    return frames, seqs


def test_fsm_property_matches_model(tmp_path):
    """Property: over random tapes (missing digitisers, duplicates with
    different payloads, zero-event frames, interleaved frames, arbitrary
    chunking into polls, TTL expiries on a fake clock) the fetch loop
    writes exactly what the plain-Python frame FSM of ``_model``
    dispatches — every row, every frame_seq and event_index."""
    runs = (RUN_A, RUN_B)
    case_idx = [0]

    @settings(max_examples=60, deadline=None)
    @given(data=st.data())
    def _case(data):
        n_frames = data.draw(st.integers(1, 4), label="n_frames")
        msgs = []
        for f in range(n_frames):
            dids = data.draw(
                st.lists(st.integers(0, N_DIG - 1), min_size=1, max_size=6),
                label=f"dids_f{f}",  # repeats = duplicate messages
            )
            for j, d in enumerate(dids):
                n_ev = data.draw(st.integers(0, 4), label=f"n_f{f}_{j}")
                veto = data.draw(st.integers(0, 7), label=f"v_f{f}_{j}")
                msgs.append(_dev2(d, f, n_ev, veto=veto, shift=10 * j))
        msgs = data.draw(st.permutations(msgs), label="arrival")
        cuts = data.draw(
            st.lists(st.integers(1, len(msgs)), max_size=3), label="cuts"
        )
        bounds = sorted({0, len(msgs), *cuts})
        chunks = [(a, b) for a, b in zip(bounds, bounds[1:]) if b > a]
        # clock advance after each poll: inside or past the 200 ms TTL,
        # always inside the tombstone TTL
        steps = data.draw(
            st.lists(
                st.sampled_from([0.01, 0.1, 0.25]),
                min_size=len(chunks), max_size=len(chunks),
            ),
            label="steps",
        )
        case_idx[0] += 1
        path = tmp_path / f"case{case_idx[0]}"
        now = [1_000_000.0]
        w = _writer(path, now, runs=runs)
        records = _records(msgs)
        polls = []
        for (a, b), step in zip(chunks, steps):
            polls.append((int(now[0] * 1000), range(a, b)))
            w.poll_once(records=records[a:b])
            now[0] += step
        now[0] += 1.0  # past every TTL: the last pending frames dispatch
        polls.append((int(now[0] * 1000), range(0)))
        w.poll_once(records=[])
        assert not w._pending

        want_frames, want_seqs = _model(
            msgs, polls, runs, w.frame_ttl_ms, w.tombstone_ttl_ms
        )
        frames, seqs = _sink(path)
        assert frames == want_frames
        assert seqs == want_seqs
        _assert_contiguous(seqs)

    _case()
