"""live_daq: the reference's live path, dev2 event lists -> frame FSM
(500 ms TTL) -> run matching -> NeXus Parquet append, through
``streaming.nexus_fetchloop.FetchLoopNexusWriter`` over the in-repo
``kafka.MiniBroker``.

The broker and the load generator run in their own process
(``live_gen.py``).  Two phases follow a warm-up, in alternating
200-frame pieces:

* ``r50``: open loop at 50 frames/s (the reference beam rate);
* ``closed``: closed loop, 32 frames in flight, which gives ``max_fps``.

There is no 100 frames/s phase: on a 4-vCPU VM whose speed drifts, the
door's capacity fell below 100 frames/s in slow spells, and the phase
then lost over half its frames to the 500 ms TTL (see README), so the
run could not pass its correctness gate.

A frame's latency runs from its due time (stamped by the generator on
CLOCK_MONOTONIC) to the door's ``on_commit`` for it.  Correctness: every
offered frame lands exactly once and complete, with 32 x 500 rows and a
contiguous ``frame_seq``.
"""

from __future__ import annotations

import bisect
import multiprocessing
import os
import shutil
import threading
import time

import live_gen
from common import ROOT, Tracer, median, pctl, peak_rss_mb, slope

N_WARMUP = 64
# (name, open/closed, frames/s or frames in flight, frames): the open
# phase offers 1000 frames in five 200-frame segments, so its p99 has ten
# samples beyond it; the closed loop drains seven 200-frame tapes and
# reports their median.  The two alternate, so both sample the whole run
# and a slow spell of a few seconds moves neither.
_R50 = ("r50", "open", 50, 200)
_CLOSED = ("closed", "closed", 32, 200)
PHASES = [_R50, _CLOSED] * 5 + [_CLOSED] * 2
SETUPS = 3  # complete set-ups per run; setup_s is their median
ROWS_PER_FRAME = live_gen.N_DIGITISERS * live_gen.EVENTS_PER_MESSAGE
RUN_NAME = "bench_run"


class _TimedConsumer:
    """consumer_factory wrapper: times each poll while ``log`` is a list,
    passes seek/close through."""

    def __init__(self, inner, log: list):
        self.inner = inner
        self.log = log

    def poll(self, *args, **kw):
        log = self.log  # read once: another thread may switch it off
        if log is None:
            return self.inner.poll(*args, **kw)
        t0 = time.monotonic()
        recs = self.inner.poll(*args, **kw)
        log.append((t0, time.monotonic(), len(recs)))
        return recs

    def seek(self, positions):
        self.inner.seek(positions)

    def close(self):
        self.inner.close()


class _Door:
    """One generator process plus one fetch-loop writer on a fresh sink."""

    def __init__(self, seed: int, workdir: str, traced: bool):
        from supermusr_data_pipeline_spark.kafka import MiniConsumer
        from supermusr_data_pipeline_spark.streaming.nexus_fetchloop import (
            FetchLoopNexusWriter,
        )

        ctx = multiprocessing.get_context("spawn")
        self.cmd_r, self.cmd_w = ctx.Pipe(duplex=False)
        self.evt_r, self.evt_w = ctx.Pipe(duplex=False)
        self.proc = ctx.Process(
            target=live_gen.generator_main,
            args=(seed, ROOT, self.cmd_r, self.evt_w),
            daemon=True,
        )
        t0 = time.monotonic()
        self.proc.start()
        self.writer = None
        bootstrap = self._recv("ready")[1]
        self.ready_s = time.monotonic() - t0  # generator + broker up
        self.sink = os.path.join(workdir, "sink")
        self.lock = threading.Lock()
        self.commit_t: dict[int, float] = {}  # frame -> first on_commit
        self.commit_n: dict[int, int] = {}  # frame -> on_commit count
        self.commit_calls: list = []  # (on_commit time, frames)
        self.committed = 0
        self.report_commits = False
        self.poll_log: list = []
        self.decode_log: list = []
        self.consumer = None

        def factory():
            c = MiniConsumer(bootstrap, [live_gen.TOPIC], client_id="perfbench")
            if traced:
                c = self.consumer = _TimedConsumer(c, self.poll_log)
            return c

        base_us = live_gen.BASE_TS_NS // 1000
        self.writer = FetchLoopNexusWriter(
            # one open run covering every frame of the tape
            [{"run_name": RUN_NAME, "from_us": base_us - 10**6, "until_us": None}],
            self.sink,
            list(range(live_gen.N_DIGITISERS)),
            bootstrap,
            [live_gen.TOPIC],
            frame_ttl_ms=500,
            on_commit=self._on_commit,
            poll_ms=10,
            consumer_factory=factory,
        )
        self.writer.start()

    def _on_commit(self, frames) -> None:
        t = time.monotonic()
        with self.lock:
            for f in frames:
                self.commit_n[f] = self.commit_n.get(f, 0) + 1
                self.commit_t.setdefault(f, t)
            self.committed += len(frames)
            self.commit_calls.append((t, frames))
            if self.report_commits:
                self.cmd_w.send(("c", self.committed))

    def _recv(self, kind: str):
        """The generator's next reply, which must be ``kind``; fails if the
        generator or the door loop died meanwhile."""
        while not self.evt_r.poll(0.1):
            if self.writer is not None:
                self.writer.check_error()
            if not self.proc.is_alive():
                raise RuntimeError("the load generator exited")
        msg = self.evt_r.recv()
        if msg[0] != kind:
            raise RuntimeError(f"generator: expected {kind!r}, got {msg!r}")
        return msg

    def encode(self, first: int, n: int) -> None:
        """Queue the pre-encoding of frames first..first+n-1.  Callers queue
        it once the phase before has committed, so the encoding never
        competes with the door inside a timed phase."""
        self.cmd_w.send(("encode", first, n))

    def run_phase(self, kind: str, arg: int):
        """Send the encoded frames open loop (``arg`` frames/s) or closed
        loop (``arg`` frames in flight); returns (due, late) once the
        generator has sent them all."""
        self._recv("encoded")
        with self.lock:
            if kind == "closed":
                self.report_commits = True
                self.cmd_w.send(("closed", arg, self.committed))
            else:
                self.cmd_w.send(("open", arg))
        _, due, late = self._recv("done")
        return due, late

    def wait_committed(self, frames: range, timeout: float = 30.0) -> None:
        """Until every frame committed, or the timeout (the missing frames
        then fail the correctness gate)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            self.writer.check_error()
            with self.lock:
                if all(f in self.commit_t for f in frames):
                    break
            time.sleep(0.01)
        with self.lock:
            self.report_commits = False

    def close(self) -> None:
        try:
            if self.writer is not None:
                self.writer.stop()
        finally:
            self.cmd_w.send(("stop",))
            self.proc.join(timeout=30)
            if self.proc.is_alive():
                self.proc.kill()
                self.proc.join()


def _patch_decode(log: list):
    """Time ``sources.decode.dev2_arrow_batch``; the door imports it at
    call time, so the wrapper takes effect.  Returns the undo."""
    import pyarrow.compute as pc

    from supermusr_data_pipeline_spark.sources import decode

    orig = decode.dev2_arrow_batch

    def timed(values):
        t0 = time.monotonic()
        rb = orig(values)
        t1 = time.monotonic()
        frames = pc.unique(rb.column(5)).to_pylist() if rb.num_rows else []
        log.append((t0, t1, len(values), frames))
        return rb

    decode.dev2_arrow_batch = timed

    def undo():
        decode.dev2_arrow_batch = orig

    return undo


def _check_sink(sink: str, frames: range, tally: dict):
    """Read the part files published since the last check, then delete
    them (the disk footprint stays flat); return (rows, frames that did
    not land exactly once and complete, frames that landed complete).
    ``tally`` counts the files and bytes read over the run."""
    import numpy as np
    import pyarrow.parquet as pq

    run_dir = os.path.join(sink, f"run_name={RUN_NAME}")
    first, n = frames.start, len(frames)
    rows = np.zeros(n, np.int64)
    complete = np.ones(n, bool)
    seq_lo = np.full(n, np.iinfo(np.int64).max)
    seq_hi = np.full(n, -1)
    outside = 0
    for name in sorted(os.listdir(run_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(run_dir, name)
        tally["files"] += 1
        tally["bytes"] += os.path.getsize(path)
        g = (
            pq.ParquetFile(path)
            .read(columns=["frame_number", "frame_seq", "frame_complete"])
            .group_by("frame_number")
            .aggregate([
                ("frame_number", "count"), ("frame_seq", "min"),
                ("frame_seq", "max"), ("frame_complete", "all"),
            ])
        )
        os.remove(path)
        f = g.column("frame_number").to_numpy() - first
        ok = (f >= 0) & (f < n)
        cnt = g.column("frame_number_count").to_numpy()
        outside += int(cnt[~ok].sum())
        f = f[ok]
        np.add.at(rows, f, cnt[ok])
        np.minimum.at(seq_lo, f, g.column("frame_seq_min").to_numpy()[ok])
        np.maximum.at(seq_hi, f, g.column("frame_seq_max").to_numpy()[ok])
        complete[f] &= g.column("frame_complete_all").to_numpy(zero_copy_only=False)[ok]
    # frame_seq is contiguous: frame k of the run is the run's k-th frame
    expect = np.arange(first, first + n)
    bad = (rows != ROWS_PER_FRAME) | ~complete | (seq_lo != expect) | (seq_hi != expect)
    out = [first + int(i) for i in np.flatnonzero(bad)]
    if outside:
        out.append(-1)  # rows of frames this phase never offered
    return int(rows.sum()) + outside, out, int((complete & (rows > 0)).sum())


def _setup(seed: int, workdir: str, traced: bool, next_phase=None) -> _Door:
    """Generator + broker process, door, and a 64-frame warm-up;
    ``next_phase`` = (first, n) queues the first phase's encoding after
    it."""
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    door = _Door(seed, workdir, traced)
    try:
        door.encode(0, N_WARMUP)
        door.run_phase("closed", 32)
        door.wait_committed(range(N_WARMUP))
        if len(door.commit_t) != N_WARMUP:
            raise RuntimeError("warm-up frames did not commit")
        if next_phase is not None:
            door.encode(*next_phase)
    except BaseException:
        door.close()
        raise
    return door


def run(seed: int, seconds: int, traced: bool, workdir: str) -> dict:
    """``seconds`` is not used: the phases are sized in frames and take
    about 30 s together."""
    del seconds
    phases = PHASES + ([("untraced", "closed", 32, 200)] if traced else [])
    setups, gen_ready = [], []
    door = None
    for k in range(SETUPS):
        if door is not None:
            door.close()
        t0 = time.monotonic()
        door = _setup(seed, os.path.join(workdir, f"setup{k}"), traced,
                      (N_WARMUP, phases[0][3]) if k + 1 == SETUPS else None)
        setups.append(time.monotonic() - t0)
        gen_ready.append(door.ready_s)
    tracer = Tracer()
    undo = _patch_decode(door.decode_log) if traced else None
    by_phase: dict[str, list[dict]] = {}
    attempted = failed = total_rows = 0
    tally = {"files": 0, "bytes": 0}
    try:
        _check_sink(door.sink, range(N_WARMUP), tally)
        first = N_WARMUP
        for i, (name, kind, arg, n) in enumerate(phases):
            if name == "untraced":
                undo()
                undo = None
                door.consumer.log = None
            frames = range(first, first + n)
            c0, p0 = len(door.writer.commit_log), len(door.writer.poll_log)
            k0, d0, m0 = len(door.poll_log), len(door.decode_log), len(door.commit_calls)
            nxt = (first + n, phases[i + 1][3]) if i + 1 < len(phases) else None
            due, late = door.run_phase(kind, arg)
            door.wait_committed(frames)
            if nxt is not None:
                door.encode(*nxt)
            rows, bad, n_complete = _check_sink(door.sink, frames, tally)
            with door.lock:
                commit_t = {f: door.commit_t.get(f) for f in frames}
                bad = set(bad) | {f for f in frames if door.commit_n.get(f) != 1}
                calls = door.commit_calls[m0:]
            commits, polls = door.writer.commit_log[c0:], door.writer.poll_log[p0:]
            st = _phase_stats(
                due, late, commit_t, frames, commits, polls,
                door.poll_log[k0:], door.decode_log[d0:],
            )
            st["layers"]["fetchloop.complete_ratio"] = (
                n_complete / max(1, sum(c["n_frames"] for c in commits)), "ratio")
            by_phase.setdefault(name, []).append(st)
            if name != "untraced":
                attempted += n
                failed += len(bad)
                total_rows += rows
                if traced:
                    _spans(tracer, name, due, commit_t, frames,
                           door.poll_log[k0:], door.decode_log[d0:], commits, calls)
            first += n
        rss = peak_rss_mb()
    finally:
        if undo is not None:
            undo()
        door.close()
    layers = {}
    if traced:
        # the batch DAQ chain's layers (batch_daq is not a workload of
        # BENCHMARK.json): one layered pass, after the door is closed
        import batch_daq

        attempted += 1
        failed += not batch_daq.daq_layers(seed, workdir, layers, tracer)

    stats = {name: _combine(sts) for name, sts in by_phase.items()}
    closed = stats["closed"]
    e2e = {
        "setup_s": (median(setups), "s"),
        "wall_s": (closed["wall_s"], "s"),
        "latency_p50_ms": (stats["r50"]["p50_ms"], "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    human = {}
    for ph in ("r50", "closed"):
        human[f"latency_p50_ms.{ph}"] = (stats[ph]["p50_ms"], "ms")
        human[f"latency_p99_ms.{ph}"] = (stats[ph]["p99_ms"], "ms")
        human[f"frames.{ph}"] = (len(stats[ph]["lat"]), "count")
    human["max_fps"] = (closed["fps"], "1/s")
    human["failed_share"] = (failed / attempted, "ratio")
    human["rows_landed"] = (total_rows, "count")

    if traced:
        for ph in ("r50", "closed"):
            for k, v in stats[ph]["layers"].items():
                layers[f"{k}.{ph}"] = v
        layers["generator.setup_s"] = (median(gen_ready), "s")
        layers["max_fps"] = (closed["fps"], "1/s")
        layers["trace.overhead_s"] = (
            closed["wall_s"] - stats["untraced"]["wall_s"], "s")
        layers["nexus_sink.files"] = (tally["files"], "count")
        layers["nexus_sink.mb_written"] = (tally["bytes"] / 1e6, "MB")
    return {
        "correct": failed == 0 and total_rows == sum(p[3] for p in PHASES) * ROWS_PER_FRAME,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "human": human,
        "tracer": tracer,
    }


def _combine(sts: list[dict]) -> dict:
    """Repeats of one phase: latency percentiles over all their frames,
    every other figure the median over the repeats."""
    if len(sts) == 1:
        return sts[0]
    lat = [x for st in sts for x in st["lat"]]
    layers = {
        k: (median([st["layers"][k][0] for st in sts]), unit)
        for k, (_v, unit) in sts[0]["layers"].items()
    }
    p50, p99 = (pctl(lat, 50), pctl(lat, 99)) if lat else (float("nan"),) * 2
    layers["latency_p50_ms"] = (p50, "ms")
    layers["latency_p99_ms"] = (p99, "ms")
    return {
        "lat": lat,
        "p50_ms": p50,
        "p99_ms": p99,
        "wall_s": median([st["wall_s"] for st in sts]),
        "fps": median([st["fps"] for st in sts]),
        "layers": layers,
    }


def _phase_stats(due, late, commit_t, frames, commits, polls, kpolls,
                 decodes) -> dict:
    lat = [
        (commit_t[f] - due[k]) * 1000.0
        for k, f in enumerate(frames) if commit_t.get(f) is not None
    ]
    done = sorted(t for t in commit_t.values() if t is not None)
    wall = (done[-1] - due[0]) if done else float("nan")
    # backlog = frames offered (due) minus frames committed, every 100 ms
    xs, ys = [], []
    t = due[0]
    while t <= (done[-1] if done else due[-1]):
        xs.append(t - due[0])
        ys.append(bisect.bisect_right(due, t) - bisect.bisect_right(done, t))
        t += 0.1
    nonempty = [p[2] for p in kpolls if p[2] > 0]
    dec_s = sum(d[1] - d[0] for d in decodes)
    msgs = sum(d[2] for d in decodes)

    def p50(key, scale=1000.0):
        vals = [c[key] * scale for c in commits]
        return median(vals) if vals else 0.0

    layers = {
        "kafka.polls": (len(kpolls), "count"),
        "kafka.records_per_poll_p50": (median(nonempty) if nonempty else 0.0, "count"),
        "kafka.poll_ms_p50": (
            median([(p[1] - p[0]) * 1000 for p in kpolls]) if kpolls else 0.0, "ms"),
        "kafka.backlog_frames_max": (max(ys) if ys else 0, "count"),
        "kafka.backlog_slope_frames_per_s": (slope(xs, ys), "1/s"),
        "decode.msgs": (msgs, "count"),
        "decode.us_per_msg": (dec_s / msgs * 1e6 if msgs else 0.0, "us"),
        "decode.busy_share": (dec_s / wall if wall else 0.0, "ratio"),
        "fetchloop.busy_share": (sum(p["process_s"] for p in polls) / wall, "ratio"),
        "fetchloop.commits": (len(commits), "count"),
        "fetchloop.frames_per_commit_p50": (p50("n_frames", 1.0), "count"),
        "fetchloop.commit_ms_p50": (p50("total_s"), "ms"),
        "fetchloop.stage_ms_p50": (p50("parts_s"), "ms"),
        "fetchloop.intent_ms_p50": (p50("intent_s"), "ms"),
        "fetchloop.publish_ms_p50": (p50("publish_s"), "ms"),
        "generator.late_p99_ms": (pctl(late, 99) * 1000.0, "ms"),
        "latency_p50_ms": (pctl(lat, 50) if lat else float("nan"), "ms"),
        "latency_p99_ms": (pctl(lat, 99) if lat else float("nan"), "ms"),
    }
    return {
        "lat": lat,
        "p50_ms": layers["latency_p50_ms"][0],
        "p99_ms": layers["latency_p99_ms"][0],
        "wall_s": wall,
        "fps": len(frames) / wall if wall else 0.0,
        "layers": layers,
    }


def _spans(tracer, phase, due, commit_t, frames, kpolls, decodes, commits,
           calls) -> None:
    """A frame span (due -> commit) per frame; under it the poll, decode
    and commit spans of the door loop.  A poll carries no frame id (its
    records are not decoded yet); decode and commit spans are recorded
    once per frame they carried, with that frame's id."""
    for k, f in enumerate(frames):
        if commit_t.get(f) is not None:
            tracer.add("frame", f, due[k], commit_t[f], None, phase=phase)
    for i, (t0, t1, n) in enumerate(kpolls):
        tracer.add("kafka.poll", f"{phase}@{frames.start}-poll{i}", t0, t1,
                   "frame", records=n)
    for t0, t1, n, fr in decodes:
        for f in fr:
            tracer.add("decode", f, t0, t1, "frame", msgs=n)
    # every dispatch that matched a run logs one commit entry and then
    # calls on_commit, so the two sequences pair up in order
    for c, (t, fr) in zip(commits, calls):
        for f in fr:
            tracer.add("fetchloop.commit", f, t - c["total_s"], t, "frame",
                       stage_s=c["parts_s"], intent_s=c["intent_s"],
                       publish_s=c["publish_s"])
