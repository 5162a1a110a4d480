"""Direct micro-batch NeXus door: dev2 messages -> per-run Parquet with
frame assembly FUSED into the sink's ``foreachBatch``.

The production topology (frame_assembly_stream + nexus_stream) runs the
frame FSM as ``applyInPandasWithState``; round 7's floor decomposition
measured ~0.58 s of every micro-batch as fixed stateful-operator
machinery (Python state-server round-trips + ProcessingTimeTimeout
re-arm) plus the FSM's shuffle on the frame key, and round 8's
``transformWithStateInPandas`` A/B showed the newer operator pays more,
not less (tools/AB_FSM_RESULT.json).  This door removes the stateful
operator entirely: the reference's digitiser-aggregator holds its
partial-frame cache in plain process memory
(digitiser-aggregator/src/frame/cache.rs) — bounded by
(frames-in-flight x frame size), a function of TTL x frame rate, NOT of
stream length — so the Spark-idiomatic equivalent is driver-held state
inside ``foreachBatch``, exactly the pattern the repo's ingest front
doors already use for their admission indexes.

Per micro-batch this door runs TWO narrow Spark jobs, no shuffle:

1. a SLIM per-message collect (frame key + digitiser id + veto +
   event count — never the arrays): the driver merges it into the
   partial-frame cache and decides, per frame, dispatch-complete /
   dispatch-expired / keep / reject-duplicate / reject-tombstoned —
   the same FSM as frame_assembly_stream.make_update_fn
   (frame/partial.rs:30-94, cache.rs:55-74), its dispatch rule
   ``frame_core.pick_dispatch``;
2. the event write: the decorated frame dimension (run matching, veto
   OR, frame_seq, event_time_zero, event_index — all driver-side, via
   ``frame_core.match_runs`` as in every door) goes back as a local relation
   that the batch's cached message rows broadcast-join and posexplode
   through, appended straight into the run's partition directory.

A frame whose messages split across a batch boundary has its
already-arrived rows pulled driver-side (bounded: <= digitisers x
events/frame per in-flight frame, AND by ``pending_max_bytes`` — when
event density makes the TTL bound too loose, the oldest pending frames
dispatch incomplete-early, the reference's memory-pressure posture for
a partial frame) and re-joined as a local relation when the frame
dispatches.  Crash recovery: the cache (slim state +
carried rows + continuation totals + last batch id) persists to a
``_assembler_state`` sidecar under the sink after every batch
(tmp+rename), so a replayed batch id short-circuits instead of
re-appending (T5; run_engine/engine.rs:144-173 re-derivation remains
the fallback when the sidecar is absent).  The crash window between
the sink append and the sidecar write is closed by a WRITE-AHEAD
INTENT: each batch records (bid, pre-batch totals) before mutating
anything, and recovery compares sink-derived totals against the
intent's to decide whether the append landed (adopt actuals and
short-circuit the engine's replay) or not (drop the intent and let the
replay redo the batch) — exactly-once sink effects under replay, which
the FSM door (whose parquet append is not transactional with the state
store) documents only as at-least-once with compact_nexus_run as the
dedupe backstop.

Object-store posture of the sidecar: state.json / intent.json /
pending_rows.parquet are each ONE small file written whole via
tmp+os.replace — the rename exists only so a POSIX reader can never see
a partial file.  On S3-style stores the equivalent is a single PUT
(atomic per key), so the protocol ports without a rename primitive —
unlike directory swaps, which is why index maintenance needed the
pointer-file protocol (plans/index_maintenance.py) and this sidecar
does not.

Silent-stream TTL expiry (T1): batch-time expiry alone would let a
pending incomplete frame wait indefinitely on a source that goes
silent (Spark does not run no-data micro-batches for a stateless
foreachBatch plan).  The door therefore carries a driver-side expiry
ticker: ``expire_pending()`` dispatches TTL-expired frames from the
driver-held carried rows alone — every pending frame's admitted rows
are already in ``_pending_rows`` (pulled the batch they arrived), so
the tick needs no batch input, only a local-relation write.  A daemon
ticker thread (``start_expiry_timer``, wired by ``write_nexus_direct``)
fires it between batches under the same lock that serializes
``foreachBatch`` calls, restoring the FSM door's timer guarantee
(ProcessingTimeTimeout, frame/partial.rs:30-40 — expiry anchored to
first arrival) on the production door.  Tick writes get their own
write-ahead intent carrying the expired keys, so a crash between the
tick's append and its state save is recovered exactly-once too (see
``_load_state``).
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache_conf import uncompressed_cache
from .frame_core import FrameState, is_complete, is_due, match_runs, pick_dispatch
from .nexus_stream import (
    _DIM_SCHEMA, _append_runs, _events_us_with_dim, _RunsDimension,
    _totals_from_sink,
)

_KEY_US = ["ts_us", "period_number", "protons_per_pulse", "running", "frame_number"]

_MSG_US_SCHEMA = (
    "ts_us long, period_number long, protons_per_pulse int, running boolean, "
    "frame_number long, digitizer_id int, veto_flags int, "
    "channel array<int>, event_time array<bigint>, event_voltage array<double>"
)

_NULL_ROW_SCHEMA = (
    "frame_seq long, event_time_zero long, event_index long, "
    "period_number long, frame_number long, frame_complete boolean, "
    "running boolean, veto_flags int, "
    "event_time_offset long, event_id int, pulse_height double"
)


class DirectNexusWriter(_RunsDimension):
    """The fused foreachBatch callable over a dev2 MESSAGE stream
    (DIGITISER_MESSAGE_SCHEMA rows)."""

    def __init__(
        self,
        runs: DataFrame,
        path: str,
        expected_digitizers: list[int],
        frame_ttl_ms: int = 500,
        tombstone_ttl_ms: int = 2000,
        state_dir: str | None = None,
        on_commit=None,
        clock=time.time,
        pending_max_bytes: int = 256 << 20,
    ):
        super().__init__(runs)
        self.path = path
        self.expected = sorted(int(d) for d in expected_digitizers)
        self.frame_ttl_ms = frame_ttl_ms
        self.tombstone_ttl_ms = tombstone_ttl_ms
        self.state_dir = state_dir or os.path.join(path, "_assembler_state")
        self.on_commit = on_commit
        self.clock = clock
        # same observability contract as NexusStreamWriter: fsm_s here is
        # the slim collect + driver FSM, write_s the event append
        self.phase_log: list | None = None
        self._loaded = False
        self._last_bid: int | None = None
        self._totals: dict[str, tuple[int, int]] = {}
        self._pending: dict[tuple, FrameState] = {}
        self._pending_rows: dict[tuple, list[tuple]] = {}
        # byte budget for the carried rows (the one driver-side cache
        # that scales with event DENSITY, not just frames-in-flight);
        # overflow dispatches the oldest pending frames incomplete-early
        self.pending_max_bytes = pending_max_bytes
        self._pending_bytes = 0
        self._tombstones: dict[tuple, int] = {}
        # silent-stream expiry: the ticker and the batch path serialize
        # on this lock; _spark is captured on the first batch so a tick
        # can build its local-relation write without a batch in hand
        self._lock = threading.RLock()
        self._spark: SparkSession | None = None
        self._timer_stop: threading.Event | None = None
        self._timer_thread: threading.Thread | None = None
        self.timer_error: BaseException | None = None

    # ---- state sidecar ----
    def _state_file(self) -> str:
        return os.path.join(self.state_dir, "state.json")

    def _rows_file(self) -> str:
        return os.path.join(self.state_dir, "pending_rows.parquet")

    def _intent_file(self) -> str:
        return os.path.join(self.state_dir, "intent.json")

    def _load_state(self, spark: SparkSession) -> None:
        if self._loaded:
            return
        self._loaded = True
        self._read_state_file(spark)
        # write-ahead intent recovery: an intent file survives a crash in
        # the window between the sink append and the post-batch state
        # save.  The intent carries the PRE-batch totals, so comparing
        # them against sink-derived actual totals discriminates whether
        # the append landed: different -> it did (adopt actuals, mark the
        # batch done so the engine's replay short-circuits); equal -> it
        # didn't (drop the intent, the replay redoes the batch).  This
        # closes the duplicate-append replay window the FSM door
        # documents as at-least-once.  Corner left open (documented): a
        # committed-then-crashed batch's effects on the PENDING cache
        # (carried rows, fresh tombstones) are lost with the process —
        # the same information the reference's aggregator loses when its
        # in-memory cache dies.
        itf = self._intent_file()
        if os.path.isfile(itf):
            with open(itf) as fh:
                intent = json.load(fh)
            if intent.get("tick"):
                # expiry-tick intent (expire_pending): same discriminator,
                # but the batch-replay short-circuit doesn't apply — the
                # engine never replays a tick — so the intent carries the
                # expired keys and the recovery FINISHES the tick's state
                # effects itself when the append landed (drop from
                # pending, tombstone, adopt actual totals); when it
                # didn't, pending stays intact and the next tick or
                # batch re-dispatches.
                pre = {k: tuple(v) for k, v in intent["totals"].items()}
                actual = _totals_from_sink(spark, self.path)
                if actual != pre:
                    self._totals = actual
                    for kl in intent["expired_keys"]:
                        key = tuple(kl)
                        self._pending.pop(key, None)
                        self._pop_rows(key)
                        self._tombstones[key] = intent["tomb_until"]
            elif self._last_bid is None or intent["bid"] > self._last_bid:
                pre = {k: tuple(v) for k, v in intent["totals"].items()}
                actual = _totals_from_sink(spark, self.path)
                if actual != pre:
                    self._totals = actual
                    self._last_bid = intent["bid"]
                else:
                    self._totals = pre
            os.remove(itf)

    def _read_state_file(self, spark: SparkSession) -> None:
        sf = self._state_file()
        if os.path.isfile(sf):
            with open(sf) as fh:
                st = json.load(fh)
            self._last_bid = st["last_bid"]
            self._totals = {k: tuple(v) for k, v in st["totals"].items()}
            for p in st["pending"]:
                key = tuple(p["key"])
                fs = FrameState(p["first_ms"])
                fs.dids = set(p["dids"])
                fs.veto = p["veto"]
                fs.n_events = p["n"]
                self._pending[key] = fs
            self._tombstones = {tuple(t[0]): t[1] for t in st["tombstones"]}
            rf = self._rows_file()
            if os.path.isfile(rf):
                import pyarrow.parquet as pq

                for row in pq.read_table(rf).to_pylist():
                    key = (
                        row["ts_us"], row["period_number"],
                        row["protons_per_pulse"], row["running"],
                        row["frame_number"],
                    )
                    self._pending_rows.setdefault(key, []).append(
                        (
                            *key, row["digitizer_id"], row["veto_flags"],
                            row["channel"], row["event_time"],
                            row["event_voltage"],
                        )
                    )
                self._pending_bytes = sum(
                    self._rows_nbytes(rs) for rs in self._pending_rows.values()
                )
            return
        # no sidecar: re-derive continuation totals from the sink itself
        # (the reference reopens an orphaned .nxs and reads sizes back)
        self._totals = _totals_from_sink(spark, self.path)

    def _save_state(self) -> None:
        os.makedirs(self.state_dir, exist_ok=True)
        st = {
            "last_bid": self._last_bid,
            "totals": {k: list(v) for k, v in self._totals.items()},
            "pending": [
                {
                    "key": list(k),
                    "dids": sorted(fs.dids),
                    "veto": fs.veto,
                    "first_ms": fs.first_ms,
                    "n": fs.n_events,
                }
                for k, fs in self._pending.items()
            ],
            "tombstones": [[list(k), e] for k, e in self._tombstones.items()],
        }
        tmp = self._state_file() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(st, fh)
        os.replace(tmp, self._state_file())
        rf = self._rows_file()
        if self._pending_rows:
            import pyarrow as pa
            import pyarrow.parquet as pq

            names = [
                "ts_us", "period_number", "protons_per_pulse", "running",
                "frame_number", "digitizer_id", "veto_flags",
                "channel", "event_time", "event_voltage",
            ]
            types = [
                pa.int64(), pa.int64(), pa.int32(), pa.bool_(), pa.int64(),
                pa.int32(), pa.int32(), pa.list_(pa.int32()),
                pa.list_(pa.int64()), pa.list_(pa.float64()),
            ]
            rows = [r for rs in self._pending_rows.values() for r in rs]
            cols = list(zip(*rows))
            tbl = pa.table(
                {n: pa.array(list(c), type=t) for n, c, t in zip(names, cols, types)}
            )
            pq.write_table(tbl, rf + ".tmp")
            os.replace(rf + ".tmp", rf)
        elif os.path.isfile(rf):
            os.remove(rf)

    # ---- the batch ----
    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if self.timer_error is not None:
            # a background expiry tick failed: surface it through the
            # engine (fail the query) instead of leaving it polled-only
            err, self.timer_error = self.timer_error, None
            raise RuntimeError("expiry ticker failed; see cause") from err
        with self._lock:
            self._spark = batch.sparkSession
            self._run_batch(batch, batch_id)
            # AFTER the batch protocol completes (its intent consumed):
            # an overflow dispatch is then an ordinary tick, so a crash
            # inside it recovers through the tick-intent path
            self._enforce_pending_budget()

    def _run_batch(self, batch: DataFrame, batch_id: int) -> None:
        t_start = time.perf_counter()
        spark = batch.sparkSession
        self._load_state(spark)
        if self._last_bid is not None and batch_id <= self._last_bid:
            # replayed batch: its append already committed before the crash
            if self.on_commit is not None:
                self.on_commit([])
            return
        now_ms = int(self.clock() * 1000)

        # write-ahead intent: BEFORE any driver-state mutation or sink
        # write, record (batch id, pre-batch totals) so a crash anywhere
        # in this call is recoverable without a duplicate append (see
        # _load_state).  One ~KB tmp+rename per batch.
        os.makedirs(self.state_dir, exist_ok=True)
        itmp = self._intent_file() + ".tmp"
        with open(itmp, "w") as fh:
            json.dump(
                {
                    "bid": batch_id,
                    "totals": {k: list(v) for k, v in self._totals.items()},
                },
                fh,
            )
        os.replace(itmp, self._intent_file())

        msgs = batch.select(
            F.unix_micros("ts").alias("ts_us"),
            *_KEY_US[1:],
            "digitizer_id", "veto_flags",
            "channel", "event_time", "event_voltage",
        )
        # the per-batch micro-cache lives for ONE cycle (< 2 s):
        # columnar compression of the event arrays is pure CPU on both
        # the build and the two cache-hit jobs (measured ~55 + 15 ms per
        # 54-frame batch at 32x500).  Depth-counted context manager:
        # exception-safe and correct when another writer interleaves in
        # the same session (see streaming/cache_conf.py)
        comp_ctx = uncompressed_cache(spark)
        comp_ctx.__enter__()
        n_frames_committed: list[int] = []
        try:
            msgs.persist()
            # job 1: slim collect — key + did + veto + count, never arrays
            slim = msgs.select(
                *_KEY_US, "digitizer_id", "veto_flags",
                F.size("channel").alias("n"),
            ).collect()
            # deterministic FSM order; the duplicate winner is the row
            # minimizing (n, veto_flags) — see _clean's window rule
            slim.sort(key=lambda r: (
                r.ts_us, r.frame_number, r.digitizer_id, r.n, r.veto_flags,
            ))
            cross_rejects: set[tuple] = set()   # (key, did): did arrived in a PRIOR batch
            dup_in_batch = False
            seen_batch: set[tuple] = set()
            for r in slim:
                key = (
                    r.ts_us, r.period_number, r.protons_per_pulse,
                    r.running, r.frame_number,
                )
                if key in self._tombstones:
                    # late message after dispatch: reject, re-arm tombstone
                    # (frame/cache.rs:55-63)
                    self._tombstones[key] = now_ms + self.tombstone_ttl_ms
                    continue
                fs = self._pending.get(key)
                if fs is None:
                    fs = self._pending[key] = FrameState(now_ms)
                kd = (key, int(r.digitizer_id))
                if int(r.digitizer_id) in fs.dids:
                    # duplicate (frame, digitiser) message: reject wholesale
                    # (frame/cache.rs:71-74)
                    if kd in seen_batch:
                        dup_in_batch = True
                    else:
                        cross_rejects.add(kd)
                    continue
                seen_batch.add(kd)
                fs.dids.add(int(r.digitizer_id))
                fs.veto |= int(r.veto_flags)
                fs.n_events += int(r.n)

            dispatch = pick_dispatch(
                self._pending, self._tombstones, self.expected, now_ms,
                self.frame_ttl_ms, self.tombstone_ttl_ms,
            )
            t_fsm = time.perf_counter()

            dim_vals, null_rows, per_run, dispatched_keys, frames = (
                self._match_runs(dispatch)
            )
            n_frames_committed.extend(frames)

            if dim_vals:
                self._write(
                    spark, msgs, dim_vals, null_rows, per_run,
                    dispatched_keys, cross_rejects, dup_in_batch,
                )
                self._totals.update(per_run)
            # every dispatched frame's carried rows are done with — also
            # the ones matching no run (they are dropped, not written)
            for key, _fs in dispatch:
                self._pop_rows(key)

            # carry rows of still-pending frames driver-side (bounded by
            # frames-in-flight x frame size — the reference's cache bound).
            # Only frames that received rows THIS batch need a pull; a
            # frame merely waiting out its TTL must not cost a job per
            # intervening batch.
            touched = {
                k for (k, _d) in seen_batch if k in self._pending
            }
            if touched:
                self._pull_kept_rows(msgs, touched, cross_rejects, dup_in_batch)
            t_write = time.perf_counter()
        finally:
            msgs.unpersist()
            comp_ctx.__exit__(None, None, None)

        self._last_bid = batch_id
        self._save_state()
        if os.path.isfile(self._intent_file()):
            os.remove(self._intent_file())
        if self.phase_log is not None:
            self.phase_log.append(
                {
                    "batch_id": batch_id,
                    "n_frames": len(set(n_frames_committed)),
                    "fsm_s": round(t_fsm - t_start, 4),
                    "write_s": round(t_write - t_fsm, 4),
                    "sink_s": round(time.perf_counter() - t_start, 4),
                }
            )
        if self.on_commit is not None:
            self.on_commit(sorted(set(n_frames_committed)))

    def _match_runs(self, dispatch):
        """frame_core.match_runs over a dispatch set, decorated for the
        write — shared by the batch path and the expiry tick.  Mutates
        nothing; returns (dim_vals, null_rows, per_run, dispatched_keys,
        frame_numbers)."""
        assigned, per_run = match_runs(
            [(key, fs.n_events) for key, fs in dispatch],
            self._load_runs(), self._totals,
        )
        dim_vals = []
        null_rows = []  # zero-event frames: ONE null-event row each
        dispatched_keys = set()
        frames: list[int] = []
        for run_name, pos, seq, etz, idx in assigned:
            key, fs = dispatch[pos]
            complete = is_complete(fs.dids, self.expected)
            dim_vals.append(
                (*key, run_name, fs.veto, complete, seq, etz, idx)
            )
            if fs.n_events == 0:
                null_rows.append(
                    (
                        run_name, seq, etz, idx, key[1], key[4], complete,
                        key[3], fs.veto, None, None, None,
                    )
                )
            dispatched_keys.add(key)
            frames.append(int(key[4]))
        return dim_vals, null_rows, per_run, dispatched_keys, frames

    # ---- silent-stream TTL expiry (T1) ----
    def expire_pending(self) -> list[int]:
        """Dispatch TTL-expired pending frames WITHOUT a micro-batch —
        the timer guarantee for a source that goes silent.  Every
        pending frame's admitted rows are already driver-side (pulled
        into ``_pending_rows`` the batch they arrived), so the write is
        a pure local-relation append.  Serialized against the batch
        path by the writer lock; returns the dispatched frame numbers.

        Crash safety mirrors the batch path: a tick that will touch the
        sink first records a write-ahead intent carrying the expired
        keys (the engine never replays a tick, so recovery must be able
        to FINISH the tick's state effects itself — see _load_state)."""
        with self._lock:
            if self._spark is None or not self._loaded or not self._pending:
                return []
            now_ms = int(self.clock() * 1000)
            dispatch = [
                (k, fs)
                for k, fs in self._pending.items()
                if is_due(fs, self.expected, now_ms, self.frame_ttl_ms)
            ]
            if not dispatch:
                return []
            return self._dispatch_pending(dispatch, now_ms)

    def _dispatch_pending(self, dispatch, now_ms: int) -> list[int]:
        """Tick-protocol dispatch of already-pending frames from the
        driver-held carried rows alone (no batch input): write-ahead
        intent -> local-relation append -> state save.  Shared by TTL
        expiry and the pending-cache byte budget (call under _lock,
        after _load_state, with _spark set)."""
        spark = self._spark
        dim_vals, null_rows, per_run, dispatched_keys, frames = (
            self._match_runs(dispatch)
        )
        tomb_until = now_ms + self.tombstone_ttl_ms
        if dim_vals:
            os.makedirs(self.state_dir, exist_ok=True)
            itmp = self._intent_file() + ".tmp"
            with open(itmp, "w") as fh:
                json.dump(
                    {
                        "bid": self._last_bid,
                        "tick": True,
                        "totals": {
                            k: list(v) for k, v in self._totals.items()
                        },
                        "expired_keys": [list(k) for k in dispatched_keys],
                        "tomb_until": tomb_until,
                    },
                    fh,
                )
            os.replace(itmp, self._intent_file())
            self._write(
                spark, None, dim_vals, null_rows, per_run,
                dispatched_keys, set(), False,
            )
            self._totals.update(per_run)
        for key, _fs in dispatch:
            self._pending.pop(key, None)
            self._pop_rows(key)
            self._tombstones[key] = tomb_until
        self._save_state()
        itf = self._intent_file()
        if os.path.isfile(itf):
            os.remove(itf)
        out = sorted(set(frames))
        if self.on_commit is not None and out:
            self.on_commit(out)
        return out

    # ---- pending-cache byte budget ----
    @staticmethod
    def _rows_nbytes(rows) -> int:
        """Approximate driver-memory cost of carried rows: ~20 payload
        bytes per event (int32 channel + int64 time + float64 voltage)
        plus per-row object overhead.  A budget estimator, not an
        accountant — what matters is that it scales with event count."""
        return sum(80 + 20 * len(r[7]) for r in rows)

    def _pop_rows(self, key) -> None:
        rows = self._pending_rows.pop(key, None)
        if rows:
            self._pending_bytes -= self._rows_nbytes(rows)

    def _enforce_pending_budget(self) -> list[int]:
        """Dispatch-incomplete-early when the carried rows exceed
        ``pending_max_bytes`` (call under _lock, after a batch).  The
        TTL bound alone is rows-per-frame-dependent: at 100x event
        density the same frames-in-flight hold 100x the rows, unbounded
        by anything (VERDICT r10 next #5).  Overflow semantics are the
        reference's memory-pressure posture for a partial frame
        (frame/partial.rs:30-40 — a frame may dispatch incomplete;
        late messages then hit its tombstone), i.e. the TTL effectively
        shortens under pressure, oldest frames first."""
        if self._pending_bytes <= self.pending_max_bytes:
            return []
        victims = sorted(
            (
                (k, fs)
                for k, fs in self._pending.items()
                if k in self._pending_rows
            ),
            key=lambda kv: kv[1].first_ms,
        )
        dispatch = []
        projected = self._pending_bytes
        for key, fs in victims:
            if projected <= self.pending_max_bytes:
                break
            dispatch.append((key, fs))
            projected -= self._rows_nbytes(self._pending_rows[key])
        if not dispatch:
            return []
        return self._dispatch_pending(dispatch, int(self.clock() * 1000))

    def start_expiry_timer(
        self, interval_s: float | None = None, alive=None
    ) -> None:
        """Daemon ticker firing ``expire_pending`` so the production door
        is never weaker than the FSM door's ProcessingTimeTimeout.  The
        default cadence (TTL/4, floor 50 ms) bounds expiry lag on a
        silent stream to TTL + cadence.  Idle cost is one Event.wait —
        no Spark job runs unless a frame actually expired.

        ``alive`` (optional zero-arg callable) ties the ticker's lifetime
        to the owning StreamingQuery: when it returns falsy the loop
        exits on its own, so a query that dies on an error (or is
        stopped without ``stop_expiry_timer``) cannot leave a ticker
        appending expired frames to a dead stream's sink.  A tick
        failure is retained in ``timer_error`` AND re-raised into the
        next micro-batch (failing the query, Spark's error surface) —
        it is never silently swallowed."""
        if self._timer_stop is not None:
            return
        stop = threading.Event()
        self._timer_stop = stop
        iv = (
            interval_s
            if interval_s is not None
            else max(self.frame_ttl_ms / 4000.0, 0.05)
        )

        def _loop():
            while not stop.wait(iv):
                if alive is not None:
                    try:
                        ok = alive()
                    except BaseException:  # session torn down mid-check
                        ok = False
                    if not ok:
                        break
                try:
                    self.expire_pending()
                except BaseException as e:  # noqa: BLE001 — surfaced via timer_error
                    self.timer_error = e

        t = threading.Thread(
            target=_loop, daemon=True, name="nexus-direct-expiry"
        )
        t.start()
        self._timer_thread = t

    def stop_expiry_timer(self) -> None:
        if self._timer_stop is not None:
            self._timer_stop.set()
            if self._timer_thread is not None:
                self._timer_thread.join(timeout=10)
            self._timer_stop = None
            self._timer_thread = None

    # ---- helpers ----
    def _clean(self, msgs: DataFrame, cross_rejects, dup_in_batch) -> DataFrame:
        """Apply the (rare) duplicate-rejection transforms to the batch's
        message rows.  Cross-batch rejects anti-join a tiny local
        relation; within-batch duplicates keep the row minimizing
        (size(channel), veto_flags) — deterministic and, for the
        redelivery case (identical payloads), value-identical to the
        FSM's arbitrary first-wins."""
        out = msgs
        if cross_rejects:
            rej = msgs.sparkSession.createDataFrame(
                [(*k, d) for k, d in cross_rejects],
                "ts_us long, period_number long, protons_per_pulse int, "
                "running boolean, frame_number long, digitizer_id int",
            )
            out = out.join(
                F.broadcast(rej), [*_KEY_US, "digitizer_id"], "left_anti"
            )
        if dup_in_batch:
            from pyspark.sql import Window

            w = Window.partitionBy(*_KEY_US, "digitizer_id").orderBy(
                F.size("channel"), "veto_flags"
            )
            out = (
                out.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        return out

    def _pending_local(self, spark: SparkSession, keys) -> DataFrame | None:
        rows = [r for k in keys for r in self._pending_rows.get(k, [])]
        if not rows:
            return None
        return spark.createDataFrame(rows, _MSG_US_SCHEMA)

    def _write(
        self, spark, msgs, dim_vals, null_rows, per_run,
        dispatched_keys, cross_rejects, dup_in_batch,
    ) -> None:
        """Job 2: one broadcast-join + posexplode append
        (nexus_stream._append_runs).  ``msgs=None`` is the
        expiry-tick path: the event source is the driver-held carried
        rows alone (a local relation — no scan, no shuffle)."""
        single = len(per_run) == 1
        dim_local = spark.createDataFrame(dim_vals, _DIM_SCHEMA)
        ev_src = None
        if msgs is not None:
            ev_src = self._clean(msgs, cross_rejects, dup_in_batch).filter(
                F.size("channel") > 0
            )
        carried = self._pending_local(spark, dispatched_keys)
        if carried is not None:
            carried = carried.filter(F.size("channel") > 0)
            ev_src = (
                carried if ev_src is None else ev_src.unionByName(carried)
            )
        out = None
        if ev_src is not None:
            out = _events_us_with_dim(
                ev_src, dim_local, with_run_col=not single, outer=False
            )
            # a micro-batch otherwise emits ONE FILE PER SOURCE PARTITION
            # (~one per arrival file): bound the append's files to the
            # session's shuffle partitions, the per-batch file rate the
            # FSM door's state partitioning produces
            out = out.coalesce(
                int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
            )
        if null_rows:
            schema = _NULL_ROW_SCHEMA if single else (
                "run_name string, " + _NULL_ROW_SCHEMA
            )
            vals = [r[1:] for r in null_rows] if single else null_rows
            nr = spark.createDataFrame(vals, schema)
            out = nr if out is None else out.unionByName(nr)
        if out is not None:
            _append_runs(out, self.path, per_run)

    def _pull_kept_rows(self, msgs, keys, cross_rejects, dup_in_batch) -> None:
        """Collect the batch's rows belonging to still-pending frames
        (a frame split across a batch boundary — typically <= 1 frame).
        Stored driver-side and re-joined as a local relation when the
        frame dispatches.  ``keys``: the pending frames that received
        rows in THIS batch."""
        keys = list(keys)
        cond = None
        for k in keys:
            this = (
                (F.col("ts_us") == F.lit(k[0]))
                & (F.col("period_number") == F.lit(k[1]))
                & (F.col("protons_per_pulse") == F.lit(k[2]))
                & (F.col("running") == F.lit(k[3]))
                & (F.col("frame_number") == F.lit(k[4]))
            )
            cond = this if cond is None else (cond | this)
        pulled = self._clean(msgs, cross_rejects, dup_in_batch).filter(cond).collect()
        for r in pulled:
            key = (
                r.ts_us, r.period_number, r.protons_per_pulse,
                r.running, r.frame_number,
            )
            row = (
                *key, int(r.digitizer_id), int(r.veto_flags),
                list(r.channel), list(r.event_time), list(r.event_voltage),
            )
            self._pending_rows.setdefault(key, []).append(row)
            self._pending_bytes += self._rows_nbytes([row])


def write_nexus_direct(
    messages: DataFrame,
    runs: DataFrame,
    path: str,
    checkpoint: str,
    expected_digitizers: list[int],
    frame_ttl_ms: int = 500,
    tombstone_ttl_ms: int = 2000,
    trigger: dict | None = None,
    expiry_timer: bool = True,
    pending_max_bytes: int = 256 << 20,
):
    """Start the fused direct door over a dev2 message stream
    (DIGITISER_MESSAGE_SCHEMA).  Returns the StreamingQuery (with the
    writer attached as ``query.direct_writer``).

    ``expiry_timer`` keeps the silent-stream TTL guarantee on by
    default: a daemon ticker dispatches expired pending frames even
    when no micro-batch runs (a stateless foreachBatch plan gets no
    no-data batches).  The thread is daemonized and idles on one
    Event.wait; call ``query.direct_writer.stop_expiry_timer()`` on
    teardown for a deterministic join."""
    writer = DirectNexusWriter(
        runs, path, expected_digitizers, frame_ttl_ms, tombstone_ttl_ms,
        pending_max_bytes=pending_max_bytes,
    )
    q = messages.writeStream.foreachBatch(writer).option(
        "checkpointLocation", checkpoint
    )
    trig = trigger or {"availableNow": True}
    q = q.trigger(**trig)
    query = q.start()
    # finite triggers terminate with pending state parked (same as the
    # FSM door, whose timers also stop with the query) — a ticker that
    # outlived the query would mutate the sink after termination.  The
    # liveness probe below makes that guarantee unconditional: even if
    # the query dies on an error (or q.stop() without stop_expiry_timer),
    # the loop sees isActive go false and exits on its own.
    if expiry_timer and not (trig.get("availableNow") or trig.get("once")):

        def _alive() -> bool:
            try:
                return bool(query.isActive)
            except BaseException:  # session gone — definitely not alive
                return False

        writer.start_expiry_timer(alive=_alive)
    query.direct_writer = writer
    return query
