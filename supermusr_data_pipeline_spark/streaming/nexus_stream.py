"""Streaming NeXus sink: aev2 frame stream → per-run Parquet (S6/S7/T5).

The reference appends each assembled frame to the run's HDF5 file as it
arrives, maintaining two cumulative per-run datasets
(nexus-writer/src/nexus_structure/entry/event_data.rs:190-247):

- ``event_time_zero``: frame ts − run collect_from (ns) — stateless (P5);
- ``event_index``: running total of events in all PRIOR frames of the run —
  cumulative ACROSS micro-batches (A5).

``foreachBatch`` runs exactly TWO Spark actions per micro-batch: (1) the
stateful FSM subtree executes once into a cache and yields a SLIM per-frame
projection (no event arrays), from which run matching, frame sequencing, and
the continuation totals are computed driver-side (the runs table is a tiny
in-memory dimension, exactly as the reference's writer holds it); (2) the
decorated per-frame dimension goes back as a local relation that the cached
event arrays broadcast-join and explode through, inside the parquet append —
the only action that touches event data, written straight into the run's
partition directory.
The continuation totals are re-derived FROM THE SINK on restart — the same
crash-recovery move the reference makes when it reopens an orphaned .nxs file
and reads its sizes back (run_engine/engine.rs:144-173, T5); between batches
they ride in the writer object.

Scale notes: per-batch work is the batch operator (shuffle on run/frame key);
the continuation state is one (frame_seq, event_index) pair per ACTIVE run —
O(runs), kept on the driver, never the data path.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache_conf import uncompressed_cache
from .frame_core import match_runs, run_dir_name, runs_snapshot


_FRAME_KEY = ["ts", "period_number", "protons_per_pulse", "running", "frame_number"]
# the dimension round-trips through driver rows and back into a local
# relation; its join key uses INTEGER microseconds (unix_micros), never
# the timestamp itself — PySpark's datetime collect/createDataFrame
# conversion goes through the session-local timezone and drops the fold
# attribute, so in a non-UTC session a DST-ambiguous wall-clock instant
# would round-trip to a different microsecond and the broadcast join
# would silently drop those frames' events (ADVICE r7)
_JOIN_KEY = ["ts_us", "period_number", "protons_per_pulse", "running", "frame_number"]


def _slim_frames(frames_batch: DataFrame) -> DataFrame:
    """One row per frame, no event arrays — the ONLY thing the dimension
    pass pulls out of the stateful subtree.  Time is carried ONLY as
    ``ts_us`` integer microseconds: the raw timestamp never crosses the
    collect/createDataFrame boundary (see _JOIN_KEY note).

    n_events is greatest(size, 1): ``explode_outer`` keeps zero-event
    frames as one null-event row, and that row counts 1 toward
    ``event_index`` — the original exploded path's behavior."""
    return frames_batch.select(
        F.unix_micros("ts").alias("ts_us"),
        *_FRAME_KEY[1:],
        F.col("veto_flags").alias("frame_veto_flags"),
        "complete",
        F.greatest(F.size("channel"), F.lit(1)).cast("long").alias("n_events"),
    )


_DIM_SCHEMA = (
    "ts_us long, period_number long, protons_per_pulse int, running boolean, "
    "frame_number long, run_name string, frame_veto_flags int, complete boolean, "
    "frame_seq long, event_time_zero long, event_index long"
)


def _events_with_dim(
    frames_batch: DataFrame, dim: DataFrame, with_run_col: bool = True
) -> DataFrame:
    """Array rows + broadcast frame dimension -> NEXUS_EVENT_SCHEMA.  The
    decorated dimension broadcast-joins onto the array rows and events
    explode ONCE, already carrying their run columns — the event side
    never shuffles.  ``with_run_col=False`` drops run_name from the
    output (for a write that targets one run's partition directory
    directly, where the directory name carries the value).

    The join runs BEFORE any per-event expression, on the raw parallel
    arrays, and the explode is posexplode-of-one-array + element_at on
    the others: zipping 3 arrays into a struct array ahead of the join
    serialized 4000 structs per frame into every join row — measurably
    slower than indexing the primitive arrays after the fact.  The three
    arrays are always equal-length (one event per element, the aev2
    contract), so positional indexing is exact; posexplode_outer keeps
    the zero-event frame as one null row, as explode_outer did."""
    dim_cols = [
        "frame_seq",
        "event_time_zero",
        "event_index",
        "period_number",
        "frame_number",
        F.col("complete").alias("frame_complete"),
        "running",
        F.col("frame_veto_flags").alias("veto_flags"),
    ]
    if with_run_col:
        dim_cols.insert(0, F.col("run_name"))
    joined = (
        frames_batch.select(
            F.unix_micros("ts").alias("ts_us"),
            *_FRAME_KEY[1:],
            "channel", "event_time", "event_voltage",
        )
        .join(F.broadcast(dim), _JOIN_KEY)
        .select(
            *dim_cols,
            "event_time",
            "event_voltage",
            F.posexplode_outer("channel"),
        )
    )
    passthrough = (["run_name"] if with_run_col else []) + [
        "frame_seq",
        "event_time_zero",
        "event_index",
        "period_number",
        "frame_number",
        "frame_complete",
        "running",
        "veto_flags",
    ]
    return joined.select(
        *passthrough,
        F.element_at("event_time", F.col("pos") + 1)
        .cast("long")
        .alias("event_time_offset"),
        F.col("col").cast("int").alias("event_id"),
        F.element_at("event_voltage", F.col("pos") + 1)
        .cast("double")
        .alias("pulse_height"),
    )


def _append_runs(out: DataFrame, path: str, runs) -> None:
    """Append one batch's event rows (``runs``: the run names they
    belong to; ``out`` carries a run_name column only when there are
    several) to the sink, snappy-compressed: the sink appends on the
    latency path every batch (the reference's HDF5 run files are
    uncompressed — nexus_structure/mod.rs); compaction to zstd belongs
    to the downstream maintenance pass.

    A single-run batch — the overwhelmingly common case — writes the
    run's partition DIRECTORY directly, skipping the dynamic-partition
    machinery, whose per-task sort-by-partition-key and multi-directory
    commit were flat per-batch latency; the directory name carries
    run_name, so readers see exactly what partitionBy would have written.
    A batch spanning a run transition writes all its runs in ONE
    partitionBy job: independent per-run jobs opened a crash window in
    which the first run's append committed and the batch replay then
    re-appended it (ADVICE r7).  One job commits all runs or none."""
    w = out.write.mode("append").option("compression", "snappy")
    if len(runs) == 1:
        (run_name,) = runs
        w.parquet(os.path.join(path, run_dir_name(run_name)))
    else:
        w.partitionBy("run_name").parquet(path)


def _totals_from_sink(spark: SparkSession, path: str) -> dict[str, tuple[int, int]]:
    """T5 resume: each run's continuation totals re-derived from the sink
    itself — the reference reopens an orphaned .nxs and reads its sizes
    back (run_engine/engine.rs:144-173)."""
    totals: dict[str, tuple[int, int]] = {}
    if os.path.isdir(path) and any(
        n.startswith("run_name=") for n in os.listdir(path)
    ):
        prev = spark.read.parquet(path)
        for r in (
            prev.groupBy("run_name")
            .agg(
                (F.max("frame_seq") + 1).alias("next_seq"),
                F.count("*").alias("n_events"),
            )
            .collect()
        ):
            totals[r["run_name"]] = (int(r["next_seq"]), int(r["n_events"]))
    return totals


class NexusStreamWriter:
    """The foreachBatch callable.  Holds per-run continuation totals
    {run_name: (next_frame_seq, next_event_index)}; rebuilds them from the
    sink directory on first use (T5 resume).

    The runs dimension — the RUN_SCHEMA DataFrame — is collected once on
    first use.  The reference's nexus-writer holds the same table in
    memory (run_engine/engine.rs:54-80); re-broadcasting it inside every
    micro-batch's plan was a measurable flat cost on the latency path,
    and matching frames against it on the driver is trivial.

    Replay safety: a write-ahead INTENT file (bid + pre-batch totals,
    written just before each append, overwritten by the next — never
    removed, since removal would reopen a window before the engine's
    commit-log write) makes the sink append exactly-once under the
    engine's batch replay — on restart, sink-derived totals differing
    from the intent's prove the crashed batch's append landed, so its
    replay short-circuits (sidecar ``_writer_state``)."""

    def __init__(self, runs: DataFrame, path: str, on_commit=None):
        self.runs = runs
        self._runs_rows: list[dict] | None = None
        self.path = path
        # optional observer: called with the sorted frame_numbers committed
        # by each batch, AFTER the sink write — rides the slim dimension
        # rows the batch collects anyway, so observation adds no Spark
        # job.  The streaming envelope bench (bench_streaming.py) uses it
        # to stamp per-frame commit times.
        self.on_commit = on_commit
        # optional bucket log: when set to a list, each batch appends
        # {"batch_id", "n_frames", "fsm_s", "write_s", "sink_s"} — the
        # cycle decomposition bench_streaming publishes (two perf_counter
        # reads per batch; no Spark-side cost)
        self.phase_log: list | None = None
        self._totals: dict[str, tuple[int, int]] | None = None
        self._skip_bid: int | None = None

    def _load_runs(self) -> list[dict]:
        if self._runs_rows is None:
            self._runs_rows = runs_snapshot(self.runs)
        return self._runs_rows

    def refresh_runs(self, runs: DataFrame | None = None) -> None:
        """Drop the collected runs snapshot (optionally replacing the
        DataFrame) so the next batch re-collects it — the hook for a
        control plane that starts/stops runs while the sink is live."""
        if runs is not None:
            self.runs = runs
        self._runs_rows = None

    def _intent_file(self) -> str:
        return os.path.join(self.path, "_writer_state", "intent.json")

    def _load_totals(self, spark: SparkSession) -> dict[str, tuple[int, int]]:
        if self._totals is not None:
            return self._totals
        totals = _totals_from_sink(spark, self.path)
        itf = self._intent_file()
        if os.path.isfile(itf):
            # the intent persists across batches (overwritten, never
            # removed — removal would reopen a window between removal and
            # the engine's own commit-log write).  On restart: totals
            # differing from the intent's pre-batch snapshot prove that
            # batch's append committed — short-circuit its replay; a
            # long-committed stale intent is harmless because the engine
            # never re-delivers batches at-or-before its commit log.
            with open(itf) as fh:
                intent = json.load(fh)
            pre = {k: tuple(v) for k, v in intent["totals"].items()}
            if totals != pre:
                self._skip_bid = intent["bid"]
        self._totals = totals
        return totals

    def __call__(self, frames_batch: DataFrame, batch_id: int) -> None:
        t_start = time.perf_counter()
        spark = frames_batch.sparkSession
        totals = self._load_totals(spark)
        if self._skip_bid is not None and batch_id <= self._skip_bid:
            # replay of a batch whose append already committed (intent
            # recovery in _load_totals)
            if self.on_commit is not None:
                self.on_commit([])
            return

        # Execute the stateful FSM subtree EXACTLY ONCE per batch: persist
        # the frame rows before any action.  Without this, the broadcast
        # dimension exchange and the event-side write each re-ran the
        # whole applyInPandasWithState plan (visible as 2x state-store
        # instances per partition in StreamingQueryProgress), and a third
        # job re-ran it for the post-write totals aggregate — the dominant
        # share of the measured ~3 s micro-batch cycle at the 50 fps
        # envelope shape.  Now: one FSM execution populates the cache, the
        # tiny per-frame dimension collect doubles as the totals /
        # commit-observation source (no post-write job at all), and the
        # write is the only action that touches the event arrays.
        runs_rows = self._load_runs()
        # one-cycle micro-cache: columnar compression is pure CPU here —
        # depth-counted, exception-safe flip (streaming/cache_conf.py)
        comp_ctx = uncompressed_cache(spark)
        comp_ctx.__enter__()
        try:
            frames_batch.persist()
            # ONE action through the stateful subtree: a slim per-frame
            # projection (no event arrays) — bounded by frames-in-batch,
            # never by events.  Run matching, frame sequencing, and the
            # continuation totals all happen driver-side on these rows
            # (runs are a tiny in-memory dimension; the per-batch
            # broadcast build + window exchange they used to cost inside
            # the Spark plan was pure flat latency).  The decorated
            # dimension goes back as a LOCAL relation, so the write plan
            # is bit-identical across batches (codegen cache hit) and the
            # write job touches nothing but the cached arrays.
            slim_rows = _slim_frames(frames_batch).collect()
            t_fsm = time.perf_counter()
            frame_numbers = set()
            # run matching + frame sequencing (frame_core.match_runs)
            # (the first five slim columns are the frame key)
            assigned, per_run = match_runs(
                [(r[:5], r.n_events) for r in slim_rows], runs_rows, totals
            )
            if assigned:
                dim_vals = []
                for run_name, pos, seq, etz, idx in assigned:
                    r = slim_rows[pos]
                    dim_vals.append(
                        (
                            *r[:5], run_name, r.frame_veto_flags, r.complete,
                            seq, etz, idx,
                        )
                    )
                    frame_numbers.add(int(r.frame_number))
                # write-ahead intent: (bid, pre-batch totals) before the
                # append — see class docstring
                os.makedirs(os.path.dirname(self._intent_file()), exist_ok=True)
                itmp = self._intent_file() + ".tmp"
                with open(itmp, "w") as fh:
                    json.dump(
                        {
                            "bid": batch_id,
                            "totals": {k: list(v) for k, v in totals.items()},
                        },
                        fh,
                    )
                os.replace(itmp, self._intent_file())
                dim_local = spark.createDataFrame(dim_vals, _DIM_SCHEMA)
                _append_runs(
                    _events_with_dim(
                        frames_batch, dim_local, with_run_col=len(per_run) > 1
                    ),
                    self.path, per_run,
                )
                totals.update(per_run)
        finally:
            frames_batch.unpersist()
            comp_ctx.__exit__(None, None, None)
        if self.phase_log is not None:
            t_end = time.perf_counter()
            self.phase_log.append(
                {
                    "batch_id": batch_id,
                    "n_frames": len(slim_rows),
                    "fsm_s": round(t_fsm - t_start, 4),
                    "write_s": round(t_end - t_fsm, 4),
                    "sink_s": round(t_end - t_start, 4),
                }
            )
        if self.on_commit is not None:
            self.on_commit(sorted(frame_numbers))


def write_nexus_stream(
    frames: DataFrame,
    runs: DataFrame,
    path: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """Start the streaming nexus sink.  ``frames`` is the aev2 stream from
    assemble_frames_stream; ``runs`` the interval table, collected once
    (call ``writer.refresh_runs()`` when the control plane changes it).
    Returns the StreamingQuery."""
    writer = NexusStreamWriter(runs, path)
    q = frames.writeStream.foreachBatch(writer).option("checkpointLocation", checkpoint)
    q = q.trigger(**(trigger or {"availableNow": True}))
    return q.start()
