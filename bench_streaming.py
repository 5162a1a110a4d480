#!/usr/bin/env python
"""Streaming envelope benchmark: the reference's real-time bar is a
SUSTAINED 50 frames/s (simulator `--frame-time 20`,
simulator/src/main.rs:132-135) with trace->frame latency bounded by the
aggregator's 500 ms completeness TTL / <=1 s dispatch budget
(digitiser-aggregator/src/main.rs:110-118).  This harness paces
synthetic dev2 tapes through the two NeXus doors:

- the PRODUCTION door, the fetch loop (streaming/nexus_fetchloop.py —
  an in-process consumer over a live wire broker, no micro-batch),
  carries the gated shapes;
- the Spark-stream door (assemble_frames_stream -> NexusStreamWriter)
  keeps a shorter paced continuity soak (`32x500_fsm`).

Per shape:

- **paced soak**: one frame's messages every 20 ms (the real arrival
  cadence); per-frame latency = wall-clock from the frame's LAST
  message landing to the frame being fully committed by the sink.  The
  keep-up gate is a LATENCY-VS-TAPE-POSITION SLOPE: an under-provisioned
  pipeline shows latency growing linearly with position (backlog
  drift), so the gate is `slope <= 0.02 s/s` over the whole soak;
- **decomposition**: the fetch loop's per-commit split (decode / part
  staging / intent / publish) and the FSM door's per-micro-batch
  buckets (engine durationMs medians + the sink's own fsm/write phase
  log), published so the latency floor is measured, not asserted.

Shapes: 8 digitisers x 500 events/frame and the reference's full
instrument, 32 digitisers x 500 events
(simulator/src/integrated/simulation.rs:148-151).  Per-frame events per
digitiser are reference-exact in both.

Standalone: `python bench_streaming.py` prints one JSON line.
bench.py embeds the same dict under its "streaming" key.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

FRAME_RATE_HZ = 50
FRAME_PERIOD_S = 1.0 / FRAME_RATE_HZ
EVENTS_PER_MESSAGE = 500  # reference simulator default --events 500
LATENCY_BUDGET_S = 1.0    # aggregator dispatch budget (BASELINE.md)
RELAXED_BUDGET_S = 2.0    # the micro-batch-granular bar (VERDICT r6 #1)
# Backlog drift gate.  Calibration: a pipeline short of the offered rate
# by fraction f shows latency growing ~f seconds per second of tape
# (queueing), so 0.02 detects any >2% throughput deficit; repeated
# healthy soaks measure a +/-0.013 s/s noise band (JIT/GC phase within a
# 60 s window, sign varies), so the gate sits above noise and below the
# smallest deficit worth failing on.  The raw slope is always published
# next to the gate.
SLOPE_GATE_S_PER_S = 0.02

# shapes: (n_digitisers, paced frames).  Both soaks run 60 s of beam —
# long enough that the latency-vs-position slope is measured on dozens
# of steady-state batches, not dominated by the JIT/GC warm-in (the
# round-6 600-frame tape passed its drift bound by 10 ms; these don't
# have that problem).
SHAPES = [
    (8, int(os.environ.get("SPARK_GRAFT_STREAM_FRAMES", "3000"))),
    (32, int(os.environ.get("SPARK_GRAFT_STREAM_FRAMES_32", "3000"))),
]

N_WARMUP = 32  # pre-roll frames excluded from the measured window

_BASE_TS_US = int(
    datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000
)


def _arrow_schema() -> pa.Schema:
    return pa.schema(
        [
            ("digitizer_id", pa.int32()),
            ("ts", pa.timestamp("us")),
            ("period_number", pa.int64()),
            ("protons_per_pulse", pa.int32()),
            ("running", pa.bool_()),
            ("frame_number", pa.int64()),
            ("veto_flags", pa.int32()),
            ("channel", pa.list_(pa.int32())),
            ("event_time", pa.list_(pa.int64())),
            ("event_voltage", pa.list_(pa.float64())),
        ]
    )


def _frame_table(i: int, n_digitisers: int) -> pa.Table:
    """One frame's worth of dev2 messages (one row per digitiser), built
    with deterministic event payloads — no RNG, so re-runs are identical."""
    schema = _arrow_schema()
    ts = _BASE_TS_US + i * int(FRAME_PERIOD_S * 1_000_000)
    ch = [int(e % 8) for e in range(EVENTS_PER_MESSAGE)]
    et = [int(e * 37 % 20_000_000) for e in range(EVENTS_PER_MESSAGE)]
    ev = [float((e * 7 + i) % 4096) for e in range(EVENTS_PER_MESSAGE)]
    cols = {
        "digitizer_id": list(range(n_digitisers)),
        "ts": [ts] * n_digitisers,
        "period_number": [i // 1000] * n_digitisers,
        "protons_per_pulse": [4] * n_digitisers,
        "running": [True] * n_digitisers,
        "frame_number": [i] * n_digitisers,
        "veto_flags": [1 << (i % 4)] * n_digitisers,
        "channel": [ch] * n_digitisers,
        "event_time": [et] * n_digitisers,
        "event_voltage": [ev] * n_digitisers,
    }
    arrays = [pa.array(cols[f.name], type=f.type) for f in schema]
    return pa.Table.from_arrays(arrays, schema=schema)


def _write_atomic(tbl: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)  # the stream never sees a partial file


def _runs_df(spark: SparkSession, n_frames: int):
    from pyspark.sql import functions as F

    end_us = _BASE_TS_US + (n_frames + 100) * int(FRAME_PERIOD_S * 1_000_000)
    return spark.createDataFrame(
        [("bench_run", _BASE_TS_US - 1_000_000, end_us)],
        "run_name string, from_us long, until_us long",
    ).select(
        "run_name",
        F.timestamp_micros("from_us").alias("collect_from"),
        F.timestamp_micros("until_us").alias("collect_until"),
    )


def _start_query(
    spark, spool: str, sink: str, ckpt: str, on_frames, trigger: dict,
    n_digitisers: int, n_frames: int, phase_log: list | None = None,
):
    """One streaming query of the FSM door: files -> frame FSM
    (applyInPandasWithState) -> nexus sink; on_frames is called with
    (list[frame_number], commit_wallclock) per micro-batch via the
    writer's on_commit hook — frame observation rides the sink's own
    dimension collect, so the batch runs exactly the production job
    count."""
    from supermusr_data_pipeline_spark.streaming.frame_assembly_stream import (
        DIGITISER_MESSAGE_SCHEMA,
        assemble_frames_stream,
    )
    from supermusr_data_pipeline_spark.streaming.nexus_stream import NexusStreamWriter

    # cleanSource=delete: the spool is a consume-once landing zone, and
    # the file source re-LISTS the whole directory every micro-batch — on
    # a long soak the listing cost would otherwise grow linearly with
    # tape position (a real latency-drift term).  Deleting committed
    # files bounds the directory at (arrival-rate x cycle) entries.
    messages = (
        spark.readStream.schema(DIGITISER_MESSAGE_SCHEMA)
        .option("cleanSource", "delete")
        .parquet(spool)
    )
    writer = NexusStreamWriter(
        _runs_df(spark, n_frames), sink,
        on_commit=lambda frames: on_frames(frames, time.perf_counter()),
    )
    writer.phase_log = phase_log
    return (
        assemble_frames_stream(
            messages, list(range(n_digitisers)), frame_ttl_ms=500
        )
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .trigger(**trigger)
        .start()
    )


# conf pinned for the streaming queries: no-data micro-batches exist to
# fire processing-time timers, but with availableNow they keep the query
# alive indefinitely (and cost ~0.7 s each on this topology) — the bench
# tape completes every frame, so timers never matter; AQE re-plans every
# micro-batch for no benefit at this size; 8 state partitions measured
# best among {2,4,8,16,32} for the FSM fan-out on local[32].
_STREAM_CONF = {
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"),
    # a 60 s soak can exceed the default 100 retained progress entries
    "spark.sql.streaming.numRecentProgressUpdates": "1000",
}


def _slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys on xs (s of latency per s of tape)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx = sum(xs) / n
    my = sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def _cycle_decomposition(query, phase_log: list) -> dict:
    """Median per-micro-batch buckets: engine durations from the query's
    recent progress + the sink's own fsm/write phase timers.  This is the
    measured floor table (VERDICT r6 #1): what a cycle costs and where."""
    prog = []
    for p in query.recentProgress:
        d = p.get("durationMs", {}) if isinstance(p, dict) else json.loads(p.json)["durationMs"]
        if isinstance(p, dict):
            rows = p.get("numInputRows", 0)
        else:
            rows = json.loads(p.json).get("numInputRows", 0)
        if rows and rows > 0:
            prog.append(d)

    def med(vals):
        vals = sorted(vals)
        return vals[len(vals) // 2] if vals else None

    def med_ms(key):
        v = med([d.get(key, 0) for d in prog])
        return round(v / 1000.0, 3) if v is not None else None

    # skip the first measured batch (stream start-up pays codegen, python
    # worker pool, state-store init — the soak's warm-up batch)
    steady = phase_log[1:] if len(phase_log) > 1 else phase_log
    return {
        "n_batches": len(prog),
        "trigger_s": med_ms("triggerExecution"),
        "add_batch_s": med_ms("addBatch"),
        "source_listing_s": round(
            ((med([d.get("getBatch", 0) for d in prog]) or 0)
             + (med([d.get("latestOffset", 0) for d in prog]) or 0)) / 1000.0, 3),
        "offset_mgmt_s": round(
            ((med([d.get("walCommit", 0) for d in prog]) or 0)
             + (med([d.get("commitOffsets", 0) for d in prog]) or 0)) / 1000.0, 3),
        "query_planning_s": med_ms("queryPlanning"),
        "sink_fsm_s": round(med([b["fsm_s"] for b in steady]) or 0, 3) if steady else None,
        "sink_write_s": round(med([b["write_s"] for b in steady]) or 0, 3) if steady else None,
        "frames_per_batch_med": med([b["n_frames"] for b in steady]) if steady else None,
    }


def _run_shape(
    spark: SparkSession, base: str, n_digitisers: int, n_frames: int,
    label_suffix: str = "",
) -> dict:
    """Paced soak of the FSM door, with its micro-batch cycle
    decomposition."""
    n_total = N_WARMUP + n_frames
    label = f"{n_digitisers}x{EVENTS_PER_MESSAGE}{label_suffix}"

    # ---- paced soak: real 50 fps arrival cadence, latency + slope.
    # The first N_WARMUP frames land in one gulp and are excluded from the
    # metrics: they pay the one-time stream start-up (Python workers, state
    # store, codegen) that a SUSTAINED envelope claim rightly amortizes.
    spool_p = os.path.join(base, f"spool_paced_{label}")
    os.makedirs(spool_p, exist_ok=True)
    emit: dict[int, float] = {}
    emit_lock = threading.Lock()

    def on_frames(frames, t):
        with emit_lock:
            for f in frames:
                emit.setdefault(f, t)

    phase_log: list = []
    # ASAP trigger: batches run back-to-back, so the full batch budget goes
    # to processing instead of waiting out a timer — lowest queueing delay
    # the micro-batch model offers at this load
    q = _start_query(
        spark, spool_p, os.path.join(base, f"sink_paced_{label}"),
        os.path.join(base, f"ckpt_paced_{label}"), on_frames,
        {"processingTime": "0 seconds"}, n_digitisers, n_frames, phase_log,
    )

    for i in range(N_WARMUP):
        _write_atomic(
            _frame_table(i, n_digitisers),
            os.path.join(spool_p, f"frame_{i:06d}.parquet"),
        )
    deadline = time.time() + 120
    while time.time() < deadline:
        with emit_lock:
            if len(emit) >= N_WARMUP:
                break
        time.sleep(0.05)

    arrival: dict[int, float] = {}

    def feeder():
        t0 = time.perf_counter()
        for i in range(N_WARMUP, n_total):
            _write_atomic(
                _frame_table(i, n_digitisers),
                os.path.join(spool_p, f"frame_{i:06d}.parquet"),
            )
            arrival[i] = time.perf_counter()
            lag = t0 + (i - N_WARMUP + 1) * FRAME_PERIOD_S - time.perf_counter()
            if lag > 0:
                time.sleep(lag)

    th = threading.Thread(target=feeder, daemon=True)
    th.start()
    deadline = time.time() + n_frames * FRAME_PERIOD_S + 120
    while time.time() < deadline:
        with emit_lock:
            if len(emit) >= n_total:
                break
        time.sleep(0.05)
    th.join(timeout=10)
    decomposition = _cycle_decomposition(q, phase_log)
    q.stop()

    measured = sorted(i for i in range(N_WARMUP, n_total) if i in emit)
    lats = {i: emit[i] - arrival[i] for i in measured}
    lat = sorted(lats.values())
    n_done = len(lat)
    sustained = (
        n_done / (max(emit[i] for i in measured) - arrival[N_WARMUP])
        if n_done else 0.0
    )
    # keep-up gate: latency-vs-tape-position slope.  A pipeline below the
    # offered rate accumulates backlog, so commit latency grows linearly
    # with position; a keeping-up pipeline's latency is flat (slope ~0 up
    # to micro-batch quantization noise, which the regression averages out
    # over thousands of frames).
    t0 = arrival[measured[0]] if measured else 0.0
    slope = _slope([arrival[i] - t0 for i in measured], [lats[i] for i in measured])
    half = N_WARMUP + (n_total - N_WARMUP) // 2
    first = sorted(lats[i] for i in measured if i < half)
    second = sorted(lats[i] for i in measured if i >= half)
    keeps_up = bool(
        n_done == n_total - N_WARMUP and slope <= SLOPE_GATE_S_PER_S
    )

    shape_info = {
        "n_digitisers": n_digitisers,
        "events_per_message": EVENTS_PER_MESSAGE,
        "n_frames": n_frames,
        "n_warmup": N_WARMUP,
        "offered_rate_hz": FRAME_RATE_HZ,
        "soak_seconds": round(n_frames * FRAME_PERIOD_S, 1),
    }
    paced_info = {
        "frames_done": n_done,
        "keeps_up_at_50fps": keeps_up,
        "latency_slope_s_per_s": round(slope, 5),
        "slope_gate_s_per_s": SLOPE_GATE_S_PER_S,
        "whole_window_fps": round(sustained, 2),
        "latency_p50_s": round(lat[n_done // 2], 4) if n_done else None,
        "latency_p95_s": round(lat[int(n_done * 0.95)], 4) if n_done else None,
        "latency_first_half_p50_s": round(first[len(first) // 2], 4) if first else None,
        "latency_second_half_p50_s": round(second[len(second) // 2], 4) if second else None,
        # steady-state percentiles (second half of the soak): the whole-
        # soak numbers include the JIT/GC warm-in the negative slope
        # shows; these are the sustained-operation figures
        "steady_p50_s": round(second[len(second) // 2], 4) if second else None,
        "steady_p95_s": round(second[int(len(second) * 0.95)], 4) if second else None,
    }
    return {
        "shape": shape_info,
        "paced": paced_info,
        "cycle_decomposition": decomposition,
    }


def _run_fetchloop_shape(base: str, n_digitisers: int, n_frames: int) -> dict:
    """Paced 50 fps soak of the FETCH-LOOP door (streaming/
    nexus_fetchloop.py) over a live wire broker — no micro-batch, so
    commit latency is poll + decode + Arrow append."""
    import threading as _threading

    from supermusr_data_pipeline_spark.kafka import MiniBroker, MiniProducer
    from supermusr_data_pipeline_spark.sources import messages as M
    from supermusr_data_pipeline_spark.streaming.nexus_fetchloop import (
        FetchLoopNexusWriter,
    )

    n_total = N_WARMUP + n_frames
    # pre-encode the tape (deterministic payloads mirroring _frame_table)
    ch = [int(e % 8) for e in range(EVENTS_PER_MESSAGE)]
    et = [int(e * 37 % 20_000_000) for e in range(EVENTS_PER_MESSAGE)]
    tape = []
    for i in range(n_total):
        md = {
            "ts_ns": (_BASE_TS_US + i * int(FRAME_PERIOD_S * 1_000_000)) * 1000,
            "period_number": i // 1000,
            "protons_per_pulse": 4,
            "running": True,
            "frame_number": i,
            "veto_flags": 1 << (i % 4),
        }
        ev = [int((e * 7 + i) % 4096) for e in range(EVENTS_PER_MESSAGE)]
        tape.append(
            [M.encode_dev2(d, md, et, ev, ch) for d in range(n_digitisers)]
        )
    end_us = _BASE_TS_US + (n_total + 100) * int(FRAME_PERIOD_S * 1_000_000)
    runs = [
        {
            "run_name": "bench_run",
            "from_us": _BASE_TS_US - 1_000_000,
            "until_us": end_us,
        }
    ]
    emit: dict[int, float] = {}
    lock = _threading.Lock()

    def on_commit(frames):
        t = time.perf_counter()
        with lock:
            for f in frames:
                emit.setdefault(f, t)

    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=4)
        writer = FetchLoopNexusWriter(
            runs, os.path.join(base, f"sink_fetchloop_{n_digitisers}"),
            list(range(n_digitisers)), broker.bootstrap, ["daq-events"],
            frame_ttl_ms=500, on_commit=on_commit, poll_ms=10,
        )
        writer.start()
        prod = MiniProducer(broker.bootstrap, buffer_max=n_digitisers)
        for i in range(N_WARMUP):
            for d, payload in enumerate(tape[i]):
                prod.send("daq-events", payload, key=str(d).encode())
            prod.flush()
        deadline = time.time() + 60
        while time.time() < deadline:
            with lock:
                if len(emit) >= N_WARMUP:
                    break
            time.sleep(0.02)

        arrival: dict[int, float] = {}

        def feeder():
            t0 = time.perf_counter()
            for i in range(N_WARMUP, n_total):
                for d, payload in enumerate(tape[i]):
                    prod.send("daq-events", payload, key=str(d).encode())
                prod.flush()
                arrival[i] = time.perf_counter()
                lag = (
                    t0 + (i - N_WARMUP + 1) * FRAME_PERIOD_S
                    - time.perf_counter()
                )
                if lag > 0:
                    time.sleep(lag)

        th = _threading.Thread(target=feeder, daemon=True)
        th.start()
        deadline = time.time() + n_frames * FRAME_PERIOD_S + 60
        while time.time() < deadline:
            with lock:
                if len(emit) >= n_total:
                    break
            time.sleep(0.02)
        th.join(timeout=10)
        writer.stop()
        prod.close()
        commit_log = writer.commit_log
        poll_log = list(writer.poll_log)

    measured = sorted(i for i in range(N_WARMUP, n_total) if i in emit)
    lats = {i: emit[i] - arrival[i] for i in measured}
    lat = sorted(lats.values())
    n_done = len(lat)
    t0 = arrival[measured[0]] if measured else 0.0
    slope = _slope(
        [arrival[i] - t0 for i in measured], [lats[i] for i in measured]
    )
    second = sorted(
        lats[i] for i in measured
        if i >= N_WARMUP + (n_total - N_WARMUP) // 2
    )
    mid = len(commit_log) // 2
    commit_tail = sorted(c["total_s"] for c in commit_log[mid:]) or [None]
    # the loop-cycle decomposition (VERDICT r12 #2): per-commit split of
    # decode / part staging / intent / publish, plus the poll-vs-process
    # duty from the per-cycle log — the attribution that turned the
    # 64x500 gap from "unexplained 0.35 s work vs 1.2 s latency" into
    # "intent double-write + python-list column build", both since fixed.
    # The door's commit point is now its one write-once commit record,
    # so commit_intent_p50_s (the commit_log's intent_s) times the record
    # write; the key names are kept for comparison with earlier runs.
    def _p50_of(key):
        vals = sorted(
            c[key] for c in commit_log[mid:] if key in c
        )
        return round(vals[len(vals) // 2], 5) if vals else None

    busy = [p for p in poll_log[len(poll_log) // 2:] if p["n_records"] > 0]
    busy_proc = sorted(p["process_s"] for p in busy)
    decomposition = {
        "commit_decode_p50_s": _p50_of("decode_s"),
        "commit_parts_p50_s": _p50_of("parts_s"),
        "commit_intent_p50_s": _p50_of("intent_s"),
        "commit_publish_p50_s": _p50_of("publish_s"),
        "busy_cycle_process_p50_s": (
            round(busy_proc[len(busy_proc) // 2], 5) if busy_proc else None
        ),
        "busy_cycle_records_p50": (
            sorted(p["n_records"] for p in busy)[len(busy) // 2]
            if busy else None
        ),
    }
    return {
        "shape": {
            "n_digitisers": n_digitisers,
            "events_per_message": EVENTS_PER_MESSAGE,
            "n_frames": n_frames,
        },
        "decomposition": decomposition,
        "paced": {
            "frames_done": n_done,
            "keeps_up_at_50fps": bool(
                n_done == n_frames and slope <= SLOPE_GATE_S_PER_S
            ),
            "latency_slope_s_per_s": round(slope, 5),
            "latency_p50_s": round(lat[n_done // 2], 4) if n_done else None,
            "latency_p95_s": (
                round(lat[int(n_done * 0.95)], 4) if n_done else None
            ),
            "steady_p50_s": (
                round(second[len(second) // 2], 4) if second else None
            ),
            "steady_p95_s": (
                round(second[int(len(second) * 0.95)], 4) if second else None
            ),
        },
        "commit_work_steady_p50_s": (
            round(commit_tail[len(commit_tail) // 2], 5)
            if commit_tail[0] is not None else None
        ),
        "door": "fetchloop",
    }


def _settle(spark: SparkSession) -> None:
    """Isolate soaks: drop cache bookkeeping, force a GC, and give the
    state-store maintenance / source cleaners a moment to release
    resources."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    time.sleep(5)


def run(spark: SparkSession, workdir: str | None = None) -> dict:
    base = workdir or tempfile.mkdtemp(prefix="supermusr_stream_bench_")
    prior = {k: spark.conf.get(k, None) for k in _STREAM_CONF}
    for k, v in _STREAM_CONF.items():
        spark.conf.set(k, v)
    full = SHAPES[-1][0]  # the full-instrument shape
    try:
        shapes = {}
        # the production door, the fetch loop, over the live wire.  No
        # Spark in its hot path, so no warm-in soak is needed — one
        # short pre-soak settles the broker/consumer code paths
        _run_fetchloop_shape(base + "_floopwarm", full, 300)
        for n_digitisers, n_frames in SHAPES:
            shapes[f"{n_digitisers}x{EVENTS_PER_MESSAGE}"] = (
                _run_fetchloop_shape(base, n_digitisers, n_frames)
            )
        # continuity soak of the Spark-stream door at the full shape:
        # 2000 frames (40 s, ~25 batches) — a 1000-frame soak (11
        # batches) was under-warmed and read a false keep-up regression
        # (tools/AB_FSM_INTENT_RESULT.json)
        n_fsm = int(os.environ.get("SPARK_GRAFT_STREAM_FRAMES_FSM", "2000"))
        # throwaway warm-in: the stateful operator's python state workers
        # and codegen are COLD here — without it the soak's first batches
        # read as keep-up drift (tools/AB_FSM_INTENT_RESULT.json)
        _settle(spark)
        _run_shape(spark, base, full, 300, label_suffix="_fsmwarm")
        _settle(spark)
        fsm_label = f"{full}x{EVENTS_PER_MESSAGE}_fsm"
        shapes[fsm_label] = _run_shape(
            spark, base, full, n_fsm, label_suffix="_fsm"
        )
        shapes[fsm_label]["door"] = "applyInPandasWithState"
    finally:
        for k, v in prior.items():
            if v is not None:
                spark.conf.set(k, v)
        if workdir is None:
            shutil.rmtree(base, ignore_errors=True)

    main = shapes[f"{SHAPES[0][0]}x{EVENTS_PER_MESSAGE}"]
    p95 = main["paced"]["latency_p95_s"]
    # the envelope claim is about the PRODUCTION door; the _fsm
    # continuity soak is reference data, not part of the gate
    gated = [s for s in shapes.values() if s.get("door") == "fetchloop"]
    floop = shapes[f"{full}x{EVENTS_PER_MESSAGE}"]
    floop_p50 = floop["paced"]["steady_p50_s"]
    floop_p95 = floop["paced"]["steady_p95_s"]
    return {
        "shapes": shapes,
        "envelope": {
            "target_fps": FRAME_RATE_HZ,
            "meets_fps": all(s["paced"]["keeps_up_at_50fps"] for s in gated),
            "latency_budget_s": LATENCY_BUDGET_S,
            "meets_latency": bool(p95 is not None and p95 <= LATENCY_BUDGET_S),
            "relaxed_budget_s": RELAXED_BUDGET_S,
            "meets_relaxed_latency": bool(p95 is not None and p95 <= RELAXED_BUDGET_S),
            # the 1 s budget at the full instrument shape: the fetch-loop
            # door commits per poll, like the reference writer
            "fetchloop_steady_p50_s": floop_p50,
            "fetchloop_steady_p95_s": floop_p95,
            "meets_latency_fetchloop": bool(
                floop_p95 is not None and floop_p95 <= LATENCY_BUDGET_S
            ),
            "note": (
                "The gated shapes run the production door, the fetch "
                "loop (streaming/nexus_fetchloop.py): an in-process "
                "consumer over the live wire that commits per poll with "
                "no Spark job in the hot path, like the reference "
                "nexus-writer, exactly-once via a write-ahead intent + "
                "held-back offset cursor.  Its per-commit split is the "
                "shape's decomposition block.  The 32x500_fsm soak "
                "keeps the Spark-stream door (applyInPandasWithState "
                "FSM -> NexusStreamWriter) measured; its commit latency "
                "is micro-batch-granular, and its cycle_decomposition "
                "table is the measured floor of that topology (~1.0-"
                "1.3 s trigger cycle: offset planning, Python-source "
                "round trips, commit-log writes), which no foreachBatch "
                "arrangement gets under the 1 s budget."
            ),
        },
    }


def main() -> None:
    from supermusr_data_pipeline_spark.session import get_spark

    spark = get_spark("supermusr-bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps({"metric": "streaming_envelope", **run(spark)}))
    spark.stop()


if __name__ == "__main__":
    main()
