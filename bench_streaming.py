#!/usr/bin/env python
"""Streaming envelope benchmark: the reference's real-time bar is a
SUSTAINED 50 frames/s (simulator `--frame-time 20`,
simulator/src/main.rs:132-135) with trace->frame latency bounded by the
aggregator's 500 ms completeness TTL / <=1 s dispatch budget
(digitiser-aggregator/src/main.rs:110-118).  This harness replays
synthetic dev2 tapes through the FULL streaming topology — since round
9 the PRODUCTION door is the fused direct sink (streaming/
nexus_direct.py: frame assembly driver-side inside foreachBatch); the
round-7/8 FSM topology (assemble_frames_stream -> NexusStreamWriter)
keeps a shorter paced continuity soak (`32x500_fsm`) — and measures:

- **paced soak** (per shape): a feeder thread lands one message file per
  frame every 20 ms (the real arrival cadence); per-frame latency =
  wall-clock from the frame's LAST message landing to the frame being
  fully committed by the sink batch that carried it.  The keep-up gate
  is a LATENCY-VS-TAPE-POSITION SLOPE: an under-provisioned pipeline
  shows latency growing linearly with position (backlog drift), so the
  gate is `slope <= 0.01 s/s` over the whole soak, with the
  first-half/second-half median comparison kept as a secondary signal.
- **unpaced run** (per shape): the whole tape at once under availableNow
  — the topology's maximum micro-batch throughput, the headroom number.
- **cycle decomposition**: per-micro-batch buckets (engine durationMs
  medians + the sink's own fsm/write phase log), published so the
  latency floor is measured, not asserted.

Shapes: 8 digitisers x 500 events/frame (the long 60 s soak) and the
reference's full instrument, 32 digitisers x 500 events
(simulator/src/integrated/simulation.rs:148-151), on a shorter soak.
Per-frame events per digitiser are reference-exact in both.

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
    fsm: str = "apply",
):
    """One streaming query: files -> frame FSM -> nexus sink; on_frames is
    called with (list[frame_number], commit_wallclock) per micro-batch via
    the writer's on_commit hook — frame observation rides the sink's own
    dimension collect, so the batch runs exactly the production job count.
    ``fsm`` selects the assembly engine: 'apply' = applyInPandasWithState
    (the FSM door), 'direct' = the fused foreachBatch door
    (streaming/nexus_direct.py — no stateful operator, driver-held
    bounded cache)."""
    from supermusr_data_pipeline_spark.streaming.frame_assembly_stream import (
        DIGITISER_MESSAGE_SCHEMA,
        assemble_frames_stream,
    )
    from supermusr_data_pipeline_spark.streaming.nexus_direct import DirectNexusWriter
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
    if fsm == "direct":
        writer = DirectNexusWriter(
            _runs_df(spark, n_frames), sink, list(range(n_digitisers)),
            frame_ttl_ms=500,
            on_commit=lambda frames: on_frames(frames, time.perf_counter()),
        )
        writer.phase_log = phase_log
        to_sink = messages
    else:
        writer = NexusStreamWriter(
            _runs_df(spark, n_frames), sink,
            on_commit=lambda frames: on_frames(frames, time.perf_counter()),
        )
        writer.phase_log = phase_log
        to_sink = assemble_frames_stream(
            messages, list(range(n_digitisers)), frame_ttl_ms=500
        )
    return (
        to_sink.writeStream.foreachBatch(writer)
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
    fsm: str = "apply", paced_only: bool = False, label_suffix: str = "",
) -> dict:
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
        fsm=fsm,
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
    if paced_only:
        return {
            "shape": shape_info,
            "paced": paced_info,
            "cycle_decomposition": decomposition,
            "unpaced": None,
        }

    # ---- unpaced run: whole tape at once under availableNow = max
    # throughput (one spare file-listing gives the FSM everything at once).
    # Same hygiene as between shapes: the paced soak just churned ~10^5
    # cached blocks and state versions, and headroom measured under that
    # heap debt reads 2-3x low.
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    time.sleep(3)
    spool_u = os.path.join(base, f"spool_unpaced_{label}")
    os.makedirs(spool_u, exist_ok=True)
    for i in range(n_total):
        _write_atomic(
            _frame_table(i, n_digitisers),
            os.path.join(spool_u, f"frame_{i:06d}.parquet"),
        )
    done: list[int] = []
    t0 = time.perf_counter()
    q2 = _start_query(
        spark, spool_u, os.path.join(base, f"sink_unpaced_{label}"),
        os.path.join(base, f"ckpt_unpaced_{label}"),
        lambda frames, t: done.extend(frames),
        {"availableNow": True}, n_digitisers, n_frames, fsm=fsm,
    )
    q2.awaitTermination(600)
    elapsed = time.perf_counter() - t0

    return {
        "shape": shape_info,
        "paced": paced_info,
        "cycle_decomposition": decomposition,
        "unpaced": {
            "frames_done": len(done),
            "max_fps": round(len(done) / elapsed, 2) if elapsed > 0 else None,
        },
    }


def _run_fetchloop_shape(base: str, n_digitisers: int, n_frames: int) -> dict:
    """Paced 50 fps soak of the FETCH-LOOP door (streaming/
    nexus_fetchloop.py) over a live wire broker: the topology-level
    answer to the 1 s sink-commit budget (VERDICT r11 #4) — no
    micro-batch, so commit latency is poll + decode + Arrow append.
    Same metrics dict as _run_shape's ``paced`` block."""
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
    # "intent double-write + python-list column build", both since fixed
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


def _median_paced(runs: list[dict]) -> dict:
    """Median-of-N paced summary (VERDICT r9 #7): the 32x500 shape's
    single-soak numbers chased a ±20% VM-noise band round-over-round;
    the shape now reports the per-key MEDIAN across repeats plus the
    min/max band, and keep-up as the majority vote."""
    out = dict(runs[-1])
    for k in (
        "latency_slope_s_per_s", "whole_window_fps", "latency_p50_s",
        "latency_p95_s", "latency_first_half_p50_s",
        "latency_second_half_p50_s", "steady_p50_s", "steady_p95_s",
    ):
        vals = sorted(r[k] for r in runs if r.get(k) is not None)
        out[k] = vals[len(vals) // 2] if vals else None
    out["keeps_up_at_50fps"] = (
        sum(1 for r in runs if r["keeps_up_at_50fps"]) * 2 > len(runs)
    )
    for k in ("steady_p50_s", "steady_p95_s"):
        vals = [r[k] for r in runs if r.get(k) is not None]
        if vals:
            out[k[:-2] + "_band_s"] = [round(min(vals), 4), round(max(vals), 4)]
    out["n_runs"] = len(runs)
    return out


def run(spark: SparkSession, workdir: str | None = None) -> dict:
    base = workdir or tempfile.mkdtemp(prefix="supermusr_stream_bench_")
    prior = {k: spark.conf.get(k, None) for k in _STREAM_CONF}
    for k, v in _STREAM_CONF.items():
        spark.conf.set(k, v)
    try:
        shapes = {}
        for si, (n_digitisers, n_frames) in enumerate(SHAPES):
            label = f"{n_digitisers}x{EVENTS_PER_MESSAGE}"
            # the full 32x500 shape soaks THREE times (median + band);
            # the 8x500 shape's single soak has been stable for rounds
            reps = (
                max(1, int(os.environ.get("SPARK_GRAFT_STREAM_REPS_32", "3")))
                if n_digitisers == 32 else 1
            )
            paced_runs = []
            res = None
            for rep in range(reps):
                if si > 0 or rep > 0:
                    # isolate soaks: drop cache bookkeeping, force a GC,
                    # and give the state-store maintenance / source
                    # cleaners a moment to release resources
                    spark.catalog.clearCache()
                    spark.sparkContext._jvm.System.gc()
                    time.sleep(5)
                # production door since round 9: the fused direct sink
                # (streaming/nexus_direct.py) — adopted on a same-session
                # A/B vs the FSM topology (AB_DIRECT_SINK_RESULT.json)
                res = _run_shape(
                    spark, base, n_digitisers, n_frames, fsm="direct",
                    paced_only=(rep < reps - 1),
                    label_suffix=f"_rep{rep}" if reps > 1 else "",
                )
                paced_runs.append(res["paced"])
            shapes[label] = res
            if reps > 1:
                shapes[label]["paced"] = _median_paced(paced_runs)
                shapes[label]["paced_runs"] = paced_runs
            shapes[label]["door"] = "direct"
        # continuity soak: the round-7/8 FSM door at the full shape, kept
        # short — so round-over-round envelope numbers stay comparable
        # across the door switch and the stateful operator keeps getting
        # exercised under pacing
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        time.sleep(5)
        # 2000 frames (40 s, ~25 batches): the round-9 1000-frame soak was
        # under-warmed (11 batches) and read a false keep-up regression —
        # the r10 interleaved A/B (tools/AB_FSM_INTENT_RESULT.json) shows
        # the door keeps up at this shape once soaks pass ~20 batches
        n_fsm = int(os.environ.get("SPARK_GRAFT_STREAM_FRAMES_FSM", "2000"))
        fsm_label = f"{SHAPES[1][0]}x{EVENTS_PER_MESSAGE}_fsm"
        # throwaway warm-in: the stateful operator's python state workers
        # and codegen are COLD here (the preceding soaks ran the direct
        # door) — without this the soak's first batches read as keep-up
        # drift, the same artifact the r10 interleaved A/B attributed
        # (tools/AB_FSM_INTENT_RESULT.json)
        _run_shape(
            spark, base, SHAPES[1][0], 300, fsm="apply",
            paced_only=True, label_suffix="_fsmwarm",
        )
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        time.sleep(5)
        shapes[fsm_label] = _run_shape(
            spark, base, SHAPES[1][0], n_fsm, fsm="apply",
            paced_only=True, label_suffix="_fsm",
        )
        shapes[fsm_label]["door"] = "applyInPandasWithState"
        # the FETCH-LOOP door at the full shape over the live wire: the
        # 1 s sink-commit budget topology (r12; no Spark in its hot
        # path, so no warm-in soak needed — one short pre-soak settles
        # the broker/consumer code paths)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        time.sleep(5)
        n_floop = int(
            os.environ.get("SPARK_GRAFT_STREAM_FRAMES_FETCHLOOP", "2000")
        )
        _run_fetchloop_shape(base + "_floopwarm", SHAPES[1][0], 300)
        floop_label = f"{SHAPES[1][0]}x{EVENTS_PER_MESSAGE}_fetchloop"
        shapes[floop_label] = _run_fetchloop_shape(
            base, SHAPES[1][0], n_floop
        )
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
    gated = [s for s in shapes.values() if s.get("door") == "direct"]
    floop = shapes.get(f"{SHAPES[1][0]}x{EVENTS_PER_MESSAGE}_fetchloop")
    floop_p50 = floop["paced"]["steady_p50_s"] if floop else None
    floop_p95 = floop["paced"]["steady_p95_s"] if floop else None
    return {
        "shapes": shapes,
        "envelope": {
            "target_fps": FRAME_RATE_HZ,
            "meets_fps": all(s["paced"]["keeps_up_at_50fps"] for s in gated),
            "latency_budget_s": LATENCY_BUDGET_S,
            "meets_latency": bool(p95 is not None and p95 <= LATENCY_BUDGET_S),
            "relaxed_budget_s": RELAXED_BUDGET_S,
            "meets_relaxed_latency": bool(p95 is not None and p95 <= RELAXED_BUDGET_S),
            # the 1 s budget AT ITS OWN GRANULARITY (r12): the fetch-loop
            # door commits per poll, like the reference writer — this is
            # the number the reference's budget actually constrains
            "fetchloop_steady_p50_s": floop_p50,
            "fetchloop_steady_p95_s": floop_p95,
            "meets_latency_fetchloop": bool(
                floop_p95 is not None and floop_p95 <= LATENCY_BUDGET_S
            ),
            "note": (
                "commit latency is micro-batch-granular; the reference "
                "dispatches per message, so its 1 s budget applies at "
                "frame-TTL semantics, not sink-commit granularity.  The "
                "cycle_decomposition tables are the measured floor.  "
                "PRODUCTION DOOR since round 9: the fused direct sink "
                "(streaming/nexus_direct.py) — frame assembly driver-"
                "side inside foreachBatch, two narrow jobs per batch, "
                "no stateful operator.  Adopted on a same-session A/B "
                "vs the FSM topology (1000-"
                "frame paced soaks, tools/AB_DIRECT_SINK_RESULT.json): "
                "steady p50 2.05/2.04 s and p95 2.75/2.75 s at "
                "8x500/32x500 vs the FSM door's 8.09/4.60 and "
                "11.67/5.92 in the same session.  The direct door's "
                "measured cycle: ~0.25 s source listing + ~0.09 s "
                "offset/WAL + ~0.15-0.2 s slim collect + ~0.8 s event "
                "write (FIXED w.r.t. event volume: 0.88 s at 284k and "
                "0.80 s at 1.07M events/batch — join+explode+append "
                "job overhead, profiled at ~0.53 s compute + ~0.27 s "
                "parquet), so cycle ~1.0-1.3 s and latency p50 ~1.5 "
                "cycles.  Round-9 60 s soaks: 8x500 p50 1.46-1.48 s / "
                "p95 1.94-2.01 s (the 2 s relaxed p95 gate reads true "
                "at this shape), 32x500 p50 1.6-2.1 s / p95 2.2-3.1 s "
                "across three runs (±20% band at this shape, "
                "tools/SOAK_32X500_VARIANCE_r9.json).  A 1 s "
                "sink-commit budget remains out of reach for ANY "
                "micro-batch topology here — ROUND 12 CLOSED IT "
                "topology-level instead: the fetch-loop door "
                "(streaming/nexus_fetchloop.py, the reference writer's "
                "own consumer-loop shape) commits per poll with no "
                "Spark job in the hot path and measures steady p50 "
                "~0.01 s at 32x500 over the live wire (the "
                "32x500_fetchloop shape + "
                "envelope.meets_latency_fetchloop; r12 record 0.021 s, "
                "halved in r13 by the write-once rename-list intent + "
                "event-driven broker fetch wakes), exactly-once via "
                "write-ahead intent + held-back offset cursor; r13 also "
                "proved it through a replicated-cluster leader bounce "
                "(fetchloop_cluster_soak: pre-kill p50 0.026 s, spike "
                "max 0.40 s, exactly-once accounting).  The "
                "micro-batch doors remain the Spark-analytics path; "
                "their floor stands as measured.  The direct "
                "door's unpersisted-batch and coalesce variants "
                "measured WORSE or neutral (same-session, 32x500: "
                "nopersist steady p50 2.26 s, nopersist+coalesce(8) "
                "4.58 s) and were removed.  History: the FSM door's floor was ~0.58 s "
                "applyInPandasWithState machinery + ~0.45 s engine "
                "bookkeeping + ~0.17 s append (round 7); round 8 "
                "A/B'd transformWithStateInPandas (rejected: steady "
                "p50 5.59 s vs 4.84 s under RocksDB, tools/"
                "AB_FSM_RESULT.json) and the kafka-wire front door "
                "(shape-dependent: saves listing at 8x500, loses to "
                "decode at 32x500, tools/AB_KAFKA_STREAM_RESULT*."
                "json).  The 32x500_fsm continuity soak keeps the "
                "stateful door measured; the file tape stays so "
                "round-over-round numbers remain comparable.  Round-10 "
                "attribution of the r9 FSM keep-up regression "
                "(tools/AB_FSM_INTENT_RESULT.json, interleaved "
                "on/off/on/off at 32x500, 1500 frames/round): the "
                "write-ahead intent costs NOTHING once warmed (warmed "
                "rounds steady p50 3.344 s intent-on vs 3.362 s "
                "intent-off; all four rounds keep up, slopes "
                "0.003-0.019 < 0.02) — the r9 red reading came from "
                "the under-warmed 1000-frame soak (11 batches) plus "
                "VM variance, so the intent stays and the continuity "
                "soak now runs 2000 frames.  The 32x500 direct-door "
                "shape reports median-of-3 with a min/max band "
                "(paced_runs) so round comparisons stop chasing the "
                "±20% single-soak noise.  Round-11 attribution of the "
                "FSM door's residual drift vs the r7 record (3.68 s "
                "vs 2.94 s steady p50): an A/B ran the r7 "
                "PACKAGE code against HEAD, ABBA in one session — r7 "
                "code pooled 3.68 s (one round red) vs HEAD 3.29 s "
                "(all rounds keep up), sink_fsm_s ~1.0 s on BOTH arms "
                "(tools/AB_FSM_R7_RESULT.json).  The r7-era 0.58 s "
                "sink_fsm_s floor is not reproducible even by r7's "
                "own code in today's session: the floor moved with "
                "the VM, not the code.  Round-11 wire front door: "
                "fetch pipelining + pre-encoded broker log + FUSED, "
                "whole-column-VECTORIZED dev2 decode (valueDecode="
                "dev2; 10.6 ms vs 59 ms per 2368-msg batch) fix the "
                "r10 red round — ALL ABBA rounds keep up at 32x500 on "
                "the direct door, and the per-cycle decomposition "
                "(now recorded for BOTH arms) shows IDENTICAL "
                "per-frame cost (20.2 ms/frame each; file trigger "
                "0.847 s at 42 frames/batch vs wire 1.089 s at 54).  "
                "The residual steady-p50 gap (file 1.37 s / wire "
                "1.58 s pooled, 3000-frame ABBA) is a FIXED ~0.2 s/"
                "batch in the sink's cache-building job: the Python-"
                "DataSource read path (task dispatch + Arrow IPC both "
                "ways) vs a JVM parquet scan — the data plane itself "
                "(fetch+decode) measures ~40 ms.  The wire door wins "
                "the admission-control term 0.001 s vs 0.15-0.25 s "
                "directory listing (which grows with spool size); the "
                "equilibrium batch is correspondingly larger, which "
                "is the whole latency difference.  Run-to-run drift "
                "on this VM (±20%) is larger than the remaining gap, "
                "so the wire-vs-file ledger is carried as the "
                "decomposition, not a single headline pair "
                "(tools/AB_KAFKA_STREAM_RESULT_32dig_direct.json).  "
                "END-OF-ROUND-11 re-measure on the final tree (idle "
                "machine, same ABBA): file pooled steady p50 1.574 s "
                "vs wire 1.658 s — a 5% gap with the ROUNDS "
                "INTERLEAVED (wire best 1.584 < file worst 1.704), "
                "all four rounds keep up (slopes <= 0.011); vs the "
                "r10 red of 2.39/2.15 against 1.69/1.91 with one "
                "failed round, the wire face now ties the file door "
                "within round-to-round variance at the full shape.  "
                "Round-11 headroom probe (tools/STRETCH_SHAPE_RESULT."
                "json): the 50 fps envelope HOLDS at 2x the full "
                "shape — 64x500 sustained, 1.6M events/s, steady p50 "
                "1.96 s — and breaks between 64 and 128 digitisers on "
                "this 32-thread VM (128x500 drains 38.3 of 50 fps; "
                "binding term is the event-write job at 3.0M events/"
                "batch — per-executor write bandwidth, i.e. more "
                "executors on a real cluster, not a topology change)."
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
