"""Row-level parity: the streaming NeXus sink (driver-side dimension +
direct partition-dir writes, rebuilt round 7) must produce EXACTLY the
rows of the batch builder (operators/nexus_sink.build_nexus_events) on
the same assembled frames — including the zero-event-frame rule (one
null-event row that counts 1 toward event_index) and multi-run
matching.  Also: the writer's write-ahead intent across a crash, and
the shape of its event-write plan."""

import contextlib
import io
import json
import os
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from supermusr_data_pipeline_spark.operators.nexus_sink import build_nexus_events
from supermusr_data_pipeline_spark.operators.run_matching import match_events_to_runs
from supermusr_data_pipeline_spark.schemas import FRAME_EVENT_LIST_SCHEMA
from supermusr_data_pipeline_spark.streaming.nexus_stream import (
    _DIM_SCHEMA,
    NexusStreamWriter,
    _events_with_dim,
    write_nexus_stream,
)

T0 = datetime(2024, 3, 1, 12, 0, 0)


def _frames_df(spark):
    def row(frame, n_events, veto):
        return (
            T0 + timedelta(milliseconds=20 * frame),
            frame // 1000,
            4,
            True,
            frame,
            veto,
            frame % 2 == 0,
            [0, 1],
            [i % 8 for i in range(n_events)],
            [100 * frame + 10 * i for i in range(n_events)],
            [float(i) for i in range(n_events)],
        )

    rows = [row(1, 3, 1), row(2, 0, 2), row(3, 5, 0), row(4, 2, 4),
            row(120, 4, 8)]  # frame 120 lands in run_2
    return spark.createDataFrame(rows, FRAME_EVENT_LIST_SCHEMA)


def _runs_df(spark):
    return spark.createDataFrame(
        [
            ("run_1", T0 - timedelta(seconds=1), T0 + timedelta(seconds=2)),
            ("run_2", T0 + timedelta(seconds=2), None),
        ],
        "run_name string, collect_from timestamp, collect_until timestamp",
    )


def test_stream_sink_rows_equal_batch_builder(spark, tmp_path):
    frames = _frames_df(spark)
    runs = _runs_df(spark)

    # batch path: frames -> long events (explode_outer keeps the
    # zero-event frame as one null row) -> run match -> builder
    z = F.arrays_zip("channel", "event_time", "event_voltage")
    long = (
        frames.withColumn("_e", F.explode_outer(z))
        .select(
            "ts", "period_number", "protons_per_pulse", "running",
            "frame_number",
            F.col("veto_flags").alias("frame_veto_flags"),
            "complete",
            F.col("_e.channel").alias("channel"),
            F.col("_e.event_time").alias("event_time"),
            F.col("_e.event_voltage").alias("event_voltage"),
        )
    )
    batch_out = build_nexus_events(match_events_to_runs(long, runs))

    # streaming path: same frames through the foreachBatch sink
    frames_dir = str(tmp_path / "frames")
    frames.coalesce(1).write.parquet(frames_dir)
    stream = spark.readStream.schema(FRAME_EVENT_LIST_SCHEMA).parquet(frames_dir)
    sink = str(tmp_path / "sink")
    q = write_nexus_stream(stream, runs, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    stream_out = spark.read.parquet(sink)

    assert sorted(stream_out.columns) == sorted(batch_out.columns)
    cols = sorted(batch_out.columns)
    b = sorted(tuple(repr(r[c]) for c in cols) for r in batch_out.collect())
    s = sorted(tuple(repr(r[c]) for c in cols) for r in stream_out.collect())
    assert s == b, (
        f"stream sink diverged from batch builder:\nbatch={b}\nstream={s}"
    )
    # the zero-event frame contributed exactly one null-event row
    nulls = stream_out.filter("event_id IS NULL").collect()
    assert len(nulls) == 1 and nulls[0].frame_number == 2


# ---- the FSM door writer's write-ahead intent ----


def _frame_row(frame, n_events, veto=0):
    return (
        T0 + timedelta(milliseconds=20 * frame), frame // 1000, 4, True,
        frame, veto, True, [0, 1],
        [e % 8 for e in range(n_events)],
        [100 * frame + 10 * e for e in range(n_events)],
        [float(e) for e in range(n_events)],
    )


def _frames(spark, rows):
    return spark.createDataFrame(rows, FRAME_EVENT_LIST_SCHEMA)


def _one_run(spark):
    return spark.createDataFrame(
        [("run_a", T0 - timedelta(seconds=1), None)],
        "run_name string, collect_from timestamp, collect_until timestamp",
    )


def test_fsm_writer_intent_recovers_committed_append(spark, tmp_path):
    """NexusStreamWriter: a crash between the append and the engine's
    commit leaves the intent on disk; the restarted writer detects the
    committed append via totals and short-circuits the replay."""
    sink = str(tmp_path / "sink")
    runs = _one_run(spark)
    w = NexusStreamWriter(runs, sink)
    w(_frames(spark, [_frame_row(0, 2)]), 0)
    b1 = _frames(spark, [_frame_row(1, 3)])
    w(b1, 1)  # intent for bid 1 stays on disk (never removed)
    n = spark.read.parquet(sink).count()

    w2 = NexusStreamWriter(runs, sink)  # crash-restart
    w2(b1, 1)  # engine replays batch 1
    assert spark.read.parquet(sink).count() == n
    w2(_frames(spark, [_frame_row(2, 2)]), 2)
    f2 = spark.read.parquet(sink).filter("frame_number = 2").collect()
    assert {r.frame_seq for r in f2} == {2}
    assert {r.event_index for r in f2} == {5}


def test_fsm_writer_intent_replays_uncommitted_append(spark, tmp_path):
    """NexusStreamWriter: intent written but the append never landed —
    the replay redoes the batch exactly once."""
    sink = str(tmp_path / "sink")
    runs = _one_run(spark)
    w = NexusStreamWriter(runs, sink)
    w(_frames(spark, [_frame_row(0, 2)]), 0)
    totals_b0 = dict(w._totals)
    os.makedirs(os.path.join(sink, "_writer_state"), exist_ok=True)
    with open(os.path.join(sink, "_writer_state", "intent.json"), "w") as fh:
        json.dump(
            {"bid": 1, "totals": {k: list(v) for k, v in totals_b0.items()}}, fh
        )

    w2 = NexusStreamWriter(runs, sink)
    w2(_frames(spark, [_frame_row(1, 3)]), 1)
    out = spark.read.parquet(sink)
    f1 = out.filter("frame_number = 1").collect()
    assert len(f1) == 3
    assert {r.frame_seq for r in f1} == {1}
    assert {r.event_index for r in f1} == {2}


def test_write_plan_shape_no_shuffle(spark):
    """The FSM door's event write must stay narrow: ONE broadcast
    exchange (the frame dimension), no shuffle exchange, no sort-merge
    join, no Python — pinned like the query-plan audit."""
    dim = spark.createDataFrame(
        [(0, 0, 4, True, 0, "run_a", 0, True, 0, 1000, 0)], _DIM_SCHEMA
    )
    out = _events_with_dim(
        _frames(spark, [_frame_row(0, 2)]), dim, with_run_col=False
    ).coalesce(8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastExchange" in p
    assert "ShuffleExchange" not in p and "Exchange hashpartitioning" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p
