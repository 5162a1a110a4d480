"""NeXus-equivalent structured sink (SURVEY.md §2.1 S6, §2.4 A5, §2.2 P5).

The reference appends each assembled frame to resizable HDF5 datasets inside
``raw_data_1`` (nexus-writer/src/nexus_structure/entry/event_data.rs:65-145):
per-frame parallel datasets (event_index, event_time_zero, period_number,
frame_number, complete, running, veto_flags) plus per-event datasets
(event_time_offset, event_id == channel, pulse_height).

Spark restatement: one partitioned Parquet table per run directory with the
same columns.  The HDF5-specific bookkeeping becomes two window functions:

- ``event_time_zero`` = frame ts − run collect_from in ns (event_data.rs:169-186)
- ``event_index``     = running total of events in frames before this one
  (event_data.rs:195-196,236-244)

Both windows are per-run and ordered by frame ts — at 100 TB each run's
frames are modest (50 fps × hours ≈ 10^6 rows), so the per-run window is
safe; per-event rows never pass through a window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def build_nexus_events(frame_events_long: DataFrame) -> DataFrame:
    """From long-format assembled frames already matched to runs (columns of
    assemble_frames_long + run columns from match_events_to_runs), derive the
    nexus event table (NEXUS_EVENT_SCHEMA).
    """
    df = frame_events_long
    # per-frame table (one row per frame per run) for the frame-indexed columns
    frames = df.groupBy(
        "run_name", "collect_from", "ts", "period_number", "frame_number",
        "complete", "running", "frame_veto_flags",
    ).agg(F.count("*").alias("n_events"))

    w_seq = Window.partitionBy("run_name").orderBy("ts", "frame_number")
    frames = frames.select(
        "run_name",
        "ts",
        "period_number",
        "frame_number",
        "complete",
        "running",
        "frame_veto_flags",
        "n_events",
        (F.row_number().over(w_seq) - F.lit(1)).cast("long").alias("frame_seq"),
        # event_time_zero: ns offset of the frame from the run start (P5)
        ((F.unix_micros("ts") - F.unix_micros("collect_from")) * 1000).alias("event_time_zero"),
        # event_index: events in all preceding frames of this run (A5)
        F.coalesce(
            F.sum("n_events").over(w_seq.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("event_index"),
    )

    events = df.select(
        "run_name",
        "ts",
        "frame_number",
        F.col("event_time").alias("event_time_offset"),
        F.col("channel").alias("event_id"),
        F.col("event_voltage").cast("double").alias("pulse_height"),
    )
    # frames is ~1/500th of events (events-per-frame default 500); AQE picks
    # broadcast when it fits, else a shuffle join on the frame key
    return events.join(
        frames,
        on=["run_name", "ts", "frame_number"],
        how="inner",
    ).select(
        "run_name",
        "frame_seq",
        "event_time_zero",
        "event_index",
        "period_number",
        "frame_number",
        F.col("complete").alias("frame_complete"),
        "running",
        F.col("frame_veto_flags").alias("veto_flags"),
        "event_time_offset",
        "event_id",
        "pulse_height",
    )


def build_nexus_events_fused(
    events: DataFrame, runs: DataFrame, expected_digitizers: list[int]
) -> DataFrame:
    """Fused A1+J1+A5+P5: dev2-shaped long events + runs → nexus event table
    in ONE pass over the big side.

    The unfused path (assemble_frames_long → match_events_to_runs →
    build_nexus_events) joins the big events table against per-frame
    aggregates twice and runs partial aggregation twice.  Here the frame
    dimension is built once (map-side-combined groupBy of tiny per-frame
    aggregates), decorated with run matching + frame_seq/event_index/
    event_time_zero windows — all on the SMALL frames side — and joined back
    to events once.  The big side therefore sees: narrow detect → one
    partial-agg shuffle → one join.  The join strategy is left to AQE: at
    test scale frames broadcast; at 100 TB (years of 50 Hz frames) it
    degrades gracefully to a shuffle join on the same frame key."""
    expected = F.array([F.lit(d) for d in sorted(expected_digitizers)])
    from .run_matching import match_events_to_runs

    frames = events.groupBy("ts", "period_number", "frame_number", "running").agg(
        F.sort_array(F.collect_set("digitizer_id")).alias("_dids"),
        F.bit_or("veto_flags").alias("frame_veto_flags"),
        F.count("*").alias("n_events"),
    )
    matched = match_events_to_runs(frames, runs)
    w_seq = Window.partitionBy("run_name").orderBy("ts", "frame_number")
    frames_idx = matched.select(
        "ts",
        "period_number",
        "frame_number",
        "running",
        "run_name",
        (F.col("_dids") == expected).alias("frame_complete"),
        "frame_veto_flags",
        (F.row_number().over(w_seq) - F.lit(1)).cast("long").alias("frame_seq"),
        ((F.unix_micros("ts") - F.unix_micros("collect_from")) * 1000).alias(
            "event_time_zero"
        ),
        F.coalesce(
            F.sum("n_events").over(w_seq.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("event_index"),
    )
    return (
        events.join(frames_idx, on=["ts", "period_number", "frame_number", "running"])
        .select(
            "run_name",
            "frame_seq",
            "event_time_zero",
            "event_index",
            "period_number",
            "frame_number",
            "frame_complete",
            "running",
            F.col("frame_veto_flags").alias("veto_flags"),
            F.col("event_time").alias("event_time_offset"),
            F.col("channel").alias("event_id"),
            F.col("event_voltage").cast("double").alias("pulse_height"),
        )
    )


def write_nexus(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6: append-only structured sink — Parquet partitioned by run.

    Partitioning by run_name ≙ one HDF5 file per run; parquet row groups ≙
    the reference's chunked datasets (1 MiB events / 1 KiB frames,
    nexus-writer/src/run_engine/settings.rs:38-50).
    """
    df.write.mode(mode).partitionBy("run_name").parquet(path)


def retire_completed_runs(
    spark,
    sink_path: str,
    runs: DataFrame,
    now,
    run_ttl_ms: int = 2000,
    completed_subdir: str = "completed",
    compact: bool = False,
    writer=None,
) -> list[str]:
    """S7 (part 1): move finished run partitions from the live sink into
    ``completed/`` — the analog of ``move_to_completed``
    (nexus-writer/src/run_engine/run/mod.rs:116-139).  A run is retirable
    once its stop time plus the late-data grace ``run_ttl_ms``
    (nexus-writer/src/main.rs:109-111, default 2 s) has passed.

    Uses the Hadoop FileSystem API so the move is a metadata-only rename on
    HDFS (and works against any configured object store), never a data copy.
    The ``runs`` side is the tiny dimension table, so the driver-side collect
    of retirable run names is O(#runs), not O(data).

    ``compact=True`` additionally rewrites each just-retired run to one
    sorted zstd file (plans/index_maintenance.compact_nexus_run) — the
    lifecycle analog of the reference finalizing the .nxs on
    move_to_completed, and the answer to the live appender's
    one-file-per-micro-batch accumulation.  Safe here by construction:
    the run left the live sink, so no appender can race the rewrite.

    Run directories are found by their escaped names
    (``streaming.frame_core.run_dir_name``, the ``run_name=<value>`` form
    every door and ``partitionBy`` write), so a run name holding ``%``,
    ``:`` or another escaped character retires like any other.

    ``writer``: the LIVE sink writer (NexusStreamWriter or
    FetchLoopNexusWriter), if one is still appending.  Retired runs are
    dropped from its runs dimension via ``refresh_runs`` so a straggler
    frame matching a retired run's interval can no longer RESURRECT the
    run's live directory after its data moved to ``completed/`` — the
    reference drops the run from its cache on move_to_completed and
    rejects messages for it thereafter (run_engine/run/mod.rs:116-139,
    frame/cache.rs:55-63).
    """
    retirable = [
        r["run_name"]
        for r in runs.filter(
            F.col("collect_until").isNotNull()
            & (
                F.unix_millis(F.col("collect_until")) + F.lit(run_ttl_ms)
                <= F.unix_millis(F.to_timestamp(F.lit(now)))
            )
        )
        .select("run_name")
        .collect()
    ]
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    fs = hpath(sink_path).getFileSystem(conf)
    dest_base = hpath(sink_path, completed_subdir)
    fs.mkdirs(dest_base)
    from ..streaming.frame_core import run_dir_name

    moved = []
    for name in retirable:
        src = hpath(sink_path, run_dir_name(name))
        if fs.exists(src):
            fs.rename(src, hpath(dest_base, run_dir_name(name)))
            moved.append(name)
    if compact and moved:
        import os as _os

        from ..plans.index_maintenance import compact_nexus_run

        for name in moved:
            compact_nexus_run(
                spark, _os.path.join(sink_path, completed_subdir),
                run_dir_name(name),
            )
    if writer is not None and moved:
        writer.refresh_runs(runs.filter(~F.col("run_name").isin(moved)))
    return moved


def flush_completed_to_archive(
    spark,
    sink_path: str,
    archive_path: str,
    completed_subdir: str = "completed",
) -> list[str]:
    """S7 (part 2): periodic archive flush — every run directory under
    ``completed/`` is renamed into the archive root, the analog of
    ``create_archive_flush_task`` (nexus-writer/src/flush_to_archive.rs:1-118,
    60 s interval).  Call from a scheduler or a ``foreachBatch`` epoch."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    src_base = hpath(sink_path, completed_subdir)
    fs = src_base.getFileSystem(conf)
    if not fs.exists(src_base):
        return []
    dest_base = hpath(archive_path)
    fs.mkdirs(dest_base)
    moved = []
    for status in fs.listStatus(src_base):
        if status.isDirectory():
            name = status.getPath().getName()
            fs.rename(status.getPath(), hpath(dest_base, name))
            moved.append(name)
    return moved


def build_run_logs(
    logs: DataFrame, runs: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Match a log/alarm table to runs (J2 one-sided semantics) and add the
    relative-time column the NeXus runlog datasets carry
    (``log_time_ns`` = ts − collect_from in ns; negative for logs that
    precede the run start, which the one-sided match allows)."""
    from .run_matching import match_logs_to_runs

    matched = match_logs_to_runs(logs, runs, ts_col=ts_col)
    return matched.withColumn(
        "log_time_ns",
        (F.unix_micros(F.col(ts_col)) - F.unix_micros("collect_from")) * 1000,
    )


def write_nexus_logs(
    runlog: DataFrame | None,
    selog: DataFrame | None,
    alarms: DataFrame | None,
    runs: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """S6 (log side): persist the per-run runlog (f144), SE log (se00) and
    alarm (al00) tables next to the event data — the analog of the HDF5
    ``raw_data_1/{runlog,selog}`` groups the reference writer maintains per
    run (nexus-writer/src/nexus/logs/f114.rs:1-79, nexus/logs/se00.rs:1-147,
    message handlers message_handlers.rs:38-120).

    Each table lands under ``<path>/<name>`` partitioned by ``run_name`` —
    the same one-directory-per-run layout ``write_nexus`` uses for events,
    so S7 retirement moves a run's logs with the same rename discipline.
    """
    for name, df, ts_col in (
        ("runlog", runlog, "ts"),
        ("selog", selog, "packet_ts"),
        ("alarms", alarms, "ts"),
    ):
        if df is None:
            continue
        matched = build_run_logs(df, runs, ts_col=ts_col)
        out = matched.drop("collect_from", "collect_until")
        out.write.mode(mode).partitionBy("run_name").parquet(f"{path}/{name}")


def periods_per_run(frame_events_long: DataFrame) -> DataFrame:
    """A6: append-if-absent period list per run
    (nexus-writer/src/run_engine/run/mod.rs:155-166)."""
    return frame_events_long.groupBy("run_name").agg(
        F.sort_array(F.collect_set("period_number")).alias("periods")
    )
