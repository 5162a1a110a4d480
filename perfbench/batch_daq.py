"""batch_daq: reprocessing archived traces into run files.

Set-up writes seeded dat2 traces with ``generator.generate_traces`` to
Parquet at the reference geometry (32 digitisers x 8 channels).  One
timed pass reads them, runs ``plans.daq_chain.daq_chain`` (fixed-threshold
``form_events``, then the fused frame-assembly + run-match nexus build)
and writes the NeXus table with ``operators.nexus_sink.write_nexus``.
Passes repeat until ``--seconds`` have been measured; ``wall_s`` is
their median.

Correctness: every written table must equal the unfused operator path
(form_events -> assemble_frames_long -> match_events_to_runs ->
build_nexus_events) by an order-insensitive digest computed in Spark.
"""

from __future__ import annotations

import os
import shutil
import time

import sparkenv
import stagemetrics
from common import Tracer, median, peak_rss_mb

N_DIGITISERS = 32
CHANNELS = 8
N_FRAMES = 32
N_SAMPLES = 1000
DETECTOR = {"mode": "fixed", "threshold": 300.0, "duration": 2, "cool_off": 0}
EXPECTED = list(range(N_DIGITISERS))
MIN_PASSES = 3


def _digest_aggs(df, key: str | None = None) -> list:
    """Order-insensitive digest aggregates of a NeXus table: rows and two
    sums of per-row hashes over every column but ``key``, each cast to
    string so storage types do not matter."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in sorted(df.columns) if c != key]
    h1 = F.xxhash64(*cols).cast("decimal(38,0)")
    h2 = F.xxhash64(F.lit("perfbench"), *cols).cast("decimal(38,0)")
    return [F.count(F.lit(1)), F.sum(h1), F.sum(h2)]


def _digest(df) -> tuple:
    r = df.agg(*_digest_aggs(df)).first()
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


def _pass_digests(spark, root: str) -> dict[int, tuple]:
    """The digest of every ``pass=<k>`` output under ``root``, in one job."""
    df = spark.read.parquet(root)
    return {
        int(r[0]): (int(r[1]), int(r[2] or 0), int(r[3] or 0))
        for r in df.groupBy("pass").agg(*_digest_aggs(df, "pass")).collect()
    }


def _unfused(traces, runs):
    from supermusr_data_pipeline_spark.operators.event_formation import form_events
    from supermusr_data_pipeline_spark.operators.frame_assembly import (
        assemble_frames_long,
    )
    from supermusr_data_pipeline_spark.operators.nexus_sink import build_nexus_events
    from supermusr_data_pipeline_spark.operators.run_matching import (
        match_events_to_runs,
    )

    events = form_events(traces, **DETECTOR)
    return build_nexus_events(
        match_events_to_runs(assemble_frames_long(events, EXPECTED), runs)
    )


def _pass(spark, traces_path, runs, out) -> float:
    from supermusr_data_pipeline_spark.operators.nexus_sink import write_nexus
    from supermusr_data_pipeline_spark.plans.daq_chain import daq_chain

    t0 = time.monotonic()
    traces = spark.read.parquet(traces_path)
    write_nexus(daq_chain(traces, runs, EXPECTED, **DETECTOR), out)
    return time.monotonic() - t0


def _setup(spark, seed: int, workdir: str):
    from supermusr_data_pipeline_spark.generator import generate_runs, generate_traces

    traces_path = os.path.join(workdir, "traces")
    generate_traces(
        spark, n_frames=N_FRAMES, n_digitizers=N_DIGITISERS,
        channels_per_digitizer=CHANNELS, n_samples=N_SAMPLES, seed=seed,
    ).write.mode("overwrite").parquet(traces_path)
    runs = generate_runs(spark, n_frames=N_FRAMES, seed=seed)
    return traces_path, runs


def _files_mb(path: str) -> tuple[int, float]:
    n, size = 0, 0
    for dirpath, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size / 1e6


def run(seed: int, seconds: int, traced: bool, workdir: str) -> dict:
    t0 = time.monotonic()
    spark = sparkenv.start("perfbench-batch_daq", 4, workdir)
    try:
        t_session = time.monotonic() - t0
        traces_path, runs = _setup(spark, seed, workdir)
        t_inputs = time.monotonic() - t0 - t_session
        # the reference digest doubles as the warm-up: it runs the same
        # detector UDF, shuffles and joins as a pass
        ref = _digest(_unfused(spark.read.parquet(traces_path), runs))
        setup_s = time.monotonic() - t0

        # each pass writes its own output; all are checked after the last
        out = os.path.join(workdir, "nexus")
        walls = []
        t_meas = time.monotonic()
        while len(walls) < MIN_PASSES or time.monotonic() - t_meas < seconds:
            with sparkenv.job_group(spark, "pass"):
                walls.append(
                    _pass(spark, traces_path, runs, f"{out}/pass={len(walls)}"))
        digests = _pass_digests(spark, out)
        attempted = len(walls)
        failed = sum(digests.get(k) != ref for k in range(attempted))
        rss = peak_rss_mb()
        layers, tracer = {}, Tracer()
        if traced:
            lp = layered_pass(spark, workdir, traces_path, runs, ref, tracer)
            attempted += 1
            failed += not lp["ok"]
            groups = stagemetrics.read_groups(spark)
            layer_metrics(layers, groups, lp)
            layers["trace.overhead_s"] = (lp["s"] - median(walls), "s")
            stagemetrics.spark_layers(
                layers, groups.get("pass"), sum(walls), 4, len(walls))
    finally:
        sparkenv.stop(spark)
    if traced:
        layers["spark.speedup_vs_1core"] = (
            _one_core(seed, workdir) / median(walls), "ratio")
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (median(walls), "s"),
        "latency_p50_ms": (median(walls) * 1000, "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    human = {
        "session_start_s": (t_session, "s"),
        "inputs_s": (t_inputs, "s"),
        "passes": (len(walls), "count"),
        "nexus_rows": (ref[0], "count"),
        "failed_share": (failed / attempted, "ratio"),
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "human": human,
        "tracer": tracer,
    }


def layered_pass(spark, workdir, traces_path, runs, ref, tracer) -> dict:
    """One pass layer by layer: each call reads the previous layer's
    materialised output under its own job group, so upstream work stays
    out of its time.  Returns the layer timings, the event count, the
    written files and whether the output matched ``ref``."""
    from pyspark import StorageLevel

    from supermusr_data_pipeline_spark.operators.event_formation import form_events
    from supermusr_data_pipeline_spark.operators.frame_assembly import (
        assemble_frames_long,
    )
    from supermusr_data_pipeline_spark.operators.nexus_sink import (
        build_nexus_events,
        write_nexus,
    )
    from supermusr_data_pipeline_spark.operators.run_matching import (
        match_events_to_runs,
    )

    def materialise(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.write.format("noop").mode("overwrite").save()
        return df

    out = os.path.join(workdir, "nexus_layered")
    t0 = time.monotonic()
    with sparkenv.job_group(spark, "form_events") as fe:
        events = materialise(form_events(spark.read.parquet(traces_path), **DETECTOR))
    with sparkenv.job_group(spark, "assemble_frames") as fa:
        frames = materialise(assemble_frames_long(events, EXPECTED))
    with sparkenv.job_group(spark, "match_events_to_runs") as rm:
        matched = materialise(match_events_to_runs(frames, runs))
    with sparkenv.job_group(spark, "nexus_sink") as ns:
        write_nexus(build_nexus_events(matched), out)
    traced_s = time.monotonic() - t0
    n_events = events.count()
    for df in (matched, frames, events):
        df.unpersist()
    ok = _digest(spark.read.parquet(out)) == ref
    files, mb = _files_mb(out)
    shutil.rmtree(out, ignore_errors=True)

    tracer.add("batch_daq.pass", "layered", t0, t0 + traced_s)
    boxes = {"form_events": fe, "assemble_frames": fa,
             "match_events_to_runs": rm, "nexus_sink": ns}
    for name, box in boxes.items():
        tracer.add(name, "layered", box["start"], box["end"], "batch_daq.pass")
    return {"ok": ok, "s": traced_s, "boxes": boxes, "events": n_events,
            "files": files, "mb": mb}


def layer_metrics(layers: dict, groups: dict, lp: dict) -> None:
    """The DAQ layers' per-layer metrics from a ``layered_pass`` result
    and the status store's job groups."""
    none = stagemetrics.GroupMetrics()
    fe_g = groups.get("form_events", none)
    samples = N_FRAMES * N_DIGITISERS * CHANNELS * N_SAMPLES
    boxes = lp["boxes"]
    layers["event_formation.s"] = (boxes["form_events"]["s"], "s")
    layers["event_formation.cpu_share"] = (
        fe_g.cpu_s / fe_g.run_s if fe_g.run_s else 0.0, "ratio")
    layers["event_formation.events_per_msample"] = (
        lp["events"] / (samples / 1e6), "count")
    layers["frame_assembly.s"] = (boxes["assemble_frames"]["s"], "s")
    layers["frame_assembly.shuffle_mb"] = (
        groups.get("assemble_frames", none).shuffle_write_mb, "MB")
    layers["run_matching.s"] = (boxes["match_events_to_runs"]["s"], "s")
    layers["nexus_sink.s"] = (boxes["nexus_sink"]["s"], "s")
    layers["nexus_sink.bulk_files"] = (lp["files"], "count")
    layers["nexus_sink.bulk_mb_written"] = (lp["mb"], "MB")


def daq_layers(seed: int, workdir: str, layers: dict, tracer) -> bool:
    """Inputs, reference and one layered pass in a session of its own, for
    the live_daq traced run; fills the DAQ per-layer metrics and returns
    whether the layered output matched the reference."""
    spark = sparkenv.start("perfbench-daq-layers", 4, workdir)
    try:
        traces_path, runs = _setup(spark, seed, workdir)
        ref = _digest(_unfused(spark.read.parquet(traces_path), runs))
        lp = layered_pass(spark, workdir, traces_path, runs, ref, tracer)
        layer_metrics(layers, stagemetrics.read_groups(spark), lp)
        return lp["ok"]
    finally:
        sparkenv.stop(spark)


def _one_core(seed: int, workdir: str) -> float:
    """The same pass at local[1] in a fresh session, after the same
    warm-up as the measured passes; returns its wall time."""
    spark = sparkenv.start("perfbench-batch_daq-1core", 1, workdir)
    try:
        traces_path = os.path.join(workdir, "traces")
        from supermusr_data_pipeline_spark.generator import generate_runs

        runs = generate_runs(spark, n_frames=N_FRAMES, seed=seed)
        _digest(_unfused(spark.read.parquet(traces_path), runs))
        return _pass(spark, traces_path, runs, os.path.join(workdir, "nexus_1core"))
    finally:
        sparkenv.stop(spark)
