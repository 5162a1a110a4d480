"""LIVE end-to-end over the wire: a producer thread paces dev2 messages
onto a real topic at the instrument's 50 frames/s while — concurrently —
Structured Streaming consumes via format("kafka-wire"), decodes, runs
the frame-assembly FSM, and the NeXus sink writes the event table.
This is the reference's steady-state operating mode (Kafka in, HDF5-ish
out, both sides live at once), which the file-spool tests can't show:
here produce and consume race on the same broker log.

Keep-up claims pinned: every frame arrives assembled COMPLETE (the TTL
never fires because all digitiser messages of a frame beat it), and the
sink quiesces within a bounded drain after the tape ends."""

import threading
import time

import pandas as pd

from supermusr_data_pipeline_spark.kafka import MiniBroker, MiniProducer
from supermusr_data_pipeline_spark.kafka.spark_source import KafkaWireDataSource
from supermusr_data_pipeline_spark.sources import messages as M
from supermusr_data_pipeline_spark.sources.decode import decode_dev2_messages
from supermusr_data_pipeline_spark.streaming.envelope_stream import kafka_source_options
from supermusr_data_pipeline_spark.streaming.frame_assembly_stream import (

    assemble_frames_stream,
)

import pytest

# slow set (pytest.ini deselects by default; opt in with -m slow):
# multi-minute soak / streaming end-to-end / large-SF coverage whose
# operators' value-correctness stays pinned by the default sf0.001
# parity + plan audits
pytestmark = pytest.mark.slow

N_FRAMES = 150
N_DIG = 4
FPS = 50.0
EVENTS_PER_MSG = 25
T0_NS = 1_700_000_000_000_000_000


def _dev2(frame: int, dig: int) -> bytes:
    md = {
        "ts_ns": T0_NS + int(frame * 1e9 / FPS),
        "period_number": 1,
        "protons_per_pulse": 8,
        "running": True,
        "frame_number": frame,
        "veto_flags": 0,
    }
    time_ = [100 * i for i in range(EVENTS_PER_MSG)]
    voltage = [10 * dig + (i % 7) for i in range(EVENTS_PER_MSG)]
    channel = [dig * 8 + (i % 8) for i in range(EVENTS_PER_MSG)]
    return M.encode_dev2(dig, md, time_, voltage, channel)


def _producer_thread(bootstrap: str, done: threading.Event):
    """Pace N_FRAMES frame-ticks at FPS; each tick produces one message
    per digitiser, keyed by digitiser id (the reference's keying)."""
    with MiniProducer(bootstrap, buffer_max=N_DIG) as prod:
        t0 = time.monotonic()
        for frame in range(N_FRAMES):
            target = t0 + frame / FPS
            lag = target - time.monotonic()
            if lag > 0:
                time.sleep(lag)
            for dig in range(N_DIG):
                prod.send(
                    "daq-events", _dev2(frame, dig), key=str(dig).encode(),
                    timestamp_ms=int(time.time() * 1000),
                )
            prod.flush()
    done.set()


def test_live_50fps_keepup_over_wire(spark, tmp_path):
    spark.dataSource.register(KafkaWireDataSource)
    out = str(tmp_path / "frames_out")
    with MiniBroker() as broker:
        broker.create_topic("daq-events", partitions=2)
        done = threading.Event()
        producer = threading.Thread(
            target=_producer_thread, args=(broker.bootstrap, done), daemon=True
        )

        opts = kafka_source_options(
            broker.bootstrap, ["daq-events"], starting_offsets="earliest"
        )
        wire = (
            spark.readStream.format("kafka-wire").options(**opts).load()
            .select("key", "value", "topic")
        )
        frames = assemble_frames_stream(
            decode_dev2_messages(wire),
            expected_digitizers=list(range(N_DIG)),
            frame_ttl_ms=3000,
        )
        q = (
            frames.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            producer.start()
            tape_s = N_FRAMES / FPS
            deadline = time.monotonic() + tape_s + 60
            n = 0
            while time.monotonic() < deadline:
                try:
                    n = spark.read.parquet(out).count()
                except Exception:
                    n = 0
                if n >= N_FRAMES and done.is_set():
                    break
                time.sleep(0.5)
            drained_at = time.monotonic()
        finally:
            q.stop()
            q.awaitTermination(60)
        assert done.is_set(), "producer never finished its tape"
        assert n == N_FRAMES, f"sink holds {n}/{N_FRAMES} frames"

    got = pd.DataFrame(
        [
            (r.frame_number, r.complete, sorted(r.digitizers_present),
             len(r.channel))
            for r in spark.read.parquet(out).collect()
        ],
        columns=["frame", "complete", "dids", "n_events"],
    )
    assert sorted(got["frame"]) == list(range(N_FRAMES))
    # every frame assembled from ALL digitisers before its TTL — the
    # live stream kept up, no frame dispatched incomplete
    assert got["complete"].all()
    assert (got["dids"].map(tuple) == tuple(range(N_DIG))).all()
    assert (got["n_events"] == N_DIG * EVENTS_PER_MSG).all()

