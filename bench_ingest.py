#!/usr/bin/env python
"""Streaming-ingest throughput soak: puts the three index-backed front
doors (streaming/shard_ingest.py LSH dedup, vector_ingest.py IVF
SemDeDup, postings_ingest.py lexical indexing — "the index IS the
state") on the same measured footing as the frame pipeline
(VERDICT r6 #9).

Shape: the standing indexes are built from the sf corpus's BASE slice
(doc_id % 10 != 7, the q79/q82 split), and the DELTA slice arrives as a
paced stream of fixed-size batches.  Reported per door:

- offered docs (the whole delta slice), admitted / rejected counts;
- batch wall-times (p50) once the stream is warm;
- sustained throughput docs/s = delta docs / (last decision - first
  arrival) — the number to compare against an ingest SLA.

Standalone: `python bench_ingest.py` prints one JSON line; bench.py
embeds the same dict under its "streaming_ingest" key.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# sf0.1 by default: its delta slice is ~500 docs = 10 paced batches, so
# the steady-state rate is measured over many micro-batches, not one
SF_DIR = os.environ.get("SPARK_GRAFT_INGEST_SF_DIR", "/root/testdata/sf0.1")
BATCH_DOCS = int(os.environ.get("SPARK_GRAFT_INGEST_BATCH", "50"))


def _watch_rows(spark, path: str, want: int, timeout_s: float = 600) -> list:
    """Poll the decisions table until it holds `want` rows; returns the
    observed (wallclock, rowcount) trajectory so the caller can compute a
    STEADY-state rate that excludes the first batch's stream start-up."""
    deadline = time.time() + timeout_s
    traj = []
    while time.time() < deadline:
        try:
            n = spark.read.parquet(path).count()
        except Exception:
            n = 0
        if not traj or n != traj[-1][1]:
            traj.append((time.perf_counter(), n))
        if n >= want:
            return traj
        time.sleep(0.25)
    raise TimeoutError(f"{path}: fewer than {want} decision rows after {timeout_s}s")


def _steady_rate(traj: list, total: int) -> float | None:
    """Docs/s from the first observed progress point to completion —
    drops the start-up segment (0 -> first nonzero count)."""
    nonzero = [(t, n) for t, n in traj if n > 0]
    if len(nonzero) < 2:
        return None
    (t0, n0), (t1, n1) = nonzero[0], nonzero[-1]
    if t1 <= t0 or n1 <= n0:
        return None
    return (n1 - n0) / (t1 - t0)


def _spool_batches(df, key_col: str, spool: str, batch_docs: int) -> int:
    """Write the delta slice as numbered single-file batches; returns the
    number of docs spooled.  maxFilesPerTrigger=1 then replays them as
    discrete micro-batches."""
    rows = df.collect()  # delta slice of a bench sf — bounded by design
    os.makedirs(spool, exist_ok=True)
    spark = df.sparkSession
    for bi in range(0, len(rows), batch_docs):
        chunk = rows[bi : bi + batch_docs]
        (
            spark.createDataFrame(chunk, df.schema)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(spool, f"b{bi // batch_docs:04d}"))
        )
    return len(rows)


def bench_shard_ingest(spark, base: str) -> dict:
    from pyspark.sql import functions as F

    from supermusr_data_pipeline_spark.plans.incremental import (
        _DELTA_MOD,
        _DELTA_REM,
        write_lsh_index,
    )
    from supermusr_data_pipeline_spark.sources.testdata import load_table
    from supermusr_data_pipeline_spark.streaming.shard_ingest import (
        ingest_shard_stream,
    )

    idx = os.path.join(base, "lsh_idx")
    t0 = time.perf_counter()
    write_lsh_index(spark, SF_DIR, idx)
    build_s = time.perf_counter() - t0

    docs = load_table(spark, SF_DIR, "documents")
    delta = docs.filter(F.col("doc_id") % _DELTA_MOD == _DELTA_REM)
    spool = os.path.join(base, "shard_spool")
    n_docs = _spool_batches(delta, "doc_id", spool, BATCH_DOCS)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(spool, "*"))
    )
    dec = os.path.join(base, "shard_decisions")
    t1 = time.perf_counter()
    q = ingest_shard_stream(stream, idx, dec, os.path.join(base, "shard_ckpt"))
    traj = _watch_rows(spark, dec, n_docs)
    elapsed = time.perf_counter() - t1
    q.stop()

    decisions = spark.read.parquet(dec)
    by_reason = {
        r["reason"]: r["n"]
        for r in decisions.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    steady = _steady_rate(traj, n_docs)
    return {
        "offered_docs": n_docs,
        "batch_docs": BATCH_DOCS,
        "n_batches": -(-n_docs // BATCH_DOCS),
        "index_build_s": round(build_s, 3),
        "docs_per_sec_incl_startup": round(n_docs / elapsed, 1),
        "docs_per_sec_steady": round(steady, 1) if steady else None,
        "by_reason": by_reason,
    }


def bench_vector_ingest(spark, base: str) -> dict:
    from pyspark.sql import functions as F

    from supermusr_data_pipeline_spark.plans.text_dedup import _codebook
    from supermusr_data_pipeline_spark.sources.testdata import load_table
    from supermusr_data_pipeline_spark.streaming.vector_ingest import (
        ingest_vector_stream,
        write_vector_index,
    )

    cents = _codebook(SF_DIR)[0]
    emb = load_table(spark, SF_DIR, "embeddings")
    base_vecs = emb.filter(F.col("vec_id") % 10 != 7).select(
        "vec_id", F.col("embedding")
    )
    delta = emb.filter(F.col("vec_id") % 10 == 7).select("vec_id", "embedding")

    idx = os.path.join(base, "ivf_idx")
    t0 = time.perf_counter()
    write_vector_index(base_vecs, idx, cents)
    build_s = time.perf_counter() - t0

    spool = os.path.join(base, "vec_spool")
    n_vecs = _spool_batches(delta, "vec_id", spool, BATCH_DOCS)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(spool, "*"))
    )
    dec = os.path.join(base, "vec_decisions")
    t1 = time.perf_counter()
    q = ingest_vector_stream(
        stream, idx, dec, os.path.join(base, "vec_ckpt"), cents
    )
    traj = _watch_rows(spark, dec, n_vecs)
    elapsed = time.perf_counter() - t1
    q.stop()

    decisions = spark.read.parquet(dec)
    by_reason = {
        r["reason"]: r["n"]
        for r in decisions.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    steady = _steady_rate(traj, n_vecs)
    return {
        "offered_vecs": n_vecs,
        "batch_docs": BATCH_DOCS,
        "n_batches": -(-n_vecs // BATCH_DOCS),
        "index_build_s": round(build_s, 3),
        "vecs_per_sec_incl_startup": round(n_vecs / elapsed, 1),
        "vecs_per_sec_steady": round(steady, 1) if steady else None,
        "by_reason": by_reason,
    }


def bench_postings_ingest(spark, base: str) -> dict:
    import time as _t

    from pyspark.sql import functions as F

    from supermusr_data_pipeline_spark.sources.testdata import load_table
    from supermusr_data_pipeline_spark.streaming.postings_ingest import (
        bm25_topk_over_index,
        ingest_doc_batch,
        ingest_postings_stream,
    )

    docs = load_table(spark, SF_DIR, "documents")
    base_docs = docs.filter(F.col("doc_id") % 10 != 7)
    delta = docs.filter(F.col("doc_id") % 10 == 7)
    idx = os.path.join(base, "lex_idx")
    t0 = time.perf_counter()
    # bulk segments use NEGATIVE ids — streaming batch ids start at 0 and
    # would dynamic-overwrite a colliding segment's partitions
    n_base = ingest_doc_batch(base_docs, idx, -2)
    build_s = time.perf_counter() - t0

    spool = os.path.join(base, "lex_spool")
    n_docs = _spool_batches(delta, "doc_id", spool, BATCH_DOCS)
    # a zero-token document produces no doclen row — the completion
    # target counts only indexable delta docs
    from supermusr_data_pipeline_spark.plans.text_dedup import _TOKENS_EXPR_SPARK

    n_indexable = delta.filter(
        F.size(F.expr(_TOKENS_EXPR_SPARK)) > 0
    ).count()
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(spool, "*"))
    )
    t1 = time.perf_counter()
    q = ingest_postings_stream(stream, idx, os.path.join(base, "lex_ckpt"))
    traj = _watch_rows(
        spark, os.path.join(idx, "doclen"), n_base + n_indexable
    )
    elapsed = time.perf_counter() - t1
    q.stop()
    # steady rate over the doclen growth beyond the base segment
    nonzero = [(t, n - n_base) for t, n in traj if n > n_base]
    steady = None
    if len(nonzero) >= 2 and nonzero[-1][0] > nonzero[0][0]:
        steady = (nonzero[-1][1] - nonzero[0][1]) / (nonzero[-1][0] - nonzero[0][0])

    # probe latency against the grown segmented index: the first doc's
    # first three distinct tokens (deterministic at every sf)
    words = (
        docs.orderBy("doc_id")
        .limit(1)
        .select(F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .limit(3)
        .collect()
    )
    terms = [r.w for r in words]
    t2 = time.perf_counter()
    bm25_topk_over_index(spark, idx, terms).count()
    probe_s = time.perf_counter() - t2
    return {
        "offered_docs": n_docs,
        "batch_docs": BATCH_DOCS,
        "n_batches": -(-n_docs // BATCH_DOCS),
        "base_segment_docs": n_base,
        "index_build_s": round(build_s, 3),
        "docs_per_sec_incl_startup": round(n_docs / elapsed, 1),
        "docs_per_sec_steady": round(steady, 1) if steady else None,
        "probe_s": round(probe_s, 3),
    }


def bench_kafka_front_door(spark, workdir: str) -> dict:
    """S1/S2 over real wire: the DAQ trace tape produced to an in-process
    Kafka broker (gzip transport, murmur2-keyed by digitiser), drained by
    the option-dict-configured consumer into the Spark spool, and decoded
    — produce/drain MB/s plus the whole-wire frames/s against the
    instrument's 50 fps bar.  Everything in-memory + local TCP: the
    number is the protocol/client/bridge overhead, not disk."""
    from supermusr_data_pipeline_spark.generator.schedule import run_schedule
    from supermusr_data_pipeline_spark.kafka import (
        MiniBroker,
        MiniProducer,
        consumer_from_options,
        spool_to_parquet,
    )
    from supermusr_data_pipeline_spark.kafka.client import KAFKA_SPOOL_SCHEMA
    from supermusr_data_pipeline_spark.sources.decode import decode_dat2
    from supermusr_data_pipeline_spark.streaming.envelope_stream import (
        kafka_source_options,
    )

    n_frames = int(os.environ.get("SPARK_GRAFT_KAFKA_FRAMES", "200"))
    n_dig, n_ch, n_samples = 8, 8, 1000
    script = [
        {"action": "set_timestamp", "iso": "2024-01-01T12:00:00"},
        {
            "action": "frame_loop",
            "frames": n_frames,
            "advance_ms": 20,
            "body": [
                {
                    "action": "digitiser_loop",
                    "ids": list(range(n_dig)),
                    "body": [
                        {"action": "send_trace", "n_samples": n_samples,
                         "channels": n_ch, "n_pulses": 4, "noise_sd": 2.0},
                    ],
                },
            ],
        },
    ]
    msgs = [(t, v) for t, v in run_schedule(script, seed=5) if t == "daq-traces"]
    total_bytes = sum(len(v) for _t, v in msgs)
    spool = os.path.join(workdir, "kafka_spool")
    with MiniBroker() as broker:
        broker.create_topic("daq-traces", partitions=4)
        t0 = time.perf_counter()
        with MiniProducer(broker.bootstrap, compression="gzip") as prod:
            for i, (_t, v) in enumerate(msgs):
                prod.send("daq-traces", v, key=str(i % n_dig).encode())
        produce_s = time.perf_counter() - t0
        cons = consumer_from_options(
            kafka_source_options(broker.bootstrap, ["daq-traces"],
                                 starting_offsets="earliest",
                                 max_offsets_per_trigger=10_000)
        )
        t1 = time.perf_counter()
        n_spooled = spool_to_parquet(cons, spool)
        drain_s = time.perf_counter() - t1
        cons.close()
        # the Spark-native path: format("kafka-wire") batch read, one
        # fetch task per topic-partition (4 here) — the engine-managed
        # alternative to the spool bridge
        from supermusr_data_pipeline_spark.kafka import KafkaWireDataSource

        spark.dataSource.register(KafkaWireDataSource)
        native = (
            spark.read.format("kafka-wire")
            .options(**kafka_source_options(broker.bootstrap, ["daq-traces"],
                                            max_offsets_per_trigger=None))
            .load()
        )
        native.count()  # warm the DataSource Python workers (one-time)
        t_n = time.perf_counter()
        n_native = native.count()
        native_s = time.perf_counter() - t_n
        assert n_native == len(msgs)
    env = (
        spark.read.schema(KAFKA_SPOOL_SCHEMA)
        .parquet(spool)
        .select("key", "value", "topic")
    )
    # warm the Arrow/pandas worker pool on one message (the bench.py
    # warm-up rule) so decode_s measures steady-state decode, not
    # interpreter start-up — standalone runs would otherwise fold ~5 s
    # of one-time cost into the first decode
    decode_dat2(env.limit(1)).count()
    t2 = time.perf_counter()
    n_rows = decode_dat2(env).count()
    decode_s = time.perf_counter() - t2
    assert n_spooled == len(msgs) and n_rows == n_frames * n_dig * n_ch
    total_s = produce_s + drain_s + decode_s
    return {
        "frames": n_frames,
        "messages": len(msgs),
        "payload_mb": round(total_bytes / 1e6, 1),
        "produce_mb_s": round(total_bytes / 1e6 / produce_s, 1),
        "drain_mb_s": round(total_bytes / 1e6 / drain_s, 1),
        "native_source_mb_s": round(total_bytes / 1e6 / native_s, 1),
        "decode_s": round(decode_s, 3),
        "wire_frames_per_sec": round(n_frames / total_s, 1),
    }


def bench_kafka_partition_sweep(spark) -> dict:
    """Scale-out evidence for the wire source (VERDICT r9 #6): the design
    claim is per-topic-partition fetch parallelism with a driver that
    does only ListOffsets metadata calls.  This sweeps the SAME 32x500
    dev2 tape across topic partition counts (2/8/16) and records (a)
    the task split (one fetch task per partition), (b) batch-read drain
    MB/s at each width, (c) the measured driver-side metadata cost
    (oracle construction + earliest/latest ListOffsets), which must stay
    flat in partition count, and (d) the single-connection ceiling
    through the exact executor fetch path.  Round 11 flipped the r10
    inverse curve (114 -> 59.5 MB/s from 2 -> 16 partitions): the
    broker now serves fetches as ONE slice of a pre-encoded log with a
    gather write (no per-record re-encode, no response re-joins), so
    concurrent fetch tasks stop contending on the broker's interpreter
    lock and the drain curve is non-decreasing in partition count, with
    the widest split exceeding the single-connection ceiling.  Local
    caveat that remains: broker and all fetch tasks still share one
    machine's memory bandwidth here; on a real cluster each partition's
    task fetches from its own broker over its own NIC and the same
    split scales further — the control/data separation is identical to
    the JVM source's.  Round 11 adds the MULTI-BROKER point to evidence
    exactly that split in-process: the same 16-way tape over a 4-node
    MiniCluster (leaders spread 4-per-broker, every fetch task dialing
    its leader's own socket) measures FASTER than the single-broker
    16-way point and at the single-connection ceiling — the per-broker
    fan-out carries no topology overhead on the fetch path."""
    from supermusr_data_pipeline_spark.kafka import (
        KafkaWireDataSource,
        MiniBroker,
        MiniProducer,
    )
    from supermusr_data_pipeline_spark.kafka import protocol as P
    from supermusr_data_pipeline_spark.kafka.spark_source import _OffsetOracle
    from supermusr_data_pipeline_spark.sources import messages as M
    from supermusr_data_pipeline_spark.streaming.envelope_stream import (
        kafka_source_options,
    )

    from supermusr_data_pipeline_spark.kafka.spark_source import _fetch_range

    # 800 frames = ~131 MB: big enough that fetch time dominates the
    # ~0.9 s fixed Spark batch-job overhead the 65 MB tape hid behind
    n_frames = int(os.environ.get("SPARK_GRAFT_KAFKA_SWEEP_FRAMES", "800"))
    n_dig, n_events = 32, 500
    ch = [int(e % 8) for e in range(n_events)]
    et = [int(e * 37 % 20_000_000) for e in range(n_events)]
    base_us = 1_700_000_000_000_000
    payloads = []
    for i in range(n_frames):
        md = {
            "ts_ns": (base_us + i * 20_000) * 1000,
            "period_number": 0, "protons_per_pulse": 4, "running": True,
            "frame_number": i, "veto_flags": 0,
        }
        ev = [int((e * 7 + i) % 4096) for e in range(n_events)]
        for d in range(n_dig):
            payloads.append((d, M.encode_dev2(d, md, et, ev, ch)))
    total_mb = sum(len(v) for _d, v in payloads) / 1e6

    spark.dataSource.register(KafkaWireDataSource)
    sweep = {"frames": n_frames, "messages": len(payloads),
             "payload_mb": round(total_mb, 1), "points": {}}

    # ceiling: ONE raw connection draining the whole tape through the
    # exact executor code path (_fetch_range), no Spark machinery.  On
    # this single-process stack the broker and every fetch task share
    # one GIL, so the sweep below CANNOT exceed this number no matter
    # the partition count — on a real cluster each task fetches from a
    # different broker/machine and the split scales instead.  The
    # scale-out evidence is therefore structural: one fetch task per
    # partition (n_fetch_tasks), a driver that stays at ~ms of
    # ListOffsets work regardless of partitions, and this measured
    # single-pipe ceiling for context.
    import statistics

    with MiniBroker() as broker:
        broker.create_topic("ceil", partitions=1)
        with MiniProducer(broker.bootstrap, buffer_max=256) as prod:
            for d, v in payloads:
                prod.send("ceil", v, key=str(d).encode())
        # warm-up pass (numpy/arrow import + page cache) dropped, then
        # median-of-3 (bench methodology: single soaks chase ±20% noise)
        reps = []
        for _ in range(4):
            t0 = time.perf_counter()
            n = sum(
                b.num_rows
                for b in _fetch_range(
                    broker.bootstrap, "ceil", 0, 0, len(payloads)
                )
            )
            reps.append(time.perf_counter() - t0)
            assert n == len(payloads)
        ceil_s = statistics.median(reps[1:])
    sweep["single_connection_ceiling_mb_s"] = round(total_mb / ceil_s, 1)
    warmed = False
    for nparts in (2, 8, 16):
        with MiniBroker() as broker:
            broker.create_topic("daq-events", partitions=nparts)
            with MiniProducer(broker.bootstrap, buffer_max=256) as prod:
                for d, v in payloads:
                    prod.send("daq-events", v, key=str(d).encode())
            opts = kafka_source_options(
                broker.bootstrap, ["daq-events"],
                starting_offsets="earliest", max_offsets_per_trigger=None,
            )
            df = spark.read.format("kafka-wire").options(**opts).load()
            if not warmed:
                df.limit(1).count()  # one-time Python-worker warm-up
                warmed = True
            # rep0 warms THIS width's broker (first contact, page cache)
            # and is dropped; the point is the median of the next 3
            reps = []
            for _ in range(4):
                t0 = time.perf_counter()
                n = df.count()
                reps.append(time.perf_counter() - t0)
                assert n == len(payloads)
            reps = reps[1:]
            drain_s = statistics.median(reps)
            # driver profile: the ONLY per-trigger driver work the source
            # does is this metadata round (plus offset arithmetic)
            t1 = time.perf_counter()
            oracle = _OffsetOracle({k.lower(): v for k, v in opts.items()})
            oracle.offsets_at(P.EARLIEST_TIMESTAMP)
            oracle.offsets_at(P.LATEST_TIMESTAMP)
            oracle.close()
            driver_ms = (time.perf_counter() - t1) * 1000
            sweep["points"][str(nparts)] = {
                "n_fetch_tasks": nparts,
                "drain_mb_s": round(total_mb / drain_s, 1),
                "drain_s": round(drain_s, 3),
                "drain_s_band": [round(min(reps), 3), round(max(reps), 3)],
                "driver_list_offsets_ms": round(driver_ms, 2),
            }

    # the MULTI-BROKER point (round 11): the same tape over a 4-node
    # MiniCluster, 16 partitions spread 4-per-broker — every fetch task
    # dials its own partition's LEADER socket, the per-broker fan-out a
    # real deployment gets.  In-process all four brokers still share one
    # interpreter, so this measures the topology's overhead, not a
    # bandwidth win; parity with the single-broker 16-way point is the
    # claim being evidenced (the data plane splits cleanly, no
    # coordination cost appears on the fetch path).
    from supermusr_data_pipeline_spark.kafka import MiniCluster

    with MiniCluster(n_brokers=4, replication_factor=1) as cluster:
        cluster.create_topic("daq-events", partitions=16)
        with MiniProducer(cluster.bootstrap, buffer_max=256) as prod:
            for d, v in payloads:
                prod.send("daq-events", v, key=str(d).encode())
        opts = kafka_source_options(
            cluster.bootstrap, ["daq-events"],
            starting_offsets="earliest", max_offsets_per_trigger=None,
        )
        df = spark.read.format("kafka-wire").options(**opts).load()
        reps = []
        for _ in range(4):
            t0 = time.perf_counter()
            n = df.count()
            reps.append(time.perf_counter() - t0)
            assert n == len(payloads)
        reps = reps[1:]
        drain_s = statistics.median(reps)
        sweep["points"]["16x4brokers"] = {
            "n_fetch_tasks": 16,
            "n_brokers": 4,
            "drain_mb_s": round(total_mb / drain_s, 1),
            "drain_s": round(drain_s, 3),
            "drain_s_band": [round(min(reps), 3), round(max(reps), 3)],
        }

    # the SECURED replicated-cluster point (round 12): same tape over a
    # 3-node SASL_SSL MiniCluster with rf=2 — the reference's deployment
    # posture (SASL_SSL everywhere, common/src/lib.rs:51-70).  Measures
    # what TLS framing + SCRAM handshakes + authenticated replica
    # fetchers cost the drain path relative to the plaintext points.
    with MiniCluster(
        n_brokers=3, replication_factor=2,
        security_protocol="SASL_SSL",
        scram_users={"svc": "bench-pw", "replicator": "bench-rep"},
        inter_broker_user=("replicator", "bench-rep"),
    ) as cluster:
        cluster.create_topic("daq-events", partitions=8)
        from supermusr_data_pipeline_spark.kafka.auth import (
            SCRAM_SHA_256,
            ClientSecurity,
        )

        sec = ClientSecurity(
            protocol="SASL_SSL", mechanism=SCRAM_SHA_256,
            username="svc", password="bench-pw",
            ca_location=cluster.ssl_ca_location,
        )
        with MiniProducer(
            cluster.bootstrap, buffer_max=256, security=sec
        ) as prod:
            for d, v in payloads:
                prod.send("daq-events", v, key=str(d).encode())
        opts = kafka_source_options(
            cluster.bootstrap, ["daq-events"],
            starting_offsets="earliest", max_offsets_per_trigger=None,
            username="svc", password="bench-pw",
            ssl_ca_location=cluster.ssl_ca_location,
        )
        df = spark.read.format("kafka-wire").options(**opts).load()
        reps = []
        for _ in range(4):
            t0 = time.perf_counter()
            n = df.count()
            reps.append(time.perf_counter() - t0)
            assert n == len(payloads)
        reps = reps[1:]
        drain_s = statistics.median(reps)
        sweep["points"]["8x3brokers_sasl_ssl_rf2"] = {
            "n_fetch_tasks": 8,
            "n_brokers": 3,
            "replication_factor": 2,
            "security": "SASL_SSL + SCRAM-SHA-256",
            "drain_mb_s": round(total_mb / drain_s, 1),
            "drain_s": round(drain_s, 3),
            "drain_s_band": [round(min(reps), 3), round(max(reps), 3)],
        }
    return sweep


def bench_fetchloop_cluster_soak(spark, workdir: str) -> dict:
    """Chaos soak of the FETCH-LOOP door (VERDICT r12 #3): the door
    that owns the 1 s sink-commit budget, paced 50 fps at 32x500 over
    a 3-broker replicated cluster (rf=2, acks=-1 producer,
    min.insync=2) with a wall-clock leader kill + restart mid-soak.
    The loop's re-dial path (nexus_fetchloop poll loop) drops the
    consumer on a connection fault and resumes from the in-memory
    cursor; this proves the recovery spike is bounded under pacing and
    the sink stays exactly-once across the bounce."""
    import threading

    import bench_streaming as BS
    from supermusr_data_pipeline_spark.kafka import MiniProducer
    from supermusr_data_pipeline_spark.kafka.cluster import MiniCluster
    from supermusr_data_pipeline_spark.sources import messages as M
    from supermusr_data_pipeline_spark.streaming.nexus_fetchloop import (
        FetchLoopNexusWriter,
    )

    n_dig = 32
    n_frames = int(os.environ.get("SPARK_GRAFT_CLUSTER_SOAK_FRAMES", "1500"))
    kill_t_s = (n_frames * BS.FRAME_PERIOD_S) / 3
    bounce_s = 2.0
    n_total = BS.N_WARMUP + n_frames

    ch = [int(e % 8) for e in range(BS.EVENTS_PER_MESSAGE)]
    et = [int(e * 37 % 20_000_000) for e in range(BS.EVENTS_PER_MESSAGE)]
    tape = []
    for i in range(n_total):
        md = {
            "ts_ns": (BS._BASE_TS_US + i * int(BS.FRAME_PERIOD_S * 1_000_000))
            * 1000,
            "period_number": i // 1000,
            "protons_per_pulse": 4,
            "running": True,
            "frame_number": i,
            "veto_flags": 1 << (i % 4),
        }
        ev = [int((e * 7 + i) % 4096) for e in range(BS.EVENTS_PER_MESSAGE)]
        tape.append(
            [M.encode_dev2(d, md, et, ev, ch) for d in range(n_dig)]
        )
    end_us = BS._BASE_TS_US + (n_total + 100) * int(
        BS.FRAME_PERIOD_S * 1_000_000
    )
    runs = [
        {
            "run_name": "bench_run",
            "from_us": BS._BASE_TS_US - 1_000_000,
            "until_us": end_us,
        }
    ]
    emit: dict[int, float] = {}
    lock = threading.Lock()

    def on_commit(frames):
        t = time.perf_counter()
        with lock:
            for f in frames:
                emit.setdefault(f, t)

    sink = os.path.join(workdir, "floop_cluster_soak_sink")
    events = {"kill_s": None, "restart_s": None}
    with MiniCluster(
        n_brokers=3, replication_factor=2, min_insync_replicas=2,
        replica_lag_ms=2000,
    ) as cluster:
        cluster.create_topic("daq-events", partitions=4)
        victim = cluster.meta.state("daq-events", 0).leader
        # frame_ttl_ms must cover the WHOLE visibility outage, which is
        # longer than the 2 s bounce: kill -> ISR shrink (replica_lag)
        # -> restart -> truncate/catch-up -> ISR rejoin -> min.insync
        # produces resume can take ~5-6 s.  And unlike the micro-batch
        # door, this loop admits the healthy partitions' half of a frame
        # within ~30 ms, so its TTL clock starts EARLIER by a batch
        # cycle — 5 s was marginal and flaked one run into incomplete
        # TTL dispatches (no duplicates, but missing straggler rows).
        writer = FetchLoopNexusWriter(
            runs, sink, list(range(n_dig)), cluster.bootstrap,
            ["daq-events"], frame_ttl_ms=15_000, on_commit=on_commit,
            poll_ms=10,
        )
        writer.start()
        prod = MiniProducer(cluster.bootstrap, buffer_max=n_dig)

        def send_frame(i):
            for _ in range(600):
                try:
                    for d, payload in enumerate(tape[i]):
                        prod.send("daq-events", payload, key=str(d).encode())
                    prod.flush()
                    return
                except OSError:
                    time.sleep(0.05)
            raise RuntimeError(f"frame {i} unsendable after 30 s of retries")

        for i in range(BS.N_WARMUP):
            send_frame(i)
        deadline = time.time() + 120
        while time.time() < deadline:
            with lock:
                if len(emit) >= BS.N_WARMUP:
                    break
            time.sleep(0.05)

        arrival: dict[int, float] = {}
        t_feed0 = [None]

        def bouncer():
            while t_feed0[0] is None:
                time.sleep(0.01)
            t0 = t_feed0[0]
            time.sleep(max(0.0, t0 + kill_t_s - time.perf_counter()))
            cluster.kill(victim)
            events["kill_s"] = round(time.perf_counter() - t0, 2)
            time.sleep(bounce_s)
            cluster.restart(victim)
            events["restart_s"] = round(time.perf_counter() - t0, 2)

        bt = threading.Thread(target=bouncer, daemon=True)
        bt.start()

        def feeder():
            t0 = time.perf_counter()
            t_feed0[0] = t0
            for i in range(BS.N_WARMUP, n_total):
                rel = i - BS.N_WARMUP
                send_frame(i)
                arrival[i] = time.perf_counter()
                lag = (
                    t0 + (rel + 1) * BS.FRAME_PERIOD_S - time.perf_counter()
                )
                if lag > 0:
                    time.sleep(lag)

        th = threading.Thread(target=feeder, daemon=True)
        th.start()
        deadline = time.time() + n_frames * BS.FRAME_PERIOD_S + 180
        while time.time() < deadline:
            with lock:
                if len(emit) >= n_total:
                    break
            time.sleep(0.05)
        th.join(timeout=15)
        bt.join(timeout=15)
        writer.stop()
        prod.close()
        commit_log = list(writer.commit_log)

    measured = sorted(i for i in range(BS.N_WARMUP, n_total) if i in emit)
    lats = {i: emit[i] - arrival[i] for i in measured if i in arrival}
    lat = sorted(lats.values())
    n_done = len(lat)
    keys = sorted(lats)
    t0 = arrival[keys[0]] if keys else 0.0

    def _p50(vals):
        vals = sorted(vals)
        return round(vals[len(vals) // 2], 4) if vals else None

    kill_abs = (t0 + events["kill_s"]) if events["kill_s"] else None
    pre = [lats[i] for i in keys if kill_abs and arrival[i] < kill_abs]
    # the bounce window: frames arriving from the kill until 8 s after
    # it — the recovery spike lives here
    spike = [
        lats[i] for i in keys
        if kill_abs and kill_abs <= arrival[i] < kill_abs + 8.0
    ]
    last_q = [
        lats[i] for i in keys
        if i >= BS.N_WARMUP + 3 * (n_total - BS.N_WARMUP) // 4
    ]
    recovered = bool(
        pre and last_q and _p50(last_q) <= max(1.5 * _p50(pre), _p50(pre) + 0.5)
    )
    mid = len(commit_log) // 2
    commit_tail = sorted(c["total_s"] for c in commit_log[mid:]) or [None]
    sunk = spark.read.parquet(sink)
    from pyspark.sql import functions as F

    agg = sunk.agg(
        F.count("*").alias("rows"),
        F.countDistinct("frame_number").alias("frames"),
        (F.max("frame_seq") + 1).alias("seqs"),
        F.sum(F.when(~F.col("frame_complete"), 1).otherwise(0)).alias(
            "incomplete_rows"
        ),
    ).collect()[0]
    expected_rows = n_total * n_dig * BS.EVENTS_PER_MESSAGE
    return {
        "shape": f"{n_dig}x{BS.EVENTS_PER_MESSAGE}",
        "door": "fetchloop",
        "n_frames": n_frames,
        "cluster": "3 brokers, rf=2, acks=-1, min.insync=2",
        "bounce": events,
        "frames_done": n_done,
        "keeps_up_across_kill": bool(n_done == n_frames and recovered),
        "pre_kill_p50_s": _p50(pre),
        "recovery_spike_p50_s": _p50(spike),
        "recovery_spike_max_s": (
            round(max(spike), 4) if spike else None
        ),
        "post_recovery_p50_s": _p50(last_q),
        "recovered_to_steady": recovered,
        "latency_p95_s": round(lat[int(n_done * 0.95)], 4) if n_done else None,
        "latency_max_s": round(lat[-1], 4) if n_done else None,
        "commit_work_steady_p50_s": (
            round(commit_tail[len(commit_tail) // 2], 5)
            if commit_tail[0] is not None else None
        ),
        "accounting": {
            "rows": int(agg["rows"]),
            "expected_rows": expected_rows,
            "distinct_frames": int(agg["frames"]),
            "expected_frames": n_total,
            "frame_seq_contiguous": int(agg["seqs"]) == n_total,
            "incomplete_rows": int(agg["incomplete_rows"]),
            "exactly_once": bool(
                int(agg["rows"]) == expected_rows
                and int(agg["frames"]) == n_total
                and int(agg["seqs"]) == n_total
            ),
        },
    }


def run(spark) -> dict:
    global BATCH_DOCS
    out = {"sf_dir": SF_DIR}
    base = tempfile.mkdtemp(prefix="supermusr_kafka_bench_")
    try:
        out["kafka_front_door"] = bench_kafka_front_door(spark, base)
        out["kafka_partition_sweep"] = bench_kafka_partition_sweep(spark)
        out["fetchloop_cluster_soak"] = bench_fetchloop_cluster_soak(
            spark, base
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    # two batch sizes: micro-batch rates on these front doors are
    # fixed-cost-dominated (each batch pays the index-probe joins), so
    # the pair shows how throughput amortizes with batch size — the knob
    # an operator actually turns against an ingest SLA
    base_batch = BATCH_DOCS
    for batch_docs in (base_batch, base_batch * 5):
        base = tempfile.mkdtemp(prefix="supermusr_ingest_bench_")
        prev = BATCH_DOCS
        BATCH_DOCS = batch_docs
        try:
            out[f"shard_ingest_b{batch_docs}"] = bench_shard_ingest(spark, base)
            out[f"vector_ingest_b{batch_docs}"] = bench_vector_ingest(spark, base)
            if batch_docs == base_batch:
                # the lexical door once (its per-batch cost profile matches
                # the other two; the batch-size scaling story is told above)
                out[f"postings_ingest_b{batch_docs}"] = bench_postings_ingest(
                    spark, base
                )
        finally:
            BATCH_DOCS = prev
            shutil.rmtree(base, ignore_errors=True)
    return out


def main() -> None:
    from supermusr_data_pipeline_spark.session import get_spark

    spark = get_spark("supermusr-bench-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps({"metric": "streaming_ingest", **run(spark)}))
    spark.stop()


if __name__ == "__main__":
    main()
