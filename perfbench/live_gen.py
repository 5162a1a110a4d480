"""The live_daq load generator: its own process, holding the broker
(``kafka.MiniBroker``) and a producer, so neither shares the interpreter
lock of the door under test.

Every frame is 32 dev2 digitiser messages of 500 events (the reference
instrument), with event payloads drawn from ``(seed, frame number)``.
Each frame carries its due time on ``CLOCK_MONOTONIC`` (``time.monotonic``
is system-wide on Linux), so the door process can time a frame from when
it was due to when it was committed.

Commands arrive on ``cmd`` and replies leave on ``evt`` (both
``multiprocessing`` connections):

* ``("encode", first, n)`` pre-encodes frames ``first .. first+n-1``;
* ``("open", rate)`` sends them open loop, frame k due at t0 + k/rate;
* ``("closed", window, committed)`` sends them closed loop, at most
  ``window`` frames in flight; the door reports its running committed
  count as ``("c", count)`` messages;
* ``("stop",)`` ends the process.

Each send phase replies ``("done", due, late)``: per frame, the due time
and how late the send started (both seconds).
"""

from __future__ import annotations

import sys
import time

N_DIGITISERS = 32
EVENTS_PER_MESSAGE = 500
FRAME_PERIOD_NS = 20_000_000  # frame timestamps step at the 50 Hz beam
BASE_TS_NS = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z
TOPIC = "daq-events"
PARTITIONS = 4


def frame_payloads(seed: int, frame: int) -> list[bytes]:
    import numpy as np

    from supermusr_data_pipeline_spark.sources import messages as M

    rng = np.random.default_rng([seed, frame])
    shape = (N_DIGITISERS, EVENTS_PER_MESSAGE)
    chan = rng.integers(0, 8, shape, dtype=np.uint32)
    t = np.sort(rng.integers(0, FRAME_PERIOD_NS, shape, dtype=np.uint32), axis=1)
    volt = rng.integers(1, 4096, shape, dtype=np.uint16)
    md = {
        "ts_ns": BASE_TS_NS + frame * FRAME_PERIOD_NS,
        "period_number": 0,
        "protons_per_pulse": 4,
        "running": True,
        "frame_number": frame,
        "veto_flags": 0,
    }
    return [
        M.encode_dev2(d, md, t[d], volt[d], chan[d]) for d in range(N_DIGITISERS)
    ]


def generator_main(seed: int, root: str, cmd, evt) -> None:
    sys.path.insert(0, root)
    from supermusr_data_pipeline_spark.kafka import MiniBroker, MiniProducer

    keys = [str(d).encode() for d in range(N_DIGITISERS)]
    with MiniBroker() as broker:
        broker.create_topic(TOPIC, partitions=PARTITIONS)
        prod = MiniProducer(broker.bootstrap, buffer_max=4 * N_DIGITISERS)

        def send(payloads) -> None:
            for k, p in zip(keys, payloads):
                prod.send(TOPIC, p, key=k)
            prod.flush()

        evt.send(("ready", broker.bootstrap))
        tape: list[list[bytes]] = []
        while True:
            msg = cmd.recv()
            if msg[0] == "c":
                continue  # a commit report that arrived after its phase
            if msg[0] == "stop":
                break
            if msg[0] == "encode":
                _, first, n = msg
                t0 = time.monotonic()
                tape = [frame_payloads(seed, first + k) for k in range(n)]
                evt.send(("encoded", time.monotonic() - t0))
                continue
            due = [0.0] * len(tape)
            late = [0.0] * len(tape)
            if msg[0] == "open":
                rate = float(msg[1])
                t0 = time.monotonic() + 0.05
                for k, payloads in enumerate(tape):
                    due[k] = t0 + k / rate
                    wait = due[k] - time.monotonic()
                    if wait > 0:
                        time.sleep(wait)
                    late[k] = time.monotonic() - due[k]
                    send(payloads)
            elif msg[0] == "closed":
                _, window, committed = msg
                base = committed
                for k, payloads in enumerate(tape):
                    while k - (committed - base) >= window:
                        m = cmd.recv()
                        if m[0] == "c":
                            committed = m[1]
                    due[k] = time.monotonic()
                    send(payloads)
            else:
                raise ValueError(f"unknown command {msg!r}")
            tape = []
            evt.send(("done", due, late))
        prod.close()
