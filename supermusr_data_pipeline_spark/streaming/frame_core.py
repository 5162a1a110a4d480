"""The frame and run decisions every NeXus sink door shares.

The two doors (``nexus_fetchloop``, ``nexus_stream``) differ in how
frames reach the driver — Arrow batches off an in-process consumer,
Spark slim rows behind the applyInPandasWithState FSM — but not in what
they decide about them.  Those decisions live here, once:

* when a pending frame dispatches, and the tombstone that then rejects
  its late messages (digitiser-aggregator/src/frame/cache.rs:55-74);
* which run a frame belongs to (the J1 predicate,
  nexus-writer/src/run_engine/run/run_parameters.rs:156-175) and its
  per-run ``frame_seq`` / ``event_time_zero`` / ``event_index``,
  continued from the runs' totals so far;
* the name of a run's partition directory in the sink.

Pure Python: Spark is imported only when a runs DataFrame has to be
collected, so the fetch loop runs without a Spark session.
"""

from __future__ import annotations

import re

_ESCAPED = set('"#%\'*/:=?\\{[]^')


def quote(name: str) -> str:
    """Escape a partition VALUE for a ``run_name=<value>`` directory name,
    with Spark's ExternalCatalogUtils.escapePathName character set — so a
    directory a door writes is byte-identical to what
    ``partitionBy("run_name")`` produces and partition discovery decodes
    it to the same value."""
    return "".join(
        "%%%02X" % ord(c) if ord(c) < 0x20 or c == "\x7f" or c in _ESCAPED
        else c
        for c in name
    )


def unquote(name: str) -> str:
    """Inverse of :func:`quote` (Spark's unescapePathName)."""
    return re.sub(
        "%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


def run_dir_name(run_name: str) -> str:
    """The sink directory holding one run's part files."""
    return "run_name=" + quote(run_name)


def runs_snapshot(runs) -> list[dict]:
    """The runs dimension as ``{run_name, from_us, until_us}`` dicts
    (integer microseconds; ``until_us`` None for an open run).  ``runs`` is
    a RUN_SCHEMA DataFrame — collected once here, it is a tiny table, as
    the reference writer holds it in memory (run_engine/engine.rs:54-80) —
    or an already collected list of such dicts, returned as is."""
    if isinstance(runs, list):
        return runs
    from pyspark.sql import functions as F

    return [
        r.asDict()
        for r in runs.select(
            "run_name",
            F.unix_micros("collect_from").alias("from_us"),
            F.unix_micros("collect_until").alias("until_us"),
        ).collect()
    ]


def match_runs(frames, runs: list[dict], totals: dict):
    """Run matching and frame sequencing for one set of frames.

    ``frames``: ``(key, n_events)`` pairs, where ``key`` is the frame key
    ``(ts_us, period_number, protons_per_pulse, running, frame_number)``.
    ``runs``: :func:`runs_snapshot` rows.  ``totals``: each run's
    ``(next frame_seq, next event_index)`` before these frames.

    Runs are visited in order and, within a run, frames in
    ``(ts_us, frame_number)`` order; a frame matches every run with
    ``from_us < ts_us < until_us`` (no upper bound while the run is open),
    so overlapping runs each get it.  A matched frame takes the run's next
    ``frame_seq`` and its running ``event_index``, and advances the latter
    by ``max(n_events, 1)`` — a zero-event frame is written as one null
    row.

    Returns ``(assigned, per_run)``: ``assigned`` lists
    ``(run_name, position in frames, frame_seq, event_time_zero,
    event_index)`` with ``event_time_zero`` in ns since the run's start;
    ``per_run`` holds the new totals of every run that matched a frame."""
    order = sorted(
        range(len(frames)), key=lambda i: (frames[i][0][0], frames[i][0][4])
    )
    assigned = []
    per_run: dict[str, tuple[int, int]] = {}
    for run in runs:
        name, from_us, until_us = run["run_name"], run["from_us"], run["until_us"]
        for pos in order:
            key, n_events = frames[pos]
            ts_us = key[0]
            if from_us < ts_us and (until_us is None or ts_us < until_us):
                seq, idx = per_run.get(name, totals.get(name, (0, 0)))
                assigned.append((name, pos, seq, (ts_us - from_us) * 1000, idx))
                per_run[name] = (seq + 1, idx + max(n_events, 1))
    return assigned, per_run


class FrameState:
    """A pending frame: contributing digitisers, OR'd veto flags, event
    count, and the processing time of its FIRST message, from which its
    TTL runs (frame/partial.rs:30-40)."""

    __slots__ = ("dids", "veto", "first_ms", "n_events")

    def __init__(self, first_ms: int):
        self.dids: set[int] = set()
        self.veto = 0
        self.first_ms = first_ms
        self.n_events = 0


def is_complete(dids, expected: list[int]) -> bool:
    """Every expected digitiser (``expected`` sorted) has contributed."""
    return sorted(dids) == expected


def pick_dispatch(
    pending: dict,
    tombstones: dict,
    expected: list[int],
    now_ms: int,
    frame_ttl_ms: int,
    tombstone_ttl_ms: int,
) -> list:
    """Take every due frame out of ``pending`` and return its
    ``(key, state)`` pairs.  A pending :class:`FrameState` is due once
    complete or once ``frame_ttl_ms`` has passed since its FIRST message
    arrived (frame/partial.rs:30-40).  Each dispatched key gets a
    tombstone until ``now_ms + tombstone_ttl_ms`` (a late message for it
    is rejected and re-arms it, cache.rs:55-63); tombstones expired at
    ``now_ms`` are then pruned.  Mutates ``pending`` and ``tombstones``."""
    dispatch = [
        (key, fs) for key, fs in pending.items()
        if is_complete(fs.dids, expected)
        or now_ms - fs.first_ms >= frame_ttl_ms
    ]
    until = now_ms + tombstone_ttl_ms
    for key, _fs in dispatch:
        del pending[key]
        tombstones[key] = until
    for key in [k for k, e in tombstones.items() if e <= now_ms]:
        del tombstones[key]
    return dispatch
