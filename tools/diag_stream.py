#!/usr/bin/env python
"""Diagnostic: run the streaming envelope bench at a reduced shape for
fast iteration on the door latency floors (VERDICT r6 #1).

The bench itself publishes the decompositions (the fetch loop's
per-commit split; the FSM door's engine durationMs medians + the sink's
fsm/write phase log), so this tool is just a thin wrapper that shrinks
the soak: DIAG_FRAMES (default 300) frames at 8 digitisers only
(SPARK_GRAFT_STREAM_FRAMES_FSM shortens the FSM door's soak).
`python tools/diag_stream.py` prints the bench dict pretty-printed.

Not part of the bench contract; a working tool for the latency attack.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench_streaming as bs  # noqa: E402


def main() -> None:
    from supermusr_data_pipeline_spark.session import get_spark

    n_frames = int(os.environ.get("DIAG_FRAMES", "300"))
    bs.SHAPES = [(8, n_frames)]

    spark = get_spark("supermusr-diag-stream")
    spark.sparkContext.setLogLevel("ERROR")
    out = bs.run(spark)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
