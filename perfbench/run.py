"""The repository benchmark: one command for every workload.

    python3 perfbench/run.py --workload live_daq --seed 1 --seconds 30 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the
separate traced run that gives the per-layer metrics, writes its spans to
``.perfbench_out/`` and reports tracing overhead.  Human-readable figures
come first; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  The metric names and
units are those of ``BENCHMARK.json``; a per-layer metric of a layer the
workload does not use reads 0.  The exit code is non-zero when any output
failed its correctness gate.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    ROOT, adopt_orphans, import_program, prepare_workdir, reap_children,
    report, result_line,
)

WORKLOADS = ("live_daq", "batch_daq", "corpus_curation")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import_program()
    workdir = prepare_workdir(args.workload)
    traced = bool(args.trace)

    t0 = time.monotonic()
    if args.workload == "live_daq":
        import live_daq as mod
    elif args.workload == "batch_daq":
        import batch_daq as mod
    else:
        import corpus_curation as mod
    adopt_orphans()
    try:
        res = mod.run(args.seed, args.seconds, traced, workdir)
    finally:
        reap_children()
        shutil.rmtree(workdir, ignore_errors=True)

    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"({time.monotonic() - t0:.1f} s)")
    report(res["e2e"], res["human"])
    if traced:
        print(f"  spans: {res['tracer'].dump(args.workload, args.seed)}")
        metrics = {}
        for m in spec["per_layer"]:
            value, _unit = res["layers"].get(m["name"], (0.0, m["unit"]))
            metrics[m["name"]] = (value, m["unit"])
        report(res["layers"])
    else:
        metrics = {m["name"]: (res["e2e"][m["name"]][0], m["unit"])
                   for m in spec["end_to_end"]}
    print(result_line(res["correct"], res["attempted"], res["failed"], metrics))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
