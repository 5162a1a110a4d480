"""Shared pieces of the benchmark: the work directory, percentiles, the
process-tree memory reading, the span tracer and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout the benchmark measures
WORK = os.path.join(ROOT, ".perfbench_work")  # per-run scratch, wiped
OUT = os.path.join(ROOT, ".perfbench_out")  # spans of traced runs


def prepare_workdir(name: str) -> str:
    """A fresh scratch directory inside the checkout; every temporary file
    of the run (Spark local dirs, the program's $TMPDIR index artifacts,
    sinks) lands under it, never outside the checkout."""
    d = os.path.join(WORK, name)
    shutil.rmtree(d, ignore_errors=True)
    tmp = os.path.join(d, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (Spark's launcher too) would otherwise keep a perf-data
    # file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    return d


def import_program() -> None:
    """Make the checkout's package importable; a directory holding only
    the benchmark fails here, before any result is printed."""
    sys.path.insert(0, ROOT)
    import supermusr_data_pipeline_spark  # noqa: F401


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (a Spark
    worker whose JVM ended, say), so ``reap_children`` can wait for them
    instead of leaving them to init."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(timeout: float = 30.0) -> None:
    """Stop every process the run started and wait until each has ended.

    The ``spawn`` start method launches multiprocessing's resource
    tracker, which would otherwise outlive the run; it ends when its pipe
    closes.  Whatever else is still running after ``timeout`` is killed.
    """
    import signal
    import time
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + timeout
    while True:
        while True:  # collect the ended ones
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return  # no children left
            if pid == 0:
                break
        if time.monotonic() > deadline:
            for pid in _children_map().get(os.getpid(), []):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def pctl(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = max(0, min(len(xs) - 1, math.ceil(q / 100 * len(xs)) - 1))
    return float(xs[k])


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("median of no values")
    return float(xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2)


def slope(xs, ys) -> float:
    """Least-squares slope of ys over xs (0 for fewer than two points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree_pids() -> list[int]:
    """This process and all its descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum over this process and all its live descendants (JVM, Python
    UDF workers, generator) of each process's peak resident set (VmHWM),
    in MB."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class Tracer:
    """In-memory spans (name, id, start, end, parent); written out once
    when the run ends.  ``id`` groups the spans of one request (a frame
    number, a query name, a pass number)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, sid, start: float, end: float,
            parent: str | None = None, **attrs) -> None:
        self.spans.append(
            {"name": name, "id": sid, "start": start, "end": end,
             "parent": parent, **attrs}
        )

    def dump(self, workload: str, seed: int) -> str:
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"spans_{workload}_seed{seed}.jsonl")
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
        return path


def report(metrics: dict[str, tuple[float, str]], human: dict | None = None) -> None:
    """Print every metric by name and unit (one line each), then any
    extra named figures."""
    for name, (value, unit) in metrics.items():
        print(f"  {name:<44} {value:>14.4f} {unit}")
    for name, (value, unit) in (human or {}).items():
        print(f"  {name:<44} {value:>14.4f} {unit}")


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )
