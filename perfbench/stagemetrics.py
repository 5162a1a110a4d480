"""Per-job-group Spark metrics, read from the driver's status store.

``SparkContext.statusStore()`` is the store behind the web UI and the REST
API, and it is populated with ``spark.ui.enabled=false`` too, so no UI or
HTTP server is needed.  It is private Spark API reached through py4j;
``test_stagemetrics.py`` pins the calls used here, so a Spark upgrade
that moves them fails that test rather than this benchmark's numbers.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0  # summed task run time
    cpu_s: float = 0.0  # summed task CPU time
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0  # spilled to disk
    job_wall_ms: list = field(default_factory=list)
    exchanges: int = 0  # stages that wrote shuffle output

    def add(self, other: "GroupMetrics") -> None:
        for f in ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s",
                  "shuffle_write_mb", "spill_mb", "exchanges"):
            setattr(self, f, getattr(self, f) + getattr(other, f))
        self.job_wall_ms += other.job_wall_ms


def _seq(jvm, scala_seq) -> list:
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    return list(conv.asJava(scala_seq))


def _opt(o):
    return o.get() if o.isDefined() else None


def read_groups(spark) -> dict[str, GroupMetrics]:
    """Metrics of every job recorded so far, keyed by job group ('' for
    jobs outside any group)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jvm = sc._jvm
    jsc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = jsc.statusStore()
    empty = jvm.java.util.ArrayList()
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = {}
    for job in _seq(jvm, store.jobsList(empty)):
        group = _opt(job.jobGroup()) or ""
        g = out.setdefault(group, GroupMetrics())
        g.jobs += 1
        sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
        if sub is not None and done is not None:
            g.job_wall_ms.append(done.getTime() - sub.getTime())
        for sid in _seq(jvm, job.stageIds()):
            stage_group[int(sid)] = group
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = store.stageList(empty, False, False, no_quantiles, empty)
    for st in _seq(jvm, stages):
        if str(st.status()) not in ("COMPLETE", "FAILED"):
            continue  # skipped (shuffle output reused) or never ran
        g = out.setdefault(stage_group.get(st.stageId(), ""), GroupMetrics())
        g.stages += 1
        g.tasks += st.numCompleteTasks() + st.numFailedTasks()
        g.failed_tasks += st.numFailedTasks()
        g.run_s += st.executorRunTime() / 1e3
        g.cpu_s += st.executorCpuTime() / 1e9
        g.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
        g.spill_mb += st.diskBytesSpilled() / 1e6
        if st.shuffleWriteBytes() > 0:
            g.exchanges += 1
    return out


def spark_layers(layers: dict, g: GroupMetrics | None, wall_s: float,
                 cores: int, passes: int) -> None:
    """The ``spark.*`` per-layer metrics of ``g`` (jobs of ``passes``
    passes that took ``wall_s`` together on ``cores`` cores), per pass."""
    g = g or GroupMetrics()
    wall_ms = sorted(g.job_wall_ms)
    layers["spark.jobs"] = (g.jobs / passes, "count")
    layers["spark.stages"] = (g.stages / passes, "count")
    layers["spark.tasks"] = (g.tasks / passes, "count")
    layers["spark.failed_tasks"] = (g.failed_tasks, "count")
    layers["spark.task_run_s"] = (g.run_s / passes, "s")
    layers["spark.task_cpu_s"] = (g.cpu_s / passes, "s")
    layers["spark.core_busy_share"] = (
        g.run_s / (cores * wall_s) if wall_s else 0.0, "ratio")
    layers["spark.job_wall_ms_p50"] = (
        wall_ms[len(wall_ms) // 2] if wall_ms else 0.0, "ms")
    layers["spark.shuffle_write_mb"] = (g.shuffle_write_mb / passes, "MB")
    layers["spark.spill_mb"] = (g.spill_mb / passes, "MB")
