"""Start and stop the Spark session of a Spark workload.

Sessions come from the program's own ``session.get_spark`` (the settings
every query runs under), with every scratch path moved inside the run's
work directory.  ``stop`` also ends the JVM and waits for it, so no Spark
process outlives the run; a later ``start`` launches a fresh JVM.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

DRIVER_MEMORY = "2g"


def start(app: str, cores: int, workdir: str):
    from supermusr_data_pipeline_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # the heap is committed up front so the JVM's resident set
            # does not depend on when the collector chose to grow it; its
            # scratch files stay in the run
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


@contextmanager
def job_group(spark, name: str):
    """Tag every job started inside the block with ``name``; yields a
    dict that receives the block's wall time as ``"s"``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    box = {}
    t0 = time.monotonic()
    try:
        yield box
    finally:
        box["s"] = time.monotonic() - t0
        box["start"], box["end"] = t0, t0 + box["s"]
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
