"""Readers for the driver-provided parquet test tables (TESTDATA.md).

Plain ``spark.read.parquet`` — columnar scan with predicate pushdown and
column pruning supplied by Catalyst.  At cluster scale the same call reads a
partitioned table; nothing here assumes local mode.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# columns that some generator versions store as parquet TIMESTAMP(NANOS),
# which the vectorized Spark reader rejects; read as BIGINT ns
# (legacy.parquet.nanosAsLong) and convert.  Newer generator versions store
# plain TIMESTAMP(MICROS), which reads directly — detect by the parquet
# footer so the legacy conf is only set when the data actually needs it.
_NANOS_TS_COLS = {"events": ["ts"]}

# footer sample size for the mixed-generation check: a directory is assumed
# era-uniform (one generator version per dataset); we verify that assumption
# on a bounded sample of part files rather than reading every footer on the
# driver (at 100 TB a full footer sweep is its own job).  The sample is an
# even SPREAD (first/last/stride over the sorted listing), not a sorted
# prefix — a deviant-era file appended late in the listing is the common
# way mixes happen (a re-run with a newer generator), and a prefix-only
# check would wave it through to a confusing scan-time failure.
_FOOTER_SAMPLE = 16


def _footer_dtypes(path: str, col: str) -> set[str]:
    """Parquet-footer dtype(s) of `col` across (an even spread of) part
    files.  Sampling bound: a mix confined to fewer than every
    len(files)/_FOOTER_SAMPLE-th file can escape detection and surface as
    a scan-time type error instead."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if len(files) > _FOOTER_SAMPLE:
            step = (len(files) - 1) / (_FOOTER_SAMPLE - 1)
            files = [files[round(i * step)] for i in range(_FOOTER_SAMPLE)]
    else:
        files = [path]
    kinds = set()
    for f in files:
        schema = pq.read_schema(f)
        if col in schema.names:
            kinds.add(str(schema.field(col).type))
    return kinds


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _NANOS_TS_COLS.get(name, [])
    if not ns_cols:
        return spark.read.parquet(path)

    for c in ns_cols:
        try:
            kinds = _footer_dtypes(path, c)
        except Exception:
            # footer not inspectable (exotic fs) — preserve the permissive
            # legacy behavior: allow nanos, branch on the bound dtype below
            kinds = {"timestamp[ns]"}
        if len(kinds) > 1:
            raise ValueError(
                f"{path}: column `{c}` has mixed parquet types across part "
                f"files ({sorted(kinds)}) — the directory mixes generator "
                "eras (NANOS vs MICROS); re-generate the dataset with one "
                "generator version"
            )
        if any(k.startswith("timestamp[ns") or k == "int64" for k in kinds):
            # only the NANOS era needs the legacy flag; setting it is sticky
            # for the session (tasks re-read footers at execution time, so a
            # set-and-restore around the lazy read() would corrupt the scan)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for c in ns_cols:
        if dtypes.get(c) == "bigint":
            # integer division — double arithmetic would lose ns precision
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            # NTZ wall clocks are UTC by generator contract.  The conversion
            # is scoped to the COLUMN: wall-clock microseconds since the NTZ
            # epoch are an instant by definition, with no dependence on
            # spark.sql.session.timeZone — a plain cast would read the wall
            # time in the session zone, and pinning the session zone here
            # would silently clobber a caller's deliberate setting for every
            # later, unrelated query.
            df = df.withColumn(
                c,
                F.expr(
                    "timestamp_micros(timestampdiff(MICROSECOND, "
                    f"timestamp_ntz'1970-01-01 00:00:00', `{c}`))"
                ),
            )
        # plain "timestamp" is already a TZ-independent instant: leave it
    return df


# spread_scan task size: ~1 s of tokenize+md5 or IVF/PQ encode per task
_SPREAD_BYTES_PER_TASK = 64 * 1024


def spread_scan(df: DataFrame) -> DataFrame:
    """Unsplittable-input guard for compute-heavy passes (optimization
    guide §2.5: "one huge unsplittable file → repartition immediately
    after the read").

    The driver's test tables are one parquet file with ONE row group, so
    a scan is a single input split and everything narrow downstream
    (tokenize + per-token md5, IVF/PQ/SQ8 encodes, n-gram explodes) runs
    in one task regardless of core count.  When the scan yields fewer
    partitions than the session's default parallelism, round-robin
    repartition to default parallelism so the heavy map work fans out;
    the shuffled rows are the scan's output (call this AFTER projecting
    to the columns the pass needs — guide §2.3).

    The fan-out is SIZE-DERIVED, not a core-count constant: target =
    clamp(plan sizeInBytes / bytes_per_task, 1, defaultParallelism).
    The passes this guards are compute-dense (~10-20 s CPU per on-disk
    MB measured for tokenize+md5 minhash and the IVF/PQ encodes), and
    each first-run task of a giant-expression stage pays a fixed JVM
    warm-up premium (~0.3-0.5 s, measured r14: a 32-way spread of a
    0.3 s-CPU pass burned 14.6 CPU-s on first run, 0.9 s warmed), so
    tasks are sized so per-task compute dominates that premium: 64
    KiB/task ≈ 1 s of compute.  Fresh-session A/B at sf0.1: fan-out 8
    beat both 1 and 32 on EVERY heavy query (total 29.5 s vs 37.7 /
    37.4).  A huge table clamps to defaultParallelism, and one that
    already scans as >= target splits (any real multi-file layout)
    passes through untouched — so cluster behavior is unchanged.
    Round-robin keeps Spark's sort-before-repartition determinism under
    task retry (SPARK-23207)."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover — stats unavailable: full fan-out
        size = None
    target = dp if size is None else max(1, min(dp, size // _SPREAD_BYTES_PER_TASK))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so plans can be written in SQL."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
