"""SparkSession construction with scale-appropriate defaults.

Local mode is the sandbox stand-in for a multi-executor cluster
(SURVEY.md §6): `local[8]` vs `local[32]` evidences the N -> 4N
scaling rule. All settings below are the ones that matter at real
scale too: AQE for runtime re-planning/skew (SURVEY.md §4.2), Arrow
for the pandas-UDF boundary, shuffle partitions sized to cores
instead of the 200 default.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark.sql import SparkSession

from dygiepp_spark import config as C

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
_PYFILES_ZIP: str | None = None  # this process's package zip


def ensure_pyfiles(spark: SparkSession) -> None:
    """Ship the package to executor python workers — the sandbox
    equivalent of `spark-submit --py-files dygiepp_spark.zip`
    (north_star submission form). Idempotent per session.

    The zip is built once per process in a fresh private temp dir, so
    no file left by an earlier process (one with the same pid, say)
    is ever shipped, and removed at interpreter exit: executors fetch
    it lazily, so it must outlive every session of the process."""
    global _PYFILES_ZIP
    if getattr(spark, "_dygiepp_pyfiles_added", False):
        return
    if _PYFILES_ZIP is None:
        zip_dir = tempfile.mkdtemp(prefix="dygiepp_spark_pyfiles_")
        atexit.register(shutil.rmtree, zip_dir, ignore_errors=True)
        _PYFILES_ZIP = shutil.make_archive(
            os.path.join(zip_dir, "dygiepp_spark"), "zip",
            root_dir=_REPO_ROOT, base_dir="dygiepp_spark")
    spark.sparkContext.addPyFile(_PYFILES_ZIP)
    spark._dygiepp_pyfiles_added = True  # type: ignore[attr-defined]


def _mem_bytes(spec: str) -> int:
    """JVM memory string -> bytes, read the way spark.driver.memory
    reads it: k/m/g/t/p suffixes with an optional trailing 'b', a bare
    'b' for bytes, and no suffix for MiB."""
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)(b?)", spec.strip().lower())
    if m is None:
        raise ValueError(f"unreadable memory size {spec!r}")
    unit = m.group(2) or ("b" if m.group(3) else "m")
    return int(m.group(1)) << 10 * "bkmgtp".index(unit)


def driver_memory() -> str:
    """spark.driver.memory for the local-mode driver, which is also the
    only executor. Defaults to half of MemTotal; SPARK_GRAFT_DRIVER_MEM
    overrides it, and a request above MemTotal raises here, before a
    JVM is started with a heap the host cannot back."""
    with open("/proc/meminfo") as f:
        total = next(int(ln.split()[1]) << 10 for ln in f
                     if ln.startswith("MemTotal:"))
    req = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if req is None:
        return f"{total // 2 >> 20}m"
    if _mem_bytes(req) > total:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={req} asks for more than this "
            f"host's MemTotal of {total >> 20} MiB")
    return req


def get_spark(app_name: str = "dygiepp_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Pin BLAS to one thread per python worker. Spark already supplies
    # the process-level parallelism; multithreaded BLAS inside each of
    # N workers spawns N*cores threads that thrash the scheduler —
    # measured 3x slowdown even single-process on the small matmuls of
    # the decode kernel. Must be set before numpy loads in any worker
    # (workers inherit the JVM env, which inherits this process's).
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
              "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS",
              "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(v, "1")
    # make the package importable in executor python workers (local mode
    # inherits the JVM env); addPyFile via ensure_pyfiles is the
    # cluster-grade path.
    prev = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_REPO_ROOT}{os.pathsep}{prev}" if prev else _REPO_ROOT)
    spark = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64MB advisory size collapses small-but-CPU-heavy
        # intermediate stages (LSH verify, array ops) to one task on
        # test-scale data; 4MB keeps them parallel without exploding
        # task counts at real scale.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(C.ARROW_DOCS_PER_BATCH))
        # local mode: the driver JVM IS the executor; size it for the
        # machine (localCheckpoint blocks + shuffle + Arrow buffers all
        # live here — an undersized heap turns into GC thrash that
        # shows up as mysterious 5x slowdowns mid-benchmark).
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df, min_factor: float = 0.5):
    """Ensure a DataFrame has enough partitions to use the cluster.

    Small single-row-group parquet files (the sandbox test data) scan
    as ONE split, serializing every narrow stage after them. On real
    inputs (thousands of WARC splits) this is a no-op — the guard
    checks the actual partition count and only then pays the
    repartition shuffle.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_factor)):
        return df.repartition(target)
    return df


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally-provided session
    (the driver passes its own SparkSession to __spark_entry__)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(C.ARROW_DOCS_PER_BATCH))
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass
    return spark


def bootstrap_session(app_name: str) -> SparkSession:
    """Entrypoint session acquisition shared by jobs/*: reuse the
    spark-submit-provided session (tuning only semantics-bearing
    conf) or build the local fallback. One definition so all submit
    paths stay in sync."""
    active = SparkSession.getActiveSession()
    if active is not None:
        tune_session(active)
        return active
    spark = get_spark(app_name=app_name)
    ensure_pyfiles(spark)
    return spark
