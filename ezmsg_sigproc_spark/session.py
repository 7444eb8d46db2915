"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on (runtime
re-plan, skew-join splitting, partition coalescing), Arrow enabled for every
pandas-UDF kernel, UTC session timezone so epoch math is unambiguous, and
shuffle partitions sized to the core count instead of the 200 default.

Every Python-stage task (mapInArrow, mapInPandas, applyInPandas) costs its
worker a fixed amount of CPU, whatever its size, so the engine sizes Python
stages in tasks per core. Measured with an identity ``mapInArrow`` over 8
one-row partitions at ``local[4]`` on a 4-vCPU host (Python 3.11, pyspark
imported by the workers from ``pyspark.zip``): 1.25–1.78 worker CPU-s per
job (~0.2 s per task) before the package's zip guard, 0.14–0.20 CPU-s
(~20 ms per task) with it. Almost all of the difference was the workers
re-reading ``pyspark.zip``'s directory on every task (see ``zipguard.py``).

The driver JVM runs a fork-free ``file://`` filesystem
(``jvm/NoForkLocalFileSystem.java``). pyspark ships no native ``libhadoop``,
so Hadoop's local filesystem starts a ``chmod`` process for each file and
directory Spark's Hadoop writers create (``.crc`` files included), and
``readlink`` processes for each ``FileContext`` rename of a streaming
offset, commit or state file. The replacement does both through
``java.nio``; everything else, the ``.crc`` layout included, is the stock
code. Measured with ``perfbench`` at ``local[4]`` on a 4-vCPU host
(processes counted as the ``/proc/loadavg`` last-PID delta; CPU is
utime+stime of the JVM, its Python workers and reaped children): an
``ingest`` operation (8,000 docs) went from 2,823 processes and 17.0–17.9
CPU-s to 147 processes and 14.9–15.1 CPU-s, and a ``backfill`` pass from
813–835 processes and 8.9–9.5 CPU-s to 65–161 and 7.2–8.0. ``get_spark``
compiles the class with ``javac`` into the per-user kernel cache (~0.8 s
wall when the cache is cold) and installs it only when it launches the
driver JVM itself. Without javac, or when the build or the cache's
ownership checks fail, it writes one stderr line and Spark keeps its stock
filesystem. So does a job under spark-submit, where the JVM is already
running: there every Spark write forks ``chmod`` per file, the
``RollupStore`` bucket write (``plans/rollup_tiers.py``) included.
"""

from __future__ import annotations

import glob
import os
import pkgutil
import sys

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from .operators import native_build

_LOCAL_FS = "ezsp.NoForkLocalFileSystem"


def _launches_jvm() -> bool:
    """Whether a session started now launches the driver JVM: no gateway is
    running and spark-submit did not start this Python."""
    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def engine_on_worker_path() -> None:
    """Put the directory holding this package first on the ``PYTHONPATH``
    that the driver JVM inherits, and so its Python workers, when this
    process is about to launch the JVM. Workers import the engine to
    unpickle its UDFs; without this they find it only when the JVM's working
    directory happens to hold it. Under spark-submit ``--py-files`` ships
    the engine instead, and nothing is changed."""
    if not _launches_jvm():
        return
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")


def _local_fs_sources() -> tuple[str, str]:
    """The filesystem's Java source, and Spark's Hadoop API jar to build it
    against."""
    src = pkgutil.get_data(__package__, "jvm/NoForkLocalFileSystem.java").decode()
    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    return src, os.pathsep.join(jars)


def _local_fs_conf() -> dict:
    """Spark conf that installs the fork-free ``file://`` filesystem
    (``jvm/NoForkLocalFileSystem.java``), built into the per-user kernel
    cache. Empty when this process does not launch the driver JVM (a
    gateway is running, or spark-submit started this Python): the classes
    cannot join a running JVM's classpath, and naming them anyway fails
    every file operation with ClassNotFoundException. Empty, after one
    stderr line, when they cannot be built."""
    if not _launches_jvm():
        return {}
    fallback = "using Hadoop's stock local filesystem"
    try:
        src, classpath = _local_fs_sources()
    except Exception as e:
        sys.stderr.write(f"NoForkLocalFileSystem unavailable ({e!r}); {fallback}\n")
        return {}
    classes = native_build.java_classes("NoForkLocalFileSystem", src, classpath, fallback)
    if classes is None:
        return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": _LOCAL_FS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": _LOCAL_FS + "$Fs",
    }


def get_spark(
    app_name: str = "ezmsg_sigproc_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing is byte-based, but pandas-UDF stages cost per ROW
        # (Python worker + per-group Arrow overhead): with the default 1 MB
        # minPartitionSize a small shuffle collapses to ONE task and every
        # applyInPandas group runs serially on a single core (measured 5× on
        # the sf0.1 IIR/EWMA queries). parallelismFirst stays on; a 64 KB
        # floor lets tiny shuffles keep core-count parallelism without
        # fragmenting mid-size shuffles into task-overhead confetti (16 KB
        # cost the LSH join ~10%); at real scale partitions are far above
        # either threshold, so this is a no-op on a 1000-executor cluster.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Partition discovery below this many paths is a driver-side threaded
        # listing; above it Spark launches a LISTING JOB whose scheduling
        # overhead dwarfs the listing itself for hundreds of local dirs
        # (measured: re-opening a 720-bucket RollupStore tier cost 1.4 s with
        # the default 32, 0.1 s at 4096). On a cluster against an object
        # store the job path only wins once a table has many thousands of
        # partitions — after ts_bucket pruning our reads touch far fewer —
        # so 4096 is a sane production default too.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # keep stage-progress \r-bars off stdout: the driver's bench capture
        # keeps only a ~2000-char tail of combined output, and the bars
        # flooded it past the summary JSON line in rounds 3-5
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    conf = _local_fs_conf()
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraClassPath" and k in conf:
            v = conf[k] + os.pathsep + v
        conf[k] = v
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register driver testdata parquet files as temp views; return dict of DFs."""
    names = names or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
