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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        # so 4096 is a sane production default too; override via env.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                os.environ.get("SPARK_GRAFT_LISTING_THRESHOLD", "4096"))
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
    for k, v in (extra_conf or {}).items():
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
