"""SparkSession factory with the scale-oriented defaults this pipeline
assumes.

The production deployment target is ``spark-submit --py-files`` on a
multi-executor cluster over Iceberg tables at 10^12-turn scale; in this
sandbox everything runs on ``local[N]``. The confs below are the ones
that matter at both scales:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow execution for every pandas UDF stage (the whole extraction path
  is Arrow-batched; per-row Python is banned by design),
- bounded Arrow batch size so a mega-conversation document cannot blow
  an executor (cf. SURVEY.md §4 spill notes),
- shuffle partitions sized for the local core count; on a real cluster
  leave ``spark.sql.shuffle.partitions`` to AQE's coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap_gb() -> int:
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return max(1, min(48, int(ram_gb / 2)))


def build_spark(
    app_name: str = "ontocast-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # CPU-bound pandas-UDF stages follow these shuffles: coalescing
        # by byte size would starve them of parallelism (triple/doc rows
        # are tiny but cost real Python CPU) — keep the coalesce floor
        # low so post-shuffle task count stays near the core count
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # scan-split floor (guide §6): the default 4 MB openCostInBytes
        # caps split granularity at 4 MB, so an input table smaller than
        # cores x 4 MB scans on a handful of tasks (measured: a 5.6 MB
        # parquet file scanned on 2 of 32 cores; every expression-heavy
        # per-row operator then runs at 1/16 of machine parallelism).
        # 128 KB keeps small inputs parallel while leaving large-file
        # splitting governed by maxPartitionBytes exactly as before; for
        # corpora of MANY tiny files raise it back via env (low open
        # cost packs more files per task there).
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "131072"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs every task thread in the driver JVM — size the
        # heap for executor-grade work (128 GiB box; 48g leaves room for
        # the 32 Python workers and tmpfs shuffle), but never past half
        # the machine's RAM: on a 15 GiB box a 48g cap let the test
        # suite's JVM grow to 15 GB and be OOM-killed
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", f"{_default_heap_gb()}g"))
        .config("spark.ui.enabled", "false")
    )
    # shuffle spill to tmpfs when available: local-mode shuffle I/O on a
    # shared disk otherwise serializes the scaling curve (on a real
    # cluster each executor has its own local disks)
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        builder = builder.config(
            "spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
