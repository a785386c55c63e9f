"""SparkSession factory with the configuration this engine assumes.

Scale notes (the sandbox runs local[N]; the design targets a 1000-executor
cluster over ~100 TB):

* AQE on: runtime coalescing of the post-dedup shuffle and skew-join
  splitting are load-bearing at cluster scale (hot conv_id partitions).
* Arrow on + a large-but-bounded Arrow batch size: the decode stage is a
  ``mapInArrow`` kernel; batch size bounds executor-side Python memory the
  same way the reference bounds its single packet buffer
  (/root/reference/packet.cc:288-301 grows one buffer; we cap batch rows).
* shuffle.partitions defaults to the local core count (at least 8); a
  real deployment sets it to ~2-3x total cores and lets AQE coalesce. It
  also sets the merge's write width: the bucket colocation runs
  ``min(buckets, shuffle.partitions)`` tasks, each writing whole buckets
  (``lake.table._colocate``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "binlogsub-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else "32"
        shuffle_partitions = max(int(n), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 256k rows/batch: ~50 MB of ~200 B wire frames per in-flight batch
        # per worker — still bounded, and the larger batch amortizes the
        # per-batch Arrow IPC + kernel-entry overhead that dominated the
        # decode passes at 64k (measured: raw apply 6.0 s vs 8.0 s at 2M
        # events, local[32])
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.sql.session.timeZone", "UTC")
        # 24g: in local mode the driver JVM IS all N executors, so heap
        # must be sized for N concurrent task threads. 8g measurably
        # GC-starved >=4 threads (local[4] merge of 8.2M events: 29.7s at
        # 8g vs 27.9s at 24g, and 1->4 scaling efficiency 0.77 vs 0.85 —
        # same window, interleaved). On a real cluster this knob is
        # per-executor memory and scales with executor count by
        # construction.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
