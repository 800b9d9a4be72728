"""SparkSession factory.

Local-mode defaults tuned for the sandbox (single JVM, ``local[N]``)
while keeping every setting cluster-valid: on a real 1000-executor
cluster the same config block applies unchanged — AQE (runtime
re-planning + skew-join splitting) and Arrow-batched Python UDFs are
exactly what the 100 TB deployment needs, and shuffle partitions are
overridden per-deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "twotier_frontier_engine",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle
    partitions default to 2x cores, at least 8 (32 for ``*``): small
    enough to avoid tiny-task overhead at test scale; AQE coalesces
    further at runtime.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, 2 * int(cores))
        except ValueError:
            shuffle_partitions = 32

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Web-document rows are heavy-tailed (KB typical, MB tail — the
        # reference caps bodies at 5 MB, crawler_twotier.go:57, and the
        # fixture corpus includes such pages). Row-count batch limits
        # silently become BYTE bombs on such tables, so bound every
        # batched hop by BYTES where Spark allows and by a width-aware
        # row count where it doesn't:
        # - Arrow UDF batches: 10000 rows x ~10 KB docs = ~100 MB per
        #   task in flight; with 32 slots that alone exceeds the heap.
        #   maxBytesPerBatch=16m caps the batch regardless of row width
        #   (rows still cap at maxRecordsPerBatch for narrow tables —
        #   whichever trips first).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(16 << 20))
        # - Parquet vectorized reader: rows-only knob. 4096-row batches
        #   on a ~10 KB-avg text column reserve ~40 MB per column
        #   vector PER TASK (x32 slots = measured OOM during the
        #   1 M-page pipeline's normalize stage, which only re-reads a
        #   parquet it just wrote). 512 keeps typical web-text batches
        #   ~5 MB while narrow scans stay fully amortized.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # - File-scan partitions: the default 128 MB of COMPRESSED
        #   parquet is ~0.5-1 GB of heap once a text column
        #   decompresses and lands as UTF-16 strings. Map-only stages
        #   stream that through, but any string-keyed partial
        #   aggregation RETAINS ~the task's whole decompressed input
        #   (measured: the 1 M-page twelve-stage pipeline's
        #   corpus-global paragraph winner agg — nearly every
        #   paragraph unique, so the partial-agg map held each task's
        #   full text x 32 slots and hard-OOMed the 8 g heap). 16 MB
        #   caps per-task scan bytes so such states stay ~100 MB/task;
        #   AQE re-coalesces small partitions after shuffles, and the
        #   small sf fixtures are unaffected (they are below one
        #   partition either way).
        .config("spark.sql.files.maxPartitionBytes", str(16 << 20))
        #   ...and the cap only bites if files CAN split: parquet
        #   row groups are the split unit, and the default 128 MB
        #   block size makes every interstage file one unsplittable
        #   row group. 16 MB row groups let the scan cap hold on the
        #   pipeline's own stage outputs.
        .config("spark.hadoop.parquet.block.size", str(16 << 20))
        # - In-memory-cache build vectors: above this threshold Spark
        #   reserves required*ratio instead of doubling AND releases the
        #   vector after each batch — so one 5 MB-row batch doesn't pin
        #   a doubled buffer for the cache build's lifetime.
        .config("spark.sql.inMemoryColumnarStorage.hugeVectorThreshold", "8m")
        # runtime bloom-filter join pruning (O4 analogue, SURVEY.md §4)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # JavaSerializer's ObjectOutputStream keeps a handle table of
        # every object written and Spark only reset()s it every N
        # objects (default 100). Disk-spilled RDD blocks — e.g. a
        # DISK_ONLY corpus cache — stream CachedBatches through one such
        # writer PER TASK, so the default pins the last ~100 batches'
        # column arrays per concurrent task: measured 4.4 GB of dead-
        # but-referenced byte[] (old gen 99%, heap-histogram verified)
        # and a hard OOM on the 8 g heap while disk-caching a mere
        # 242 MiB / 1 M-page corpus at 32 slots. Reset every object:
        # cached batches share no back-references, so the handle table
        # buys nothing here, and the build completed 1 M pages in 37 s
        # where the default OOMed. Same setting protects executor-side
        # spill on a real cluster.
        .config("spark.serializer.objectStreamReset", "1")
        # deliberately small heap + throughput collector: the corpus scan
        # allocates large short-lived strings (multi-MB page bodies) every
        # iteration, and a big G1 heap turns that into multi-second GC
        # stalls (measured 4-5x slowdown at 48g G1 vs 8g ParallelGC on
        # the 50K-page crawl). MaxDirectMemorySize must be raised well
        # above the heap: Arrow/netty per-task arenas grow with thread
        # count, and when direct memory (default = heap size) runs out,
        # netty forces System.gc() storms — measured as 2-5x ANTI-scaling
        # beyond ~8 threads until the cap was lifted. On a real cluster
        # the same reasoning sizes EXECUTOR heap/offheap and scales out.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS",
                "-XX:+UseParallelGC -XX:MaxDirectMemorySize=24g",
            ),
        )
        .config("spark.ui.enabled", os.environ.get("SPARK_UI","false"))
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
