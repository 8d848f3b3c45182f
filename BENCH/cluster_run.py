"""One cluster-mode measurement: run the pipeline against a standalone
master with a fixed executor count; print one JSON line.

The executor count is set via spark.cores.max / spark.executor.cores:
cores.max=8 -> 1 executor x 8 cores (N); cores.max=32 -> 4 executors (4N).
The package reaches executors exactly as in production: a --py-files zip
(sc.addPyFile of dist/tbdedup_spark.zip).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession

from tbdedup_spark.plans.pipeline import DedupConfig, run_pipeline


def _event_log_dir() -> str:
    # Spark requires the event-log base dir to pre-exist (/tmp is wiped
    # between sessions on this host; the context fails to start otherwise).
    os.makedirs("/tmp/spark-events", exist_ok=True)
    return "file:///tmp/spark-events"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", required=True)
    ap.add_argument("--cores-max", type=int, required=True)
    ap.add_argument("--executor-cores", type=int, default=8)
    ap.add_argument("--executor-mem", default="12g")
    ap.add_argument("--input", required=True)
    ap.add_argument("--warehouse", required=True)
    args = ap.parse_args()

    n_exec = args.cores_max // args.executor_cores
    netty = (
        "-Dio.netty.allocator.numDirectArenas=64 "
        "-Dio.netty.allocator.numHeapArenas=64"
    )
    spark = (
        SparkSession.builder.appName(f"scaling_exec{n_exec}")
        .master(args.master)
        .config("spark.cores.max", str(args.cores_max))
        .config("spark.executor.cores", str(args.executor_cores))
        .config("spark.executor.memory", args.executor_mem)
        .config("spark.driver.memory", "8g")
        # 4 waves of shuffle tasks, not 1: with partitions == cores a single
        # hot band-key partition IS the stage wall (nothing to steal); at 4x
        # the other cores keep draining the queue while the hot partition
        # runs. Same formula at both levels, so the comparison stays fair.
        .config("spark.sql.shuffle.partitions", str(4 * args.cores_max))
        .config("spark.default.parallelism", str(4 * args.cores_max))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # defaults (256m/5x) never trigger at this corpus size — the hot
        # LSH band partitions are tens of MB; split anything 4x over median
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32m")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "4")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", _event_log_dir())
        # FAIR, not FIFO: the four detector stages submit jobs concurrently,
        # and under FIFO a 3ms bookkeeping task (schema inference, stage
        # read-back) queues behind a 40s detector stage holding every core
        # (measured: a 1-task DataFrameReader.parquet job waited 37s for a
        # slot). One default fair pool is enough — round-robin across jobs.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # same generated-class cache as session.get_spark (see its comment):
        # at the default 100 every repeated pipeline pass recompiles its
        # ~200 classes, and the scaling levels would measure Janino
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.executor.extraJavaOptions", netty)
        .config("spark.driver.extraJavaOptions", netty)
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.factory.idleWorkerMaxPoolSize", "16")
        # Multi-executor-specific pathologies the single-JVM levels never
        # hit, both bimodal run-to-run (they depend on block placement luck):
        # locality wait stalls scheduling up to 3s per round when tasks
        # prefer the executor holding a localCheckpoint/cached block; short
        # tasks should just run remote (standard prod tuning).
        .config("spark.locality.wait", "0s")
        # and don't start the first stage until every executor registered —
        # otherwise early long stages run on a partial cluster
        .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
        .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    # production deployment path: package ships to executors as a zip
    spark.sparkContext.addPyFile(os.path.join(ROOT, "dist", "tbdedup_spark.zip"))

    images = spark.read.parquet(args.input)
    n = images.count()

    # warm-up excluded from the timer (long-lived-executor analog):
    # spawns executor python pools + JITs hot paths, identical at both levels
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def _w_fn(b):
        return b.apply(len)

    _w = pandas_udf(_w_fn, "long")
    images.limit(args.cores_max * 64).select(_w(F.col("bytes")).alias("x")).groupBy(
        (F.col("x") % 7).alias("g")
    ).count().collect()
    # full-corpus scan: warms the OS page cache identically at both levels —
    # a single shared local disk is a sandbox artifact (production reads from
    # distributed storage whose bandwidth scales with the cluster), so cold
    # read time must not contaminate the N-vs-4N comparison
    images.select(F.sum(F.length("bytes"))).collect()

    t0 = time.time()
    out = run_pipeline(spark, images, args.warehouse, DedupConfig())
    n_clusters = out["clusters"].select("cluster_id").distinct().count()
    wall = time.time() - t0

    print(json.dumps({
        "executors": n_exec,
        "cores": args.cores_max,
        "rows": n,
        "wall_s": round(wall, 2),
        "images_per_sec": round(n / wall, 1),
        "n_clusters": n_clusters,
        "run_id": out["run_id"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
