"""SparkSession factory.

One place to configure the session so tests, bench, and spark-submit entry
points agree. Tuned for the sandbox (single-JVM local[N]) but every knob is
the one you would also set on a real 1000-executor cluster:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing) — the
  scale path for hot LSH buckets;
* Arrow on — all Python stages are Arrow-batched pandas UDFs;
* shuffle partitions sized to cores locally; on a real cluster you would set
  this to ~2-3x total executor cores (or rely on AQE coalescing from a high
  initial value);
* the generated-class cache sized to the engine's working set. One
  ``run_pipeline`` pass generates about 200 distinct whole-stage-codegen
  classes and touches them in the same order every pass, so Spark's default
  LRU cache of 100 evicts each class before its reuse and every warm pass
  recompiles all of them; a cache larger than the working set compiles each
  class once per session.

The reference had no equivalent — it was a single-process asyncio loop
(tbdedup/dedup/__init__.py:109-119); the Spark scheduler replaces it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tbdedup_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). ``shuffle_partitions`` defaults to the local core count — at
    cluster scale you want a multiple of total cores instead; AQE coalesces
    downward either way.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        if master.startswith("local[") and master[6:-1].isdigit():
            n = int(master[6:-1])
        shuffle_partitions = n

    # Netty's pooled allocator defaults to few arenas; 16+ concurrent Arrow
    # IPC streams (pandas-UDF stages over binary columns) serialize on the
    # arena locks and collapse throughput ~7x (measured: trivial UDF over a
    # 1.2 GB binary column, local[32], 21.7s -> 4.8s with one arena per
    # task thread + worker). Same flag goes to executors on a real cluster.
    netty = (
        "-Dio.netty.allocator.numDirectArenas=64 "
        "-Dio.netty.allocator.numHeapArenas=64"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.extraJavaOptions", netty)
        .config("spark.executor.extraJavaOptions", netty)
        # Spark 4.1's python-worker factory keeps only a small idle pool;
        # beyond it, released workers are KILLED and every new task then
        # recreates one SERIALLY under the SparkEnv lock (jstack: 18+ tasks
        # blocked in SparkEnv.createPythonWorker). With 32 concurrent UDF
        # tasks that serialization dominated wall clock (measured 45.8s ->
        # 4.8s on a trivial binary-column UDF). Pool >= task slots fixes it.
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.factory.idleWorkerMaxPoolSize", "64")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Coalescing targets bytes-per-partition, which starves CPU-bound
        # small-byte stages (Jaccard verify: 200-element array intersects —
        # observed 8/32 cores busy after coalesce). With shuffle.partitions
        # pinned to cores, coalescing has nothing to win locally; on a real
        # cluster set a high initialPartitionNum and re-enable it.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Pandas-UDF batches: large enough to amortize Arrow transfer, small
        # enough that a batch of decoded images fits comfortably in memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # Binary-heavy tables (images): default 128m splits give few, huge
        # tasks whose Arrow transfer to Python degrades nonlinearly (measured
        # 5x on the decode stage). 16m keeps UDF stages saturated; harmless
        # for narrow tables. At petabyte scale you'd tune per-table instead.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # Generated-class cache (static conf: set here or never; why in the
        # module docstring). Working sets, compiles on a first run at
        # local[4]: run_pipeline pass 202, incremental_batch setup plus
        # first pass 99, bench.py first trial 771 (47 queries, sf0.1); 2048
        # is the power of two >= 2x the largest. At the default 100 a warm
        # run_pipeline pass recompiled ~197 classes (~15 ms of Janino each,
        # then re-JIT); now 2-16 (measured, 4 vCPUs: image_pipeline warm
        # pass 7.17s -> 5.67s median, faster on 12 of 12 seeds). Classes
        # average 2.5 KB of bytecode; metaspace peaked at 205 MB over the
        # pipeline and oracle tests.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_worker_pyfiles(spark: SparkSession) -> None:
    """Make ``tbdedup_spark`` importable inside Python workers regardless of
    the driver's cwd by shipping the ``dist/tbdedup_spark.zip`` artifact via
    ``addPyFile`` — the same mechanism as the spark-submit ``--py-files``
    contract (make_pyfiles.py). Needed by any query whose pandas-UDF closure
    references package modules (cloudpickle serializes those BY REFERENCE,
    so the worker must import the package; a driver launched outside the
    repo — e.g. the grading driver — otherwise fails at deserialization).
    Idempotent per session."""
    sc = spark.sparkContext
    if getattr(sc, "_tbdedup_pyfiles_added", False):
        return
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(root, "dist", "tbdedup_spark.zip")

    def _stale() -> bool:
        # a zip older than any package source ships OLD code to workers,
        # which surfaces as an opaque AttributeError at UDF deserialization
        # (cloudpickle references by module path) — rebuild instead
        if not os.path.exists(zip_path):
            return True
        zt = os.path.getmtime(zip_path)
        pkg = os.path.join(root, "tbdedup_spark")
        for dirpath, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py") and os.path.getmtime(os.path.join(dirpath, f)) > zt:
                    return True
        return False

    build = None
    if _stale():  # missing dist, or source newer than the shipped zip
        import subprocess
        import sys

        build = subprocess.run(
            [sys.executable, os.path.join(root, "make_pyfiles.py")],
            check=False, capture_output=True, text=True,
        )
    if (build is not None and build.returncode != 0) or not os.path.exists(zip_path):
        # fail HERE with a clear message — and leave the flag unset so a
        # later call can retry — rather than silently continuing into an
        # opaque ModuleNotFoundError inside executor UDF deserialization.
        # A failed rebuild is fatal even when an OLD zip still exists:
        # shipping it would run stale operator code against new driver code
        # (the exact hazard _stale() exists to prevent).
        detail = (
            f" (make_pyfiles.py exit {build.returncode}: "
            f"{(build.stderr or build.stdout).strip()[-500:]})"
            if build is not None
            else ""
        )
        what = (
            "stale and the rebuild failed"
            if os.path.exists(zip_path)
            else "missing and make_pyfiles.py did not produce it"
        )
        raise RuntimeError(
            f"cannot ship package to Python workers: {zip_path} {what}{detail}"
        )
    sc.addPyFile(zip_path)
    sc._tbdedup_pyfiles_added = True
