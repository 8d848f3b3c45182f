"""Run catalog: checkpointed stage tables + lineage + metrics, resumable.

Two modes, one contract; callers never branch. ``iceberg=True`` routes
every table through an Iceberg catalog (writeTo/createOrReplace snapshot
commits, spark.table reads, tableExists resume probes) and is exercised by
tests whenever the runtime jar is present. The default mode is parquet
snapshots: Iceberg's commit mechanic on plain parquet directories (data in
``snap-<id>/``, one atomically swapped manifest), so atomic commits, resume
probes, time travel and rollback are working code without the jar.

This generalizes the reference's JSON plan documents — ``mapping.json``
(tbdedup/planner/plan.py:46-80), per-group ``plan_output.json``
(tbdedup/combinatory/__init__.py:49-57), and ``combinatory_operation.json``
(:258-265) — which exist for exactly this purpose: record what each stage
consumed and produced so a run can be inspected and resumed. Ours adds
row counts and a status column, and is queryable as a table.

Determinism contract: ``run_id`` comes from the *config hash*, not the
wall-clock (the reference's timestamped output names,
tbdedup/planner/output.py:26-78, are the anti-pattern at scale — two
executors must never disagree about a name). Re-running the same config is
therefore idempotent: completed stages are skipped.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import time

from pyspark.sql import DataFrame, SparkSession

from .. import schema


def config_run_id(config: dict) -> str:
    """Deterministic run id = sha256 of the canonical config JSON."""
    blob = json.dumps(config, sort_keys=True, separators=(",", ":"))
    return "run_" + hashlib.sha256(blob.encode()).hexdigest()[:16]


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


# Seconds between a running stage's progress metric rows.
PROGRESS_INTERVAL_S = 5.0


class Catalog:
    """``iceberg=True`` routes every table through a real Iceberg catalog
    (``writeTo(...).createOrReplace()`` snapshot commits, ``spark.table``
    reads, ``tableExists`` resume probes) — the north_rule's checkpoint
    store. Without the Iceberg runtime jar the default is parquet
    snapshots: every write commits a new ``snap-<id>/`` directory through
    an atomic manifest swap. Both modes satisfy the same contract, time
    travel included, and the pipeline code never branches.

    ``iceberg_catalog`` is the Spark catalog name (configure e.g.
    ``spark.sql.catalog.ice = org.apache.iceberg.spark.SparkCatalog`` +
    ``spark.sql.catalog.ice.type = hadoop`` +
    ``spark.sql.catalog.ice.warehouse = <dir>`` on the session)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        run_id: str,
        iceberg: bool = False,
        iceberg_catalog: str = "ice",
        namespace: str = "tbdedup",
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.run_id = run_id
        self.iceberg = iceberg
        self._ns = f"{iceberg_catalog}.{namespace}"
        # schemas of the parquet snapshots this Catalog committed, keyed by
        # (table, snapshot id): read() passes them, so reading its own
        # commits runs no schema-inference job
        self._schemas: dict = {}
        if iceberg:
            if not iceberg_available(spark):
                raise RuntimeError(
                    "iceberg=True but the Iceberg Spark runtime jar is absent"
                )
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self._ns}")
        os.makedirs(warehouse, exist_ok=True)
        # Blocks persisted BEFORE this run started are not ours to release:
        # a caller-held localCheckpoint'ed DataFrame (lineage truncated —
        # unrecomputable by design) must survive release_cached() in a
        # shared session. Everything persisted after construction is treated
        # as run-owned; callers interleaving their own persists with a live
        # run should use a separate SparkSession.
        self._preexisting_rdds = set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    # --- tables ---------------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.warehouse, self.run_id, table)

    def _tbl(self, table: str) -> str:
        return f"{self._ns}.{self.run_id}_{table}"

    def _snap_dir(self, table: str, snapshot_id: int) -> str:
        return os.path.join(self._path(table), f"snap-{snapshot_id}")

    def exists(self, table: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(self._tbl(table))
        return os.path.exists(self._manifest_path(table))

    # --- parquet snapshots ------------------------------------------------
    #
    # The Iceberg commit mechanic — write data files, then atomically swap a
    # single metadata pointer — implemented on plain parquet so the snapshot
    # SEMANTICS (time travel, O(1) rollback, isolation of readers from
    # in-flight writes) are working, testable code in the jar-less sandbox,
    # not just the dormant writeTo branch. Data lands in snap-<id>/ dirs;
    # `_snapshots.json` is the pointer, committed via os.replace (atomic on
    # POSIX — the same all-or-nothing property as Iceberg's metadata swap).
    # Snapshot ids are never reused after rollback (Iceberg's rule), so
    # lineage stays unambiguous.

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._path(table), "_snapshots.json")

    def _manifest(self, table: str) -> dict:
        with open(self._manifest_path(table)) as f:
            return json.load(f)

    def _commit_manifest(self, table: str, manifest: dict) -> None:
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(table))  # THE commit point

    def snapshots(self, table: str) -> list[dict]:
        """Committed snapshots (id, rows), oldest first (parquet mode)."""
        return self._manifest(table)["snapshots"]

    def current_snapshot(self, table: str) -> int:
        return self._manifest(table)["current"]

    def rollback(self, table: str, snapshot_id: int) -> None:
        """Point the table back at an earlier snapshot — O(1), data
        untouched; the next write() commits as a NEW id above every
        historical one."""
        m = self._manifest(table)
        if not any(s["id"] == snapshot_id for s in m["snapshots"]):
            raise ValueError(f"unknown snapshot {snapshot_id} for {table}")
        m["current"] = snapshot_id
        self._commit_manifest(table, m)

    def expire_snapshots(self, table: str, keep_last: int = 1) -> list[int]:
        """Delete the data of all but the newest ``keep_last`` snapshots
        (the current snapshot is always kept); returns expired ids.

        Order matters (Iceberg's rule, and this module's own invariant that
        the manifest never references missing data): the shrunken manifest
        COMMITS FIRST, physical deletes run after. A crash between the two
        leaves unreferenced orphan directories (a disk leak invisible to
        every reader), never a committed snapshot whose data is gone."""
        if keep_last < 0:
            raise ValueError(f"keep_last must be >= 0, got {keep_last}")
        m = self._manifest(table)
        # [-0:] would slice the WHOLE list, silently keeping everything
        # (review catch) — keep_last=0 means "keep only the current snapshot"
        tail = m["snapshots"][-keep_last:] if keep_last > 0 else []
        keep = {s["id"] for s in tail} | {m["current"]}
        expired = [s["id"] for s in m["snapshots"] if s["id"] not in keep]
        m["snapshots"] = [s for s in m["snapshots"] if s["id"] in keep]
        self._commit_manifest(table, m)
        for sid in expired:
            shutil.rmtree(self._snap_dir(table, sid), ignore_errors=True)
        return expired

    def list_tables(self, prefix: str = "") -> list[str]:
        """Committed table names for this run starting with ``prefix`` —
        ONE catalog/filesystem listing, for callers probing many possible
        checkpoints (unionfind resume previously issued one exists() per
        candidate iteration)."""
        if self.iceberg:
            pre = f"{self.run_id}_{prefix}"
            return sorted(
                t.name[len(self.run_id) + 1:]
                for t in self.spark.catalog.listTables(self._ns)
                if t.name.startswith(pre)
            )
        run_dir = os.path.join(self.warehouse, self.run_id)
        if not os.path.isdir(run_dir):
            return []
        return sorted(
            t for t in os.listdir(run_dir)
            if t.startswith(prefix)
            and os.path.exists(os.path.join(run_dir, t, "_snapshots.json"))
        )

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """The current snapshot of ``table``, or the committed snapshot
        ``snapshot_id`` (time travel)."""
        if self.iceberg:
            reader = self.spark.read
            if snapshot_id is not None:
                reader = reader.option("snapshot-id", snapshot_id)
            return reader.table(self._tbl(table))
        m = self._manifest(table)
        sid = m["current"] if snapshot_id is None else snapshot_id
        if snapshot_id is not None and not any(
            s["id"] == sid for s in m["snapshots"]
        ):
            # same contract as rollback(): only COMMITTED snapshots are
            # addressable — an expired id (or a crash-window orphan dir)
            # is a clean ValueError, not a parquet read of dead data
            raise ValueError(f"unknown snapshot {sid} for {table}")
        known = self._schemas.get((table, sid))
        reader = self.spark.read if known is None else self.spark.read.schema(known)
        return reader.parquet(self._snap_dir(table, sid))

    def write(self, df: DataFrame, table: str) -> int:
        """Commit ``df`` as the table's next snapshot; returns its row
        count. In parquet mode the manifest swap is the commit (readers only
        see completed writes), and a retry overwrites what a killed run left
        under the snapshot id it re-earns. A table without a manifest — a
        killed first write, or a table from before parquet snapshots — is
        removed whole before ``snap-1/`` is written. In Iceberg mode
        createOrReplace IS the atomic snapshot commit."""
        if self.iceberg:
            df.writeTo(self._tbl(table)).using("iceberg").createOrReplace()
            return self.read(table).count()
        path = self._path(table)
        if self.exists(table):
            m = self._manifest(table)
        else:
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            m = {"current": 0, "next": 1, "snapshots": []}
        sid = m["next"]
        snap_dir = self._snap_dir(table, sid)
        shutil.rmtree(snap_dir, ignore_errors=True)  # killed-run leftovers
        df.write.mode("overwrite").parquet(snap_dir)
        self._schemas[(table, sid)] = df.schema
        n = self._footer_count(snap_dir)
        if n is None:
            # warehouse not driver-local POSIX (object store / DFS paths):
            # os.walk sees nothing — count through Spark rather than
            # silently recording row_count=0 in lineage/metrics
            n = self.spark.read.parquet(snap_dir).count()
        m["snapshots"].append({"id": sid, "rows": n})
        m["current"], m["next"] = sid, sid + 1
        self._commit_manifest(table, m)  # readers flip here, atomically
        return n

    @staticmethod
    def _footer_count(path: str) -> int | None:
        """Row count from parquet footers, driver-side — the count is free
        metadata; scheduling a Spark job per stage commit just to read it
        back added ~0.3s of serial driver time per stage. Footer reads are
        parallelized: a stage whose output inherits a wide input split
        (1000+ files) costs seconds serially but ~100ms threaded."""
        import pyarrow.parquet as pq

        paths = [
            os.path.join(root, f)
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        ]
        if not paths:
            # zero .parquet files under os.walk: either the warehouse isn't
            # driver-local POSIX, or the write emitted no part files at all.
            # Both resolve correctly through the caller's Spark-count
            # fallback instead of silently recording 0
            return None
        if len(paths) <= 4:
            return sum(pq.read_metadata(p).num_rows for p in paths)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(32, len(paths))) as pool:
            return sum(pool.map(lambda p: pq.read_metadata(p).num_rows, paths))

    # --- lineage / metrics ----------------------------------------------
    #
    # Written driver-side with pyarrow, NOT as Spark jobs: a lineage row is
    # one tuple; scheduling a distributed job per bookkeeping row costs ~1s
    # each and dominated small-run wall clock. The directory stays a normal
    # parquet table readable by spark.read.parquet (and by Iceberg-migrated
    # readers later).

    _seq = 0
    _seq_lock = threading.Lock()

    def _append(self, rows: list[tuple], table: str, sch) -> None:
        if self.iceberg:
            tbl = f"{self._ns}.{table}"
            df = self.spark.createDataFrame(rows, sch)
            # serialized under the same lock as the parquet path: two
            # detector threads could both see tableExists()==False and race
            # the create (bookkeeping rows are tiny, so holding the lock
            # across the write is cheap); a cross-process racer losing the
            # atomic Iceberg create is still caught and retried as append
            with Catalog._seq_lock:
                if not self.spark.catalog.tableExists(tbl):
                    try:
                        df.writeTo(tbl).using("iceberg").create()
                        return
                    except Exception:
                        if not self.spark.catalog.tableExists(tbl):
                            raise
                df.writeTo(tbl).append()
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.warehouse, table)
        os.makedirs(path, exist_ok=True)
        arrow_types = {
            "string": pa.string(), "integer": pa.int32(),
            "long": pa.int64(), "double": pa.float64(),
        }
        cols = {
            f.name: pa.array([r[i] for r in rows], type=arrow_types[f.dataType.typeName()])
            for i, f in enumerate(sch.fields)
        }
        with Catalog._seq_lock:
            Catalog._seq += 1
            seq = Catalog._seq
        fname = f"part-{self.run_id}-{os.getpid()}-{seq:06d}.parquet"
        pq.write_table(pa.table(cols), os.path.join(path, fname))

    def log_lineage(
        self, stage: str, input_ref: str | None, output_ref: str | None,
        row_count: int | None, status: str = "OK", partition_id: int | None = None,
    ) -> None:
        self._append(
            [(self.run_id, stage, partition_id, input_ref, output_ref, row_count, status)],
            "lineage", schema.LINEAGE,
        )

    def log_metric(self, stage: str, key: str, value: float) -> None:
        self._append(
            [(self.run_id, stage, key, float(value), int(time.time() * 1000))],
            "metrics", schema.METRICS,
        )

    def lineage(self) -> DataFrame:
        if self.iceberg:
            return self.spark.table(f"{self._ns}.lineage")
        return self.spark.read.parquet(os.path.join(self.warehouse, "lineage"))

    def metrics(self) -> DataFrame:
        if self.iceberg:
            return self.spark.table(f"{self._ns}.metrics")
        return self.spark.read.parquet(os.path.join(self.warehouse, "metrics"))

    def release_cached(self) -> int:
        """Unpersist run-owned persistent RDDs (localCheckpoint blocks
        included) — those that appeared after this Catalog was constructed.

        A committed stage's intermediate state lives on as pinned executor
        blocks (each detector localCheckpoints its signature/bucket
        relations); by the verify stages the executors carry gigabytes of
        DEAD blocks, and the resulting old-gen pressure showed up as a 4-5x
        slowdown of late scans at 4 executors. Safe at stage barriers ONLY:
        every live DataFrame this run holds must be parquet-backed
        (``cat.read``), because a localCheckpoint's lineage is truncated —
        its RDD cannot be recomputed after unpersist. Blocks persisted
        before the run started (a caller's own checkpoints in a shared
        session) are left alone."""
        sc = self.spark.sparkContext
        n = 0
        for rid, jrdd in sc._jsc.getPersistentRDDs().items():
            if rid in self._preexisting_rdds:
                continue
            jrdd.unpersist(False)
            n += 1
        return n

    # --- stage protocol ---------------------------------------------------

    def stage(self, name: str, build, input_ref: str = "") -> DataFrame:
        """Run-or-resume one stage: if the output table exists for this
        run_id, skip the build (the reference's analog: combinatory skips
        nothing and recomputes everything — resume is our addition, enabled
        by deterministic run ids). ``build`` is a zero-arg callable returning
        the stage DataFrame."""
        if self.exists(name):
            return self.read(name)
        t0 = time.time()
        # Job-group scoping: the four detector stages run on concurrent
        # threads, and the status tracker's active-stage list is global —
        # without a per-thread group each stage's progress rows would count
        # the other stages' tasks too. setJobGroup is thread-local (rides
        # the thread's localProperties), so jobs submitted by build()/write()
        # on THIS thread are tagged with the stage name.
        group = f"{self.run_id}/{name}"
        sc = self.spark.sparkContext
        stop = self._start_progress(name, group)
        try:
            sc.setJobGroup(group, f"stage {name}")
            df = build()
            n = self.write(df, name)
        finally:
            sc.setJobGroup(None, None)
            stop()
        # lineage points at where the data actually lives: the catalog table
        # in Iceberg mode, the committed snapshot directory otherwise
        out_ref = (
            self._tbl(name) if self.iceberg
            else self._snap_dir(name, self.current_snapshot(name))
        )
        self.log_lineage(name, input_ref, out_ref, n, "OK")
        self.log_metric(name, "wall_clock_s", time.time() - t0)
        self.log_metric(name, "row_count", n)
        return self.read(name)

    def _start_progress(self, stage_name: str, job_group: str):
        """Within-stage progress rows — the O15 analog of the reference's
        per-file %-progress callback (tbdedup/dedup/__init__.py:94-107): a
        driver thread samples the status tracker every
        ``PROGRESS_INTERVAL_S`` seconds and appends (tasks done, tasks
        total) metrics rows MID-RUN, so a long stage is observable from the
        metrics table while it runs. The sample covers only ``job_group``,
        the jobs this stage submitted — the concurrent detector stages
        otherwise cross-attribute each other's tasks. Returns a stop()
        callable."""
        ev = threading.Event()

        def _poll():
            st = self.spark.sparkContext.statusTracker()
            while not ev.wait(PROGRESS_INTERVAL_S):
                try:
                    done = total = 0
                    sids = set()
                    for jid in st.getJobIdsForGroup(job_group):
                        jinfo = st.getJobInfo(jid)
                        if jinfo:
                            sids.update(jinfo.stageIds)
                    for info in map(st.getStageInfo, sids):
                        if info:
                            done += info.numCompletedTasks
                            total += info.numTasks
                    if total:
                        self.log_metric(stage_name, "progress_tasks_done", done)
                        self.log_metric(stage_name, "progress_tasks_total", total)
                except Exception:
                    pass  # progress is best-effort; never fail the stage

        th = threading.Thread(target=_poll, daemon=True)
        th.start()

        def stop():
            ev.set()
            th.join(timeout=5)

        return stop
