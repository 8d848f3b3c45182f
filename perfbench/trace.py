"""Layer attribution for a traced pass.

Two sources, both driven from the benchmark's own code:

* Spans: for the duration of a traced pass the benchmark wraps public
  methods of the package's ``Catalog`` (``stage``, ``log_metric``,
  ``log_lineage``, ``release_cached``) and records each call's driver-side
  start and end. ``Catalog.stage`` already runs each stage under the job
  group ``{run_id}/{stage}``; the incremental workload sets its own groups.
* Jobs and tasks: a Spark event-log listener is attached only while a traced
  pass runs. Parsing its log gives, per job group, the jobs, task seconds,
  shuffle and spill bytes, input records, GC time and failed tasks.

Untraced passes run with neither, so the traced and untraced pass walls of
one process give the tracing overhead.
"""

from __future__ import annotations

import collections
import glob
import inspect
import json
import os
import threading
import time


class Job:
    __slots__ = ("group", "start", "end")

    def __init__(self, group, start):
        self.group, self.start, self.end = group, start, start


def parse_event_log(path: str):
    """(jobs by id, tasks) from a plain JSON-lines Spark event log. Each task
    is a dict with its job id, launch/finish (epoch s) and metrics."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = Job(props.get("spark.jobGroup.id"), e["Submission Time"] / 1000)
                for s in e["Stage IDs"]:
                    stage_job.setdefault(s, jid)
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000
            elif ev == "SparkListenerTaskEnd":
                ti, m = e["Task Info"], e.get("Task Metrics") or {}
                tasks.append(
                    {
                        "job": stage_job.get(e["Stage ID"]),
                        "launch": ti["Launch Time"] / 1000,
                        "finish": ti["Finish Time"] / 1000,
                        "failed": bool(ti.get("Failed")) or bool(ti.get("Killed")),
                        "run_s": m.get("Executor Run Time", 0) / 1000,
                        "gc_s": m.get("JVM GC Time", 0) / 1000,
                        "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                        "records_in": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    }
                )
    return jobs, tasks


def merged_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def outside(intervals, cover) -> float:
    """Length of the union of ``intervals`` not covered by ``cover``."""
    return merged_length(list(intervals) + list(cover)) - merged_length(cover)


def occupancy(tasks, t0: float, t1: float, cores: int) -> tuple[float, float]:
    """(busy core-s / (cores * span), seconds with no task running) over
    the window [t0, t1]."""
    evs = []
    for t in tasks:
        s, e = max(t["launch"], t0), min(t["finish"], t1)
        if e > s:
            evs += [(s, 1), (e, -1)]
    evs.sort()
    busy = idle = 0.0
    cur, last = 0, t0
    for t, d in evs + [(t1, 0)]:
        dt = t - last
        busy += min(cur, cores) * dt
        if cur == 0:
            idle += dt
        cur, last = cur + d, t
    span = t1 - t0
    return (busy / (cores * span) if span > 0 else 0.0), idle


class Spans:
    """Thread-safe span and counter store filled by the wrappers."""

    def __init__(self):
        self.lock = threading.Lock()
        self.spans = []  # (name, t0, t1)
        self.counts = collections.Counter()
        self.values = {}
        self.local = threading.local()

    def add(self, name, t0, t1):
        with self.lock:
            self.spans.append((name, t0, t1))

    def of(self, *names):
        return [(t0, t1) for n, t0, t1 in self.spans if n in names]


class Patches:
    """Swap attributes for wrappers; ``undo`` restores the originals."""

    def __init__(self):
        self.saved = []

    def wrap(self, owner, attr, make):
        orig = getattr(owner, attr)
        self.saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def undo(self):
        for owner, attr, orig in reversed(self.saved):
            setattr(owner, attr, orig)
        self.saved.clear()


def patch_catalog(p: Patches, spans: Spans):
    """Stage spans, bookkeeping time/calls and the logged counters of every
    ``Catalog`` the pipeline creates."""
    from tbdedup_spark.sources.catalog import Catalog

    def stage(orig):
        def call(self, name, *a, **kw):
            t0 = time.time()
            spans.local.depth = getattr(spans.local, "depth", 0) + 1
            try:
                return orig(self, name, *a, **kw)
            finally:
                spans.local.depth -= 1
                spans.add(f"stage:{name}", t0, time.time())

        return call

    def bookkeeping(orig):
        sig = inspect.signature(orig)

        def call(self, *a, **kw):
            t0 = time.time()
            try:
                return orig(self, *a, **kw)
            finally:
                dt = time.time() - t0
                arg = sig.bind(self, *a, **kw).arguments
                with spans.lock:
                    spans.counts["bookkeeping_calls"] += 1
                    if not getattr(spans.local, "depth", 0):
                        spans.counts["bookkeeping_outside_s"] += dt
                    if "key" in arg:  # log_metric(stage, key, value)
                        spans.values[(arg["stage"], arg["key"])] = arg["value"]
                    else:  # log_lineage(stage, ..., row_count, ...)
                        spans.values[(arg["stage"], "rows")] = arg["row_count"]

        return call

    def release(orig):
        def call(self, *a, **kw):
            t0 = time.time()
            try:
                return orig(self, *a, **kw)
            finally:
                spans.add("release_cached", t0, time.time())

        return call

    p.wrap(Catalog, "stage", stage)
    p.wrap(Catalog, "log_metric", bookkeeping)
    p.wrap(Catalog, "log_lineage", bookkeeping)
    p.wrap(Catalog, "release_cached", release)


class Tracer:
    """Attach an event-log listener and the wrappers for one traced pass.

    Spark has no public switch to log only part of an application, so this
    constructs Spark's internal ``EventLoggingListener`` (``private[spark]``
    in Scala, reachable through py4j) and adds and removes it around the
    pass. A Spark upgrade that changes its constructor breaks the traced
    run loudly, never the untraced one."""

    def __init__(self, spark, log_dir: str):
        self.spark, self.log_dir = spark, log_dir
        self.n = 0

    def __enter__(self):
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jvm = sc._jvm
        os.makedirs(self.log_dir, exist_ok=True)
        self.n += 1
        conf = (
            jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self.app = f"{jsc.applicationId()}-trace{self.n}"
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.app, jvm.scala.Option.empty(),
            jvm.java.net.URI("file://" + os.path.abspath(self.log_dir)),
            conf, jsc.hadoopConfiguration(),
        )
        self.listener.start()
        jsc.addSparkListener(self.listener)
        self.spans = Spans()
        self.patches = Patches()
        patch_catalog(self.patches, self.spans)
        return self

    def __exit__(self, *exc):
        self.patches.undo()
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self.listener)
        self.listener.stop()
        (path,) = glob.glob(os.path.join(self.log_dir, f"{self.app}*"))
        self.jobs, self.tasks = parse_event_log(path)
        os.remove(path)
        return False

    def totals(self) -> dict:
        return {
            "spark.jobs": len(self.jobs),
            "spark.tasks_failed": sum(t["failed"] for t in self.tasks),
            "spark.gc_s": sum(t["gc_s"] for t in self.tasks),
        }

    def group(self, *names):
        """(jobs, tasks) whose job group is one of ``names`` (a trailing
        ``/name`` matches the catalog's ``{run_id}/{stage}`` groups)."""

        def hit(g):
            return g is not None and any(g == n or g.endswith("/" + n) for n in names)

        ids = {j for j, job in self.jobs.items() if hit(job.group)}
        return [self.jobs[j] for j in ids], [t for t in self.tasks if t["job"] in ids]
