"""The workloads: set-up, one timed pass, and the output check.

A pass is one complete result: a ``run_pipeline`` run, or a fixed sequence
of incremental batches. Every check compares against planted truth from
``inputs``, which the code under test did not produce.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time

from . import trace

TIER_ARGS = {"id_col": "image_id", "text_col": "caption", "tau": 0.6}


def pairs_of(groups) -> set[tuple[str, str]]:
    out = set()
    for g in groups:
        out.update(itertools.combinations(sorted(g), 2))
    return out


def cluster_pairs(assign) -> set:
    groups: dict = {}
    for node, label in assign:
        groups.setdefault(label, []).append(node)
    return pairs_of(g for g in groups.values() if len(g) > 1)


class Outcome:
    """True/reported counts of one checked pass."""

    def __init__(self, truth: set, got: set, complete: bool):
        self.n_truth, self.n_got = len(truth), len(got)
        self.hits = len(truth & got)
        self.complete = complete

    @property
    def ok(self) -> bool:
        recall = self.hits / self.n_truth if self.n_truth else 1.0
        precision = self.hits / self.n_got if self.n_got else 1.0
        return self.complete and recall >= 0.99 and precision >= 0.95


class ImagePipeline:
    """``plans.pipeline.run_pipeline`` over a seeded image+caption corpus,
    with a fresh warehouse per pass (the catalog would otherwise resume
    the previous pass's committed stages and time nothing)."""

    def __init__(self, spark, inp, truth, work):
        self.spark, self.inp, self.work = spark, inp, work
        self.truth = pairs_of(truth["groups"])
        self.rows = truth["rows"]
        self.n = 0

    def _run(self, images):
        from tbdedup_spark.plans.pipeline import run_pipeline

        self.n += 1
        wh = os.path.join(self.work, f"wh{self.n}")
        t0 = time.time()
        out = run_pipeline(self.spark, images, wh)
        wall = time.time() - t0
        return wall, out, wh

    def setup(self):
        self.images = self.spark.read.parquet(os.path.join(self.inp, "images"))

    def run_pass(self):
        wall, out, wh = self._run(self.images)
        try:
            got = [(r.image_id, r.cluster_id) for r in out["clusters"].collect()]
            q = out["quarantine"]
            n_q = len(q.select("image_id").collect()) if q is not None else 0
        finally:
            shutil.rmtree(wh)
        outcome = Outcome(self.truth, cluster_pairs(got), len(got) + n_q == self.rows)
        return wall, [wall], outcome

    def layers(self, tr, cores: int) -> dict:
        sp = tr.spans
        m = {}
        detectors = {
            "exact.pairs": "pairs_exact", "minhash": "pairs_minhash",
            "simhash": "pairs_simhash", "substr": "pairs_substr",
        }
        _, sig_tasks = tr.group("signatures")
        m["exact.signatures.wall_s"] = trace.merged_length(sp.of("stage:signatures"))
        m["exact.signatures.task_s"] = sum(t["run_s"] for t in sig_tasks)
        m["exact.signatures.rows_out"] = sp.values.get(("signatures", "rows"), 0)
        for layer, stage in detectors.items():
            _, tasks = tr.group(stage)
            m[f"{layer}.wall_s"] = trace.merged_length(sp.of(f"stage:{stage}"))
            m.update(_task_metrics(layer, tasks))
            m[f"{layer}.rows_out"] = sp.values.get((stage, "rows"), 0)
        m["minhash.dropped_buckets"] = sp.values.get(("pairs_minhash", "dropped_buckets"), 0)
        det = sp.of(*(f"stage:{s}" for s in detectors.values()))
        t0, t1 = min(s for s, _ in det), max(e for _, e in det)
        occ, idle = trace.occupancy(tr.tasks, t0, t1, cores)
        m["pipeline.detectors.wall_s"] = t1 - t0
        m["pipeline.detectors.occupancy"] = occ
        m["pipeline.detectors.idle_driver_s"] = idle
        m["pipeline.pairs_union_s"] = trace.merged_length(sp.of("stage:pairs_all"))
        jobs, tasks = tr.group("clusters")
        m["unionfind.wall_s"] = trace.merged_length(sp.of("stage:clusters"))
        m["unionfind.jobs"] = len(jobs)
        m["unionfind.task_s"] = sum(t["run_s"] for t in tasks)
        m["unionfind.rows_out"] = sp.values.get(("clusters", "rows"), 0)
        _, tasks = tr.group("verify_checked", "clusters_verified")
        m["verify.wall_s"] = trace.merged_length(
            sp.of("stage:verify_checked", "stage:clusters_verified")
        )
        m["verify.task_s"] = sum(t["run_s"] for t in tasks)
        m["verify.quarantined"] = sp.values.get(("verify", "quarantined"), 0)
        # Ungrouped jobs outside every stage span are the pipeline's
        # bookkeeping actions (format sample, dual-hash sanity, per-detector
        # counts); inside a span they are the stage's own table reads.
        loose = [(j.start, j.end) for j in tr.jobs.values() if j.group is None]
        stages = [(t0, t1) for n, t0, t1 in sp.spans if n.startswith("stage:")]
        m["catalog.bookkeeping_s"] = (
            sp.counts["bookkeeping_outside_s"] + trace.outside(loose, stages)
        )
        m["catalog.bookkeeping_calls"] = sp.counts["bookkeeping_calls"]
        m["catalog.release_cached_s"] = trace.merged_length(sp.of("release_cached"))
        m["trace.span_sum_s"] = (
            m["exact.signatures.wall_s"] + m["pipeline.detectors.wall_s"]
            + m["pipeline.pairs_union_s"] + m["unionfind.wall_s"] + m["verify.wall_s"]
            + m["catalog.bookkeeping_s"] + m["catalog.release_cached_s"]
        )
        return m


class IncrementalBatch:
    """A closed loop with one client: each seeded batch of new rows goes
    through ``incremental.tiered_image_dedup`` and then
    ``incremental.tiered_dedup`` (with precomputed history MinHash
    signatures), each collected before the next call."""

    def __init__(self, spark, inp, truth, work):
        self.spark, self.inp, self.work = spark, inp, work
        self.truth = truth["truth"]
        self.rows = truth["batch_rows"] * len(self.truth)
        self.tier_s = {"image": [], "caption": []}

    def setup(self):
        from tbdedup_spark.operators import minhash

        read = self.spark.read.parquet
        self.hist = read(os.path.join(self.inp, "history"))
        sigs_path = os.path.join(self.work, "hist_minhash")
        shutil.rmtree(sigs_path, ignore_errors=True)
        minhash.minhash_signatures(
            self.hist, "image_id", "caption", 5, 16, 42, carry="hashes"
        ).write.parquet(sigs_path)
        self.hist_sigs = read(sigs_path)
        self.batches = {
            b: read(os.path.join(self.inp, b)) for b in sorted(self.truth)
        }

    def _tier(self, name, build):
        sc = self.spark.sparkContext
        t0 = time.time()
        sc.setJobGroup(f"incremental.{name}_tiers", name)
        try:
            rows = build().collect()
        finally:
            sc.setJobGroup(None, None)
        self.tier_s[name].append(time.time() - t0)
        return {r[0]: r[1] for r in rows}

    def _batch(self, b):
        from tbdedup_spark.operators import incremental

        new = self.batches[b]
        img = self._tier("image", lambda: incremental.tiered_image_dedup(new, self.hist))
        cap = self._tier(
            "caption",
            lambda: incremental.tiered_dedup(
                new, self.hist, hist_mh_sigs=self.hist_sigs, **TIER_ARGS
            ),
        )
        return img, cap

    def run_pass(self):
        lat, truth, got, complete = [], set(), set(), True
        for b in sorted(self.truth):
            t0 = time.time()
            img, cap = self._batch(b)
            lat.append(time.time() - t0)
            for rid, (ti, tc) in self.truth[b].items():
                truth |= {(rid, "image", ti)} if ti != "unique" else set()
                truth |= {(rid, "caption", tc)} if tc != "unique" else set()
            for kind, out in (("image", img), ("caption", cap)):
                got |= {(rid, kind, t) for rid, t in out.items() if t != "unique"}
                complete &= set(out) == set(self.truth[b])
        return sum(lat), lat, Outcome(truth, got, complete)

    def layers(self, tr, cores: int) -> dict:
        m = {}
        n = len(self.truth)
        for name in ("image", "caption"):
            jobs, tasks = tr.group(f"incremental.{name}_tiers")
            key = f"incremental.{name}_tiers"
            m[f"{key}.p50_s"] = statistics.median(self.tier_s[name][-n:])
            m[f"{key}.jobs_per_batch"] = len(jobs) / n
            m[f"{key}.hist_rows_read_per_batch"] = sum(t["records_in"] for t in tasks) / n
        m["trace.span_sum_s"] = sum(self.tier_s["image"][-n:]) + sum(self.tier_s["caption"][-n:])
        return m


def _task_metrics(layer, tasks) -> dict:
    return {
        f"{layer}.task_s": sum(t["run_s"] for t in tasks),
        f"{layer}.shuffle_mb": sum(t["shuffle_b"] for t in tasks) / 1e6,
        f"{layer}.spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
    }


WORKLOADS = {
    "image_pipeline": ImagePipeline,
    "incremental_batch": IncrementalBatch,
}
