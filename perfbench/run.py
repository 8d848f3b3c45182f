"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload image_pipeline --seed 1 --seconds 4 --trace 0

Run from the repository root. The run prepares (or re-verifies) the seed's
inputs, starts a ``local[<cores>]`` session, loads the inputs, runs
``WARMUP_PASSES`` untimed warm-up passes, then runs timed passes until
``--seconds`` have elapsed (at least one). Every pass output is checked
against its reference.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes (ABBA) and prints the per-layer metrics instead. The
last stdout line is the result object; provenance (cores, corpus size,
steal %, input digest) goes to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "4g"
# The cold pass costs about twice a warm one, and the pass after it still
# runs 10-20 % slow while the JIT settles; both are set-up, so every timed
# pass is at least the third of its process.
WARMUP_PASSES = 2


def metric_units() -> tuple[dict, dict]:
    """({end-to-end name: unit}, {per-layer name: unit}) from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def process_start() -> float:
    """Epoch time this process started (10 ms resolution, from /proc)."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        started = int(f.read().rsplit(")", 1)[1].split()[19]) / hz
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - started)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants."""
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            continue
    return total / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


class RssSampler(threading.Thread):
    """Per-process high-water RSS (VmHWM) of this process and every Python
    descendant (the PySpark daemon and its workers), plus the JVM's."""

    def __init__(self):
        super().__init__(daemon=True)
        self.hwm: dict[int, int] = {}
        self.jvm_kb = 0
        self.halt = threading.Event()

    def sample(self):
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    st = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            kb = int(st.get("VmHWM", "0 kB").split()[0])
            name = st.get("Name", "").strip()
            if name.startswith("python"):
                self.hwm[pid] = max(self.hwm.get(pid, 0), kb)
            elif name == "java":
                self.jvm_kb = max(self.jvm_kb, kb)

    def run(self):
        while not self.halt.wait(0.5):
            self.sample()

    def stop(self) -> tuple[float, float]:
        self.halt.set()
        self.join()
        self.sample()
        return sum(self.hwm.values()) / 1024, self.jvm_kb / 1024


def descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def stop_jvm(timeout: float = 60.0) -> None:
    """Shut the py4j gateway JVM down and wait until it and every process
    it started (the PySpark daemon and workers) have exited."""
    from pyspark import SparkContext

    pids = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway server exits on stdin EOF
        gw.proc.wait(timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = process_start()

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    from tbdedup_spark.session import ensure_worker_pyfiles, get_spark

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    e2e_units, layer_units = metric_units()

    t0 = time.time()
    inp, truth, digest = inputs.load(args.workload, args.seed, os.path.join(WORK, "inputs"))
    prep_s = time.time() - t0
    # Generation is a prepare step: forget its memory high-water mark, so
    # peak RSS does not depend on whether the inputs were cached.
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")

    rss = RssSampler()
    rss.start()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        },
    )
    try:
        ensure_worker_pyfiles(spark)
        wl = WORKLOADS[args.workload](spark, inp, truth, run_dir)
        wl.setup()
        session_s = time.time() - t_start - prep_s
        warmup_walls = [wl.run_pass()[0] for _ in range(WARMUP_PASSES)]
        setup_s = time.time() - t_start - prep_s

        tracer = Tracer(spark, os.path.join(run_dir, "events"))
        walls = {False: [], True: []}
        batches, outcomes, layer_runs, pass_cpu = [], [], [], []
        attempted = failed = 0
        cpu0 = cpu_times()
        t_timed = time.time()
        while True:
            # untraced/traced passes in ABBA order, so warm-up drift along
            # the run does not land on one side of the overhead
            traced = bool(args.trace) and attempted % 4 in (1, 2)
            attempted += 1
            c0 = tree_cpu_s()
            try:
                if traced:
                    with tracer:
                        wall, lat, outcome = wl.run_pass()
                    layer_runs.append({**wl.layers(tracer, cores), **tracer.totals()})
                else:
                    wall, lat, outcome = wl.run_pass()
            except Exception:
                failed += 1
                log(traceback.format_exc())
                wall = None
            pass_cpu.append(tree_cpu_s() - c0)
            if wall is not None:
                walls[traced].append(wall)
                outcomes.append(outcome)
                if not traced:
                    batches += lat
                if not outcome.ok:
                    failed += 1
            balanced = not args.trace or attempted % 4 == 0
            if balanced and time.time() - t_timed >= args.seconds:
                break
        cpu1 = cpu_times()
    finally:
        spark.stop()
        peak_rss, jvm_rss = rss.stop()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    if not walls[False] or (args.trace and not layer_runs):
        log("no untraced or no traced pass completed")
        return 1

    hits = sum(o.hits for o in outcomes)
    n_truth = sum(o.n_truth for o in outcomes)
    n_got = sum(o.n_got for o in outcomes)
    wall_s = statistics.median(walls[False])
    steal = 100.0 * (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
    prov = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "rows_per_pass": wl.rows, "session_s": session_s,
        "warmup_walls": warmup_walls,
        "passes": len(walls[False]), "traced_passes": len(walls[True]),
        "batch_samples": len(batches), "steal_pct": round(steal, 3),
        "prepare_s": round(prep_s, 3), "driver_mem": DRIVER_MEM,
        "input_digest": digest, "tier_counts": truth.get("tier_counts"),
        "loadavg": os.getloadavg(), "walls": walls[False], "pass_cpu_s": pass_cpu,
    }
    if args.trace:
        metrics = dict.fromkeys(layer_units, 0.0)
        for name in layer_runs[0]:
            metrics[name] = statistics.median(r[name] for r in layer_runs)
        traced_s = statistics.median(walls[True])
        metrics["trace.wall_s"] = traced_s
        metrics["trace.untraced_wall_s"] = wall_s
        metrics["trace.overhead_s"] = traced_s - wall_s
        metrics["trace.coverage"] = metrics["trace.span_sum_s"] / traced_s
        metrics["jvm.peak_rss_mb"] = jvm_rss
        # The layer spans account for the untraced wall when they miss it by
        # no more than the tracing overhead plus 10 % of the wall.
        residual = abs(metrics["trace.span_sum_s"] - wall_s)
        allowed = abs(metrics["trace.overhead_s"]) + 0.1 * wall_s
        prov["spans_account_for_wall"] = {
            "ok": residual <= allowed, "residual_s": residual, "allowed_s": allowed,
        }
        if residual > allowed:
            log(f"layer spans miss the untraced wall by {residual:.3f} s (allowed {allowed:.3f} s)")
        units = layer_units
    else:
        metrics = {
            "wall_s": wall_s,
            "rows_per_s": wl.rows / wall_s,
            "setup_s": setup_s,
            "batch_p50_s": statistics.median(batches),
            "recall": hits / n_truth if n_truth else 1.0,
            "precision": hits / n_got if n_got else 1.0,
            "peak_rss_mb": peak_rss,
        }
        units = e2e_units
    log("provenance " + json.dumps(prov))
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
