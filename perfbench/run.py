"""Benchmark harness for the near-dup pipeline and the sketch rollups.

Run from the repository root:

    python3 perfbench/run.py --workload ship_images --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

One invocation runs one workload (``all`` runs each in its own process),
closed loop, one job at a time, on ``make_local_session(nproc)``:

1. makes (or reuses) the seeded input, cached by (workload, seed, size);
2. sets up: a fresh JVM and session plus an untimed warm-up pass on a
   small slice of the input (``setup_s``);
3. runs timed passes on the full input for ``--seconds`` seconds and at
   least the workload's ``min_passes``, checking the output of every pass.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, with Spark's event log on, and prints the
per-layer metrics. Human-readable lines come first; the last line of
stdout is one JSON object. Everything the run writes goes under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

# rows per workload, sized so that one run fits the benchmark's time
# budget at local[4] (NOTES.md)
SIZES = {"ship_images": 2000, "hot_captions": 6000, "sketch_rollup": 100000}
LAYERS = ("signatures", "lsh", "verify", "edges", "cc", "output",
          "sketch.theta", "sketch.hll", "sketch.cpc", "sketch.freq", "sketch.tdigest")
COUNTS = (
    "signatures.rows_per_s", "signatures.decode_failed",
    "lsh.band_rows", "lsh.candidate_pairs", "lsh.max_bucket", "lsh.hot_buckets",
    "verify.edges", "verify.yield",
    "cc.edges_in", "cc.distributed", "cc.rounds", "cc.components",
    "sketch.theta.partial_bytes", "sketch.hll.partial_bytes",
    "sketch.cpc.partial_bytes", "sketch.max_rel_err",
    "trace.total_s", "trace.overhead_s",
)


def _driver_memory() -> str:
    """Well below physical RAM: a quarter of it, at most 2g. A heap
    this size fills on every workload, so peak RSS repeats from run to
    run; at 3g it depended on when G1 chose to grow the heap."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(2, total_kb // (4 << 20)))}g"


class Sessions:
    """Starts and fully stops local sessions: each start launches a
    fresh JVM, and each stop waits for the JVM and its Python workers to
    exit."""

    def __init__(self, cpus: int, memory: str):
        self.cpus = cpus
        self.memory = memory
        self.spark = None

    def start(self):
        from datasketches_rust_spark.session import make_local_session

        self.stop()
        self.spark = make_local_session(self.cpus, app_name="perfbench",
                                        driver_memory=self.memory)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        from probes import process_tree
        from pyspark import SparkContext

        if self.spark is None:
            return
        started = set(process_tree(os.getpid())) - {os.getpid()}
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while started and time.monotonic() < deadline:
            started = {p for p in started if os.path.exists(f"/proc/{p}")}
            time.sleep(0.05)
        for pid in started:
            os.kill(pid, 9)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _emit(name: str, value, unit: str, note: str = "") -> None:
    print(f"{name:<34} {value:>14.6g} {unit:<6} {note}".rstrip())


class Results:
    """What the timed loop collects: untraced samples, traced passes and
    the pass tally."""

    def __init__(self):
        self.job_s: list[float] = []
        self.cpu_s: list[float] = []
        self.quality: list[dict] = []
        self.traces: list = []
        self.attempted = 0
        self.failed = 0


def timed_loop(work, inp, sessions, monitor, seconds: float, out_dir: str,
               trace: bool) -> Results:
    """Closed loop of passes. A pass that raises or fails its check
    counts as failed. Dedup assignments must match the digest of the
    first pass on this input, in this run or an earlier one."""
    from probes import Tracer
    from workloads import CheckFailed

    res = Results()
    digest = inp.meta.get("digest")
    t_end = time.monotonic() + seconds
    while time.monotonic() < t_end or res.attempted < work.min_passes:
        res.attempted += 1
        traced = trace and res.attempted % 2 == 0
        try:
            cpu0 = monitor.cpu_s()
            t0 = time.perf_counter()
            with monitor.sampling():
                if traced:
                    tr = Tracer(sessions.spark, res.attempted)
                    work.traced(sessions.spark, inp.data, out_dir, tr)
                else:
                    work.run(sessions.spark, inp.data, out_dir)
            dt = time.perf_counter() - t0
            cpu = monitor.cpu_s() - cpu0
            quality = work.check(inp, out_dir)
            if "digest" in quality:
                if digest is None:
                    digest = quality["digest"]
                    inp.update_meta(digest=digest)
                elif quality["digest"] != digest:
                    raise CheckFailed(f"assignment digest {quality['digest']} "
                                      f"differs from {digest}")
        except Exception:
            res.failed += 1
            traceback.print_exc()
            continue
        if traced:
            res.traces.append((res.attempted, dt, tr, quality))
        else:
            res.job_s.append(dt)
            res.cpu_s.append(cpu)
            res.quality.append(quality)
    return res


def per_layer(work, traces, untraced_job_s: float, log_dir: str) -> dict:
    """Median over traced passes of each layer's self time, its
    event-log totals and its counts. A layer's self time is its span
    minus the spans of the layers it runs again inside (``recomputes``);
    layers the workload does not run read 0."""
    from probes import EVENT_SCALE, event_log_totals

    events = event_log_totals(log_dir)
    per_pass = []
    for pass_id, total, tr, quality in traces:
        m = {}
        for layer in LAYERS:
            children = work.recomputes.get(layer, ())
            m[f"{layer}.s"] = (tr.spans[layer] - sum(tr.spans[c] for c in children)
                               if layer in work.layers else 0.0)
            own = events.get((layer, pass_id), {})
            for field, scale in EVENT_SCALE.items():
                raw = own.get(field, 0) - sum(
                    events.get((c, pass_id), {}).get(field, 0) for c in children)
                m[f"{layer}.{field}"] = raw * scale
        m.update(dict.fromkeys(COUNTS, 0))
        m.update(tr.counts)
        rows = m.pop("signatures.rows", 0)
        m["signatures.rows_per_s"] = rows / m["signatures.s"] if rows else 0.0
        m["cc.components"] = quality.get("components", 0)
        m["sketch.max_rel_err"] = quality.get("max_rel_err", 0.0)
        m["trace.total_s"] = total
        m["trace.overhead_s"] = total - untraced_job_s
        per_pass.append(m)
    return {k: _median([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}


def layer_unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith(("yield", "max_rel_err")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("partial_bytes"):
        return "B"
    return "count"


def run(args, root: str, run_dir: str) -> dict:
    import inputs
    from probes import TreeMonitor, reference_s
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    sessions = Sessions(cpus, _driver_memory())
    monitor = TreeMonitor()
    out_dir = os.path.join(run_dir, "out")
    size = SIZES[args.workload]
    try:
        inp, gen_s = inputs.get_input(
            os.path.join(root, ".perfbench_work", "cache"), args.workload,
            args.seed, size, cpus, sessions.start,
        )
        sessions.stop()
        print(f"input {args.workload} seed {args.seed}: {size} rows, "
              + (f"generated in {gen_s:.1f} s (not in setup_s)" if gen_s else "cached"))

        print(f"weather: reference kernel {reference_s() * 1e3:.2f} ms "
              "(single core, before set-up)")
        work = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        sessions.start()
        work.run(sessions.spark, inp.slice, out_dir)
        setup_s = time.perf_counter() - t0

        res = timed_loop(work, inp, sessions, monitor, args.seconds, out_dir, args.trace)
        peak_rss_mb = monitor.peak_rss / 1e6
    finally:
        sessions.stop()
        monitor.close()

    job_s = _median(res.job_s)
    print(f"{cpus} cores, driver memory {sessions.memory}, "
          f"{len(res.job_s)} untraced timed passes: "
          + " ".join(f"{s:.3f}" for s in res.job_s))
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "rows_per_s": (size / job_s if job_s else 0.0, "rows/s"),
        "cpu_s": (_median(res.cpu_s), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "recall": (_median([q["recall"] for q in res.quality]), "ratio"),
    }
    for name, (value, unit) in end_to_end.items():
        _emit(name, value, unit)
    last = res.quality[-1] if res.quality else {}
    if "max_rel_err" in last:
        _emit("max_rel_err", last["max_rel_err"], "ratio", "(worst key; " + ", ".join(
            f"{f} {last[f + '_max_rel_err']:.4f}" for f in ("theta", "hll", "cpc")) + ")")
    if "precision" in last:
        _emit("precision", last["precision"], "ratio", "(information)")
    _emit("failed_share", res.failed / res.attempted, "ratio",
          f"({res.failed} of {res.attempted} passes)")

    if args.trace:
        layers = per_layer(work, res.traces, job_s, os.path.join(run_dir, "eventlog"))
        print(f"{len(res.traces)} traced passes; per-layer medians:")
        for name, value in layers.items():
            _emit(name, value, layer_unit(name))
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    return {"correct": res.failed == 0, "attempted": res.attempted,
            "failed": res.failed, "metrics": metrics}


def run_all(args) -> int:
    """Every workload in turn, each in its own process (its own cold
    start); the last line maps each workload to its result."""
    import subprocess

    results = {}
    for name in SIZES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        print(f"== {name}")
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            return proc.returncode or 1
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "datasketches_rust_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds datasketches_rust_spark/",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    run_dir = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(tmp)
    os.makedirs(log_dir)
    # shuffle, spill and temp files stay in the run dir, removed at exit;
    # SPARK_LOCAL_DIRS takes precedence over the session's spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    conf = [
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if args.trace:
        conf += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        result = run(args, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
