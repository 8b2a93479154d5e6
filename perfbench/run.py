"""Benchmark of the bearysta_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It sets the workload up several
times (a local[nproc] Spark session, the workload's inputs made from
the seed under `.perfbench_tmp/`), runs one warm pass whose every
output is checked, then times passes over the workload's operations
for `--seconds`, and for at least MIN_PASSES passes, in wall seconds
and in CPU seconds of the whole process tree. The last line of standard output is
one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (see
BENCHMARK.json). With `--trace 1` Spark's JSON event log is on,
untraced passes alternate with traced ones (one span and Spark job
group per call into a layer), and the metrics are the per-layer ones.
perfbench/README.md describes the workloads and every metric.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

MB = 2**20
#: driver JVM heap (Spark local mode runs every task in the driver)
HEAP = "1g"
#: set-ups per run; setup_s is their median
SETUPS = 5
#: timed passes per run at the least. A run pays 30-45 s of start-up
#: and cold first pass before these, and a comparison of two commits
#: (48 runs) has to fit in under an hour.
MIN_PASSES = 2


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(root: str, tmp: str, event_log: bool) -> None:
    """Point everything Spark and the engine write at `tmp`, let the
    Python workers import the engine from `root`, and turn on Spark's
    JSON event log when `event_log` is set."""
    for d in ("local", "scratch", "eventlog"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["BEARYSTA_SCRATCH_DIR"] = os.path.join(tmp, "scratch")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ.pop("BEARYSTA_SPARK_MEDIAN", None)
    os.environ.pop("BEARYSTA_INDEX_DIR", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in confs.items()]
        # a fixed, pre-touched heap: its resident size no longer depends on
        # when the collector chose to grow it, so peak_rss_mb repeats
        + ['--driver-java-options "'
           f'-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"',
           "pyspark-shell"]
    )
    sys.path.insert(0, root)


def _stop_jvm(timeout: float = 60.0) -> None:
    """Stop the JVM that PySpark launched and wait until it and every
    process under this one (the Python workers) have exited."""
    import signal

    from pyspark import SparkContext
    from tracing import descendants

    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits at end of input
            proc.wait(timeout=timeout)
    t_end = time.perf_counter() + timeout
    while (left := descendants(os.getpid())) and time.perf_counter() < t_end:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _start_spark(cpus: int):
    from bearysta_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Counter:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, op, spark, tracer, check: bool = False) -> tuple[float, float] | None:
        """Run one operation; its (wall seconds, process-tree CPU
        seconds), or None when it failed."""
        from tracing import tree_cpu_seconds

        self.attempted += 1
        c0, t0 = tree_cpu_seconds(os.getpid()), time.perf_counter()
        try:
            err = op.run(spark, tracer, check)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            err = f"{op.name}: {type(e).__name__}: {e}"[:300]
        dt, cpu = time.perf_counter() - t0, tree_cpu_seconds(os.getpid()) - c0
        if err:
            self.failed += 1
            self.errors.append(err)
            return None
        return dt, cpu


def _one_pass(spark, wl, counter, tracer, group: str, wall: dict, cpu: dict) -> tuple[float, int]:
    """Run every operation once under job group `group`, appending each
    one's wall and CPU seconds to `wall` and `cpu`. Returns (pass
    seconds, Spark jobs run)."""
    sc = spark.sparkContext
    tracer.prefix = group
    sc.setJobGroup(f"{group}/idle", "pass")
    total = 0.0
    for op in wl.ops:
        r = counter.call(op, spark, tracer)
        if r is not None:
            wall.setdefault(op.name, []).append(r[0])
            cpu.setdefault(op.name, []).append(r[1])
            total += r[0]
    jobs = 0 if tracer.enabled else len(sc.statusTracker().getJobIdsForGroup(f"{group}/idle"))
    return total, jobs


def _timed_passes(spark, wl, counter, rss, seconds: float) -> dict:
    """Repeat passes over the workload until `seconds` have elapsed and
    MIN_PASSES have run. Returns each operation's wall and CPU seconds,
    and each pass's total, Spark job count and peak resident set."""
    from tracing import Tracer

    out = {"wall": {}, "cpu": {}, "totals": [], "jobs": [], "peaks": []}
    t_end = time.perf_counter() + seconds
    rss.take_peak()
    while len(out["totals"]) < MIN_PASSES or time.perf_counter() < t_end:
        group = f"pass{len(out['totals'])}"
        total, jobs = _one_pass(spark, wl, counter, Tracer(), group, out["wall"], out["cpu"])
        out["totals"].append(total)
        out["jobs"].append(jobs)
        out["peaks"].append(rss.take_peak())
    return out


def _pass_seconds(per_op: dict[str, list[float]]) -> float:
    """A pass's time: the sum over operations of each one's median."""
    return sum(statistics.median(v) for v in per_op.values() if v)


def _report(name: str, per_op, totals, inputs: dict, setup: dict, **extra) -> None:
    """One JSON line before the result: the set-up times, the pass-time
    distribution, each operation's median and the input sizes."""
    q = statistics.quantiles(totals, n=4) if len(totals) > 1 else [totals[0]] * 3
    print(json.dumps({
        "workload": name,
        "inputs": inputs,
        "setup": setup,
        "passes": len(totals),
        "pass_total_s": {"p25": q[0], "median": q[1], "p75": q[2], "max": max(totals), "all": totals},
        "op_median_s": {k: statistics.median(v) for k, v in per_op.items() if v},
        **extra,
    }))


#: span layer -> (self-time metric, job-count metric)
SPAN_METRICS = {
    "engine.sources": ("engine.sources.s", "engine.sources.jobs"),
    "engine.core": ("engine.core.s", "engine.core.jobs"),
    "operators.pivot": ("operators.pivot.s", "operators.pivot.jobs"),
    "sinks": ("sinks.s", "sinks.jobs"),
    "queries.build": ("queries.build_s", "queries.build_jobs"),
    "scratch.finalize": ("scratch.finalize_s", "scratch.finalize_jobs"),
    "catalyst": ("catalyst.plan_s", "catalyst.jobs"),
    "spark.exec": ("spark.exec_s", "spark.exec_jobs"),
}
#: metric -> (event-log total summed over the pass's job groups, divisor)
PASS_METRICS = {
    "spark.jobs": ("jobs", 1),
    "spark.stages": ("stages", 1),
    "spark.tasks": ("tasks", 1),
    "spark.task_s": ("task_s", 1),
    "spark.cpu_s": ("cpu_s", 1),
    "spark.gc_s": ("gc_s", 1),
    "spark.shuffle_read_mb": ("shuffle_read_b", MB),
    "spark.shuffle_write_mb": ("shuffle_write_b", MB),
    "spark.spill_mb": ("spill_b", MB),
    "spark.input_mb": ("input_b", MB),
    "pyworker.run_s": ("py_run_s", 1),
    "pyworker.boot_s": ("py_boot_s", 1),
    "pyworker.sent_mb": ("py_sent_b", MB),
    "pyworker.received_mb": ("py_recv_b", MB),
}


def _layer_metrics(tracer, wl, passes: list[str], group_stats, intervals, totals) -> dict:
    """Per-layer numbers per traced pass (means over `passes`)."""
    from tracing import GROUP_FIELDS, union_seconds

    acc: dict[str, float] = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    covered = 0.0
    for sp in tracer.spans:
        if sp.group.split("/")[0] not in passes:
            continue
        g = group_stats.get(sp.group, dict.fromkeys(GROUP_FIELDS, 0.0))
        self_metric, jobs_metric = SPAN_METRICS[sp.layer]
        add(self_metric, sp.self_s)
        add(jobs_metric, g["jobs"])
        if sp.layer == "scratch.finalize":
            add("scratch.write_mb", g["output_b"] / MB)
        for k, v in sp.counts.items():
            add(f"{sp.layer}.{k}", v)
        if sp.parent is None:
            covered += sp.end - sp.start

    job_iv = []
    for g, stats in group_stats.items():
        if g.split("/")[0] in passes:
            for metric, (field, div) in PASS_METRICS.items():
                add(metric, stats[field] / div)
            job_iv += intervals.get(g, [])
    n = len(passes)
    out = {k: v / n for k, v in acc.items()}
    for op in wl.ops:  # static work counts, per pass
        for layer, counts in op.counts.items():
            for k, v in counts.items():
                out[f"{layer}.{k}"] = out.get(f"{layer}.{k}", 0.0) + v
    out["spark.job_s"] = union_seconds(job_iv) / n
    out["trace.coverage_pct"] = 100.0 * covered / sum(totals)
    return out


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bearysta_spark", "__init__.py")):
        print("perfbench: run from the repository root (bearysta_spark/ not found)", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    tmp = os.path.join(root, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    _isolate(root, tmp, event_log=bool(args.trace))
    try:
        return _run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _setup(args, tmp: str, spark):
    """Set the workload up SETUPS times: each time a fresh Spark session
    (the first one launches the JVM; later ones restart the context in
    it) and the workload's inputs made anew. The first set-up counts
    from process start, so it includes the imports and the JVM launch.
    Returns (session, workload, [(wall s, process-tree CPU s) per set-up])."""
    import workloads
    from tracing import tree_cpu_seconds

    times, t0, c0 = [], T_START, 0.0
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark = _start_spark(os.cpu_count() or 1)
        data = os.path.join(tmp, f"data{i}")
        wl = workloads.build(args.workload, args.seed, data)
        t1, c1 = time.perf_counter(), tree_cpu_seconds(os.getpid())
        times.append((t1 - t0, c1 - c0))
        t0, c0 = t1, c1
        if i + 1 < SETUPS:
            shutil.rmtree(data, ignore_errors=True)
    return spark, wl, times


def _run(args, tmp: str) -> int:
    from tracing import RssSampler, Tracer

    counter = Counter()
    spark = None
    with RssSampler() as rss:
        try:
            spark, wl, setups = _setup(args, tmp, spark)
            t0 = time.perf_counter()
            for op in wl.ops:
                counter.call(op, spark, Tracer(), check=True)
            setup = {
                "wall_s": [w for w, _ in setups],
                "cpu_s": [c for _, c in setups],
                "checked_pass_s": time.perf_counter() - t0,
            }
            if args.trace:
                values = _traced(spark, wl, counter, args.seconds, tmp, setup)
                spark = None
            else:
                t = _timed_passes(spark, wl, counter, rss, args.seconds)
                _report(args.workload, t["wall"], t["totals"], wl.inputs, setup,
                        op_cpu_s=t["cpu"], pass_peak_rss_mb=[p / MB for p in t["peaks"]], jobs=t["jobs"])
                values = {
                    # the least over passes: the first timed pass is still
                    # warming up, and interference only ever adds CPU time
                    "pass_cpu_s": {"value": sum(min(v) for v in t["cpu"].values()), "unit": "s"},
                    "jobs_per_pass": {"value": float(statistics.median(t["jobs"])), "unit": "count"},
                    "peak_rss_mb": {"value": statistics.median(t["peaks"]) / MB, "unit": "MB"},
                    "setup_s": {"value": statistics.median(setup["cpu_s"]), "unit": "s"},
                }
        finally:
            if spark is not None:
                spark.stop()
            _stop_jvm()
    for e in counter.errors[:20]:
        print("FAILED", e, file=sys.stderr)
    print(json.dumps({
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": values,
    }))
    return 0


def _traced(spark, wl, counter, seconds: float, tmp: str, setup: dict) -> dict:
    """Alternate untraced and traced passes (U T T U ...) for `seconds`,
    at least two of each; then stop Spark, so that the event log is
    complete, and read it. Returns the per-layer metrics."""
    import workloads
    from tracing import Tracer, read_event_log

    tracer = Tracer(spark.sparkContext)
    workloads.instrument_scratch(tracer)
    per_op: dict[str, list[float]] = {}
    t_per_op: dict[str, list[float]] = {}
    t_totals: list[float] = []
    t_end = time.perf_counter() + seconds
    i = 0
    while i < 4 or time.perf_counter() < t_end:
        tracer.enabled = i % 4 in (1, 2)
        if tracer.enabled:
            t_totals.append(_one_pass(spark, wl, counter, tracer, f"traced{len(t_totals)}", t_per_op, {})[0])
        else:
            _one_pass(spark, wl, counter, tracer, f"pass{i}", per_op, {})
        i += 1
    _report(wl.name + " (traced)", t_per_op, t_totals, wl.inputs, setup)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    # one log per Spark context: read the one the passes ran in
    (log,) = glob.glob(os.path.join(tmp, "eventlog", glob.escape(app_id) + "*"))
    group_stats, intervals = read_event_log(log)
    passes = [f"traced{j}" for j in range(len(t_totals))]
    metrics = _layer_metrics(tracer, wl, passes, group_stats, intervals, t_totals)
    metrics["trace.pass_s"] = _pass_seconds(t_per_op)
    metrics["trace.base_pass_s"] = _pass_seconds(per_op)
    # per-op minima: the first untraced pass still carries warm-up cost
    fastest = sum(min(v) for v in t_per_op.values() if v) / sum(min(v) for v in per_op.values() if v)
    metrics["trace.overhead_pct"] = 100.0 * (fastest - 1.0)
    return {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in _per_layer_units().items()}


def _per_layer_units() -> dict[str, str]:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
