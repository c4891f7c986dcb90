"""Run one benchmark workload and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

A run writes the workload's inputs from the seed, then measures batches
until ``--seconds`` of batch time is measured: each batch starts a local
Spark session with one task thread per core and runs one pass of the
workload on it. The outputs are checked after the last batch. The last
stdout line is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. Untraced (``--trace 0``) the metrics are the end-to-end
ones, medians over batches; traced (``--trace 1``) Spark writes its event
log and the metrics are the per-layer ones, summed per call from that log. ``--workload all`` runs
every workload untraced and then traced, and reports tracing overhead.

Everything the run writes stays under ``.perfbench/`` in the repository
root; only the traced runs' span files are kept.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
GENERATIONS = 3  # setup repeats input generation and reports the median

END_TO_END = {  # name -> (unit, what)
    "setup_s": ("s", "median session start + median input generation"),
    "run_s": ("s", "median wall time of a batch: one pass on a fresh session"),
    "cpu_s": ("s", "median CPU time of a batch, Spark JVM plus its Python workers"),
    "peak_rss_mb": ("MB", "median peak resident memory of the Spark JVM in a batch"),
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_package() -> None:
    """Import the package and the tools the benchmark drives from this checkout.

    Raises ImportError when they are missing or would come from elsewhere.
    """
    for p in (str(ROOT / "tools"), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    import noaa_ais_glue_lakehouse_spark
    import selfcheck
    import synth_scale

    for mod in (noaa_ais_glue_lakehouse_spark, selfcheck, synth_scale):
        if ROOT not in Path(mod.__file__).resolve().parents:
            raise ImportError(f"{mod.__name__} resolves outside {ROOT}: {mod.__file__}")


# --- process metrics ---------------------------------------------------------


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in clock ticks) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        out[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def tree_cpu_seconds(pid: int) -> float:
    """CPU seconds of ``pid`` and its live descendants, reaped children included."""
    stats = _proc_stats()
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(p)
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += stats.get(p, (0, 0))[1]
        todo.extend(kids.get(p, []))
    return total / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Time the hypervisor ran something else while this machine's CPUs were runnable, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --- session -----------------------------------------------------------------


def driver_memory_mb() -> int:
    """2 GiB, or a quarter of host RAM on a smaller host."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return min(2048, total_kb // 4096)


def build_session(work: Path, cores: int, trace: bool, app: str):
    from pyspark.sql import SparkSession

    heap_mb = driver_memory_mb()
    java_opts = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "  # no JVM files outside the checkout
        # C1 only: C2 compiled on the cores the tasks ran on, so a batch's CPU
        # time was twice as high and its wall time spread with the scheduling.
        "-XX:TieredStopAtLevel=1 "
        # The parallel collector with a fixed young generation reuses one eden
        # range, so peak RSS follows the live data: under G1 it spread 10-30%
        # between runs of one workload, with the parallel collector under 5%.
        f"-XX:+UseParallelGC -Xmn{heap_mb // 5}m"
    )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", java_opts)
    )
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir.as_uri())
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- one workload ------------------------------------------------------------


def per_layer_values(wl, tracer, pass_ids: list[int], walls: list[float], cores: int,
                     agg: dict[str, dict[str, int]]) -> dict[str, float]:
    """Per-layer metrics of a traced run: span times plus event-log sums per call, median over batches."""
    from perfbench.tracing import COUNTS
    from perfbench.workloads import median

    def pass_counts(name: str) -> list[dict[str, float]]:
        """For each batch, the summed times and Spark counts of the calls named ``name``."""
        rows = []
        for pid in pass_ids:
            row = dict.fromkeys(COUNTS, 0) | {"wall_s": 0.0, "build_s": 0.0, "exec_s": 0.0}
            for s in tracer.descendants(pid):
                if s.name != name:
                    continue
                row["wall_s"] += s.end - s.start
                for c in tracer.children(s.span_id):
                    phase = c.name.rsplit(".", 1)[1] + "_s"
                    if phase in row:
                        row[phase] += c.end - c.start
                for key, v in agg.get(s.group, {}).items():
                    row[key] += v
            rows.append(row)
        return rows

    layer = wl.layer_metrics(pass_counts)
    busy = []
    for pid, wall in zip(pass_ids, walls):
        run_ms = sum(agg.get(s.group, {}).get("executor_run_ms", 0) for s in tracer.descendants(pid) if s.group)
        busy.append(run_ms / 1000 / (wall * cores))
    layer[f"{wl.name}.busy_share"] = median(busy)
    layer["trace.run_s"] = median(walls)
    return layer


def run_workload(args: argparse.Namespace, work: Path, traces: Path) -> tuple[dict, list[str]]:
    """Measure batches of the workload until ``args.seconds`` of batch time is measured.

    A batch is one pass of the workload on a fresh session, the way the
    daily job runs: a new JVM per run, so the pass pays its own JIT and
    code-generation warm-up. On a 4-core host a pass on an already-warm JVM
    kept getting faster for four or more passes, so "the pass after one
    warm-up pass" landed on a different point of that curve run to run,
    while the first pass on a fresh JVM repeated within a few percent (see
    DESIGN.md). The outputs are checked once, after the last batch, outside
    the timed region.
    """
    from perfbench.tracing import Tracer, aggregate_event_log, event_log_files
    from perfbench.workloads import WORKLOADS, Outcome, Run, median, per_layer_units

    wl = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    data = work / "input0"

    def timed_session():
        t = time.perf_counter()
        spark = build_session(work, cores, trace, f"perfbench-{args.workload}")
        return spark, time.perf_counter() - t

    # The first JVM boots while the inputs and expected answers are written;
    # the answers come from the files alone, so they need no session.
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        booting = pool.submit(timed_session)
        try:
            gen_s = []
            for i in range(GENERATIONS):
                t = time.perf_counter()
                truth = wl.generate(args.seed, work / f"input{i}")
                gen_s.append(time.perf_counter() - t)
            for i in range(1, GENERATIONS):
                shutil.rmtree(work / f"input{i}")
            t = time.perf_counter()
            wl.prepare(data, truth)
            prepare_s = time.perf_counter() - t
        except BaseException:
            stop_session(booting.result()[0])
            raise
        booted = booting.result()

    tracer = Tracer(run_id, trace)
    run = Run(None, tracer, data, work / "out", Outcome())
    session_s, walls, cpus, rss, steals, pass_ids = [], [], [], [], [], []
    checks_s = 0.0
    while not walls or sum(walls) < args.seconds:
        spark, t_session = booted if not walls else timed_session()
        session_s.append(t_session)
        try:
            jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
            run.spark = spark
            tracer.sc = spark.sparkContext
            k = len(walls)
            # Write out what setup and earlier runs left dirty (the inputs, the
            # deleted copies and work directories); otherwise the kernel writes
            # it back during the timed batch.
            os.sync()
            c0, st0 = tree_cpu_seconds(jvm_pid), steal_seconds()
            t = time.perf_counter()
            with tracer.span(f"{wl.name}.pass") as s:
                wl.run_pass(run, k)
            walls.append(time.perf_counter() - t)
            cpus.append(tree_cpu_seconds(jvm_pid) - c0)
            steals.append(steal_seconds() - st0)
            rss.append(peak_rss_mb(jvm_pid))
            if s is not None:
                pass_ids.append(s.span_id)
            wl.after_pass(run, k)
            if sum(walls) >= args.seconds:
                t = time.perf_counter()
                wl.final_checks(run, k)
                checks_s = time.perf_counter() - t
        finally:
            stop_session(spark)

    outcome = run.outcome
    n = len(walls)
    lines = [
        f"{wl.name}: {wl.sizes}; {cores} task threads; {n} measured batches, "
        f"{outcome.attempted} operations, {outcome.failed} failed",
        f"  untimed: expected answers {prepare_s:.1f} s (while the first session started), "
        f"output checks {checks_s:.1f} s; CPU time stolen by the hypervisor during the "
        f"batches: {median(steals):.2f} s (median, summed over CPUs)",
    ]
    lines += [f"  problem: {p}" for p in outcome.problems]
    extra = {"failed_share": (outcome.failed / max(outcome.attempted, 1), "ratio")} | wl.quality()
    if trace:
        tracer.write(traces / f"{run_id}.spans.json")
        agg = aggregate_event_log(event_log_files(work / "eventlog"))
        layer = per_layer_values(wl, tracer, pass_ids, walls, cores, agg)
        layer["operators._cache.live_max"] = run.live_max
        metrics = {
            name: {"value": float(layer.get(name, 0)), "unit": unit}
            for name, (unit, _) in per_layer_units().items()
        }
        lines.append(f"  trace.run_s = {median(walls):.4f} s (median of {n} traced batches)")
    else:
        values = {
            "setup_s": (median(session_s) + median(gen_s), f"{n} session starts, {GENERATIONS} generations"),
            "run_s": (median(walls), f"{n} batches"),
            "cpu_s": (median(cpus), f"{n} batches"),
            "peak_rss_mb": (median(rss), f"{n} batches"),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, (v, _) in values.items()}
        for k, (v, samples) in values.items():
            lines.append(f"  {k} = {v:.4f} {END_TO_END[k][0]} ({END_TO_END[k][1]}; {samples})")
    for k, (v, unit) in extra.items():
        lines.append(f"  {k} = {v:.6g} {unit}")
    result = {
        "correct": outcome.failed == 0 and outcome.attempted > 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }
    return result, lines


def run_all(args: argparse.Namespace) -> int:
    """Every workload untraced then traced, with tracing overhead per workload."""
    from perfbench.workloads import WORKLOADS

    status = 0
    summary = []
    for name in WORKLOADS:
        results = []
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            out = proc.stdout.strip().splitlines()
            print("\n".join(out[:-1]), flush=True)
            if proc.returncode != 0 or not out:
                status = 1
                results.append(None)
                continue
            results.append(json.loads(out[-1]))
        if all(results):
            overhead = results[1]["metrics"]["trace.run_s"]["value"] - results[0]["metrics"]["run_s"]["value"]
            summary.append(f"{name}: tracing overhead = {overhead:+.4f} s per batch (traced trace.run_s - untraced run_s)")
            if not (results[0]["correct"] and results[1]["correct"]):
                status = 1
    print("\n".join(summary))
    return status


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    try:
        import_package()
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the package or its tools are not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    work = base / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    traces = base / "traces"
    (work / "tmp").mkdir(parents=True)
    traces.mkdir(parents=True, exist_ok=True)
    # Python-side temp files (PySpark's gateway handshake, worker spill) stay in the checkout;
    # tempfile caches its directory, and the imports above may already have read it
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"  # spark-submit's launcher JVM
    try:
        result, lines = run_workload(args, work, traces)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
