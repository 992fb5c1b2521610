#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; ``metrics`` holds every
``end_to_end`` metric of BENCHMARK.json with ``--trace 0`` and every
``per_layer`` metric with ``--trace 1``. Everything else goes to standard
error, and the traced run also writes its spans and per-operation record
to ``perfbench/_work/traces/``.

A run:

1. generates the corpus (fixed generator seed) and the workload's inputs:
   synthesized topics, cached under ``perfbench/_work`` once per corpus,
   and, for streams, this seed's slices. This is input generation, done
   untimed in a child process, so neither its time nor its memory nor
   whether its caches were warm reaches a metric.
2. sets up once: starts this process's Spark JVM and a session on
   ``local[<cores>]``, and runs the workload's warm-up (every batch query
   once on the measured corpus, its output collected for the check; each
   stream pipeline on a one-slice backlog). That is ``setup_s``.
3. runs the timed passes, each after clearing every session stage
   (bench.py's honest-cold rule); ``--seconds`` sets their number, from
   the workload's ``pass_seconds``. The host probe (``measure.HostProbe``)
   is sampled before the first pass and after the last. ``wall_adj_s`` is the
   median wall time of a pass, ``op_p50_adj_s`` the median over the
   operations of all passes, both scaled to the reference host's speed by
   the probe. ``peak_rss_mb`` is the peak resident memory of this process
   and its JVM up to here.
4. checks every output against its oracle or batch twin. Untimed.

``--trace 1`` runs an untimed warm pass and an untraced pass after the
set-up, then sets up a new session with Spark's event log on and runs the
traced pass. Its wall time over the untraced pass's is
``trace.overhead_frac``. ``--smoke`` runs on the 0.001-scale corpus.

Exits 2 without a result when the checkout around it lacks the program.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: the generator seed of the measured corpus; the run seed varies the
#: query order and the stream slice boundaries
DATA_SEED = 42
SCALE, SMOKE_SCALE = "sf0.01", "sf0.001"
#: the driver heap, pinned below the program's 8g default so that a run
#: stays small on a shared host, and sized at start (-Xms) so that heap
#: resizing does not make resident memory vary from run to run
DRIVER_MEMORY = "1g"
#: how long input generation may take once its caches are built
INPUTS_TIMEOUT_S = 600


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run on the 0.001-scale corpus (the benchmark's own test)")
    # the run's child process that generates its inputs
    ap.add_argument("--role", choices=("run", "inputs"), default="run",
                    help=argparse.SUPPRESS)
    ap.add_argument("--run-dir", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def metric_spec(trace: int) -> dict[str, str]:
    """name -> unit of the metrics this run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def configure_environment(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and give Spark's
    Python workers the package whatever the working directory."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # the JVM writes its perf data to /tmp whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                            if p and p not in (ROOT, HERE)]),
    })
    for p in (ROOT, os.path.join(ROOT, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)

    from gmall_flink_spark.sources import materialize
    from gmall_flink_spark.streaming import core

    materialize.CACHE_ROOT = os.path.join(WORK, "synth_cache")
    core._STREAM_TMP = os.path.join(run_dir, "stream")


def inputs_stamp() -> str:
    """A short hash of the corpus generator and the topic synthesizers:
    inputs derived by older code are never mistaken for current ones."""
    h = hashlib.sha256()
    for path in sorted([os.path.join(HERE, "datagen.py")]
                       + glob.glob(os.path.join(ROOT, "gmall_flink_spark", "sources", "*.py"))):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def make_context(args, run_dir: str):
    """The run's context; generates the corpora on first use."""
    import datagen
    import workloads

    scale = SMOKE_SCALE if args.smoke else SCALE
    root = os.path.join(WORK, "data", inputs_stamp())
    return workloads.Context(
        work=WORK, run_dir=run_dir,
        data_dir=datagen.ensure(root, DATA_SEED, scale),
        seed=args.seed, seconds=args.seconds, started=time.monotonic())


def start_session(run_dir: str, event_log: str | None = None):
    from gmall_flink_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(wl, ctx, event_log: str | None = None):
    """Session start (a new JVM unless this process has one) and the
    workload's warm-up. Returns the session and its seconds."""
    t0 = time.perf_counter()
    spark = start_session(ctx.run_dir, event_log)
    wl.warm(spark)
    return spark, time.perf_counter() - t0


def _parents() -> dict[int, int]:
    """pid -> parent pid of every live process."""
    out = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(pid)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def jvm_pid() -> int:
    """The pid of this process's Spark JVM (its java child process)."""
    for pid, ppid in _parents().items():
        if ppid != os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    raise RuntimeError("no Spark JVM among this process's children")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _descendants(pid: int) -> list[int]:
    parents, out, todo = _parents(), [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out += kids
        todo += kids
    return out


class Phases:
    """Prints how long each phase of the run took, to standard error."""

    def __init__(self):
        self.t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        print(f"perfbench: {name} took {now - self.t:.1f} s", file=sys.stderr)
        self.t = now


def stop_spark() -> None:
    """Stop the active session and the JVM under it, and wait until the
    JVM and every process it started (Spark's Python workers) have ended."""
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    try:
        pid = jvm_pid()
    except RuntimeError:
        return
    workers = _descendants(pid)
    os.kill(pid, signal.SIGTERM)
    deadline = time.monotonic() + 30
    while os.waitpid(pid, os.WNOHANG) == (0, 0):
        if time.monotonic() > deadline:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
            break
        time.sleep(0.05)
    # the workers exit when their JVM is gone; wait, then kill stragglers
    for wait_s in (10, 5):
        deadline = time.monotonic() + wait_s
        while (workers := [w for w in workers if _alive(w)]) and time.monotonic() < deadline:
            time.sleep(0.05)
        for w in workers:
            with contextlib.suppress(ProcessLookupError):
                os.kill(w, signal.SIGKILL)


def generate_inputs(argv, run_dir: str) -> None:
    """Run input generation in a child process of its own, so that its
    time, its memory and its JVM stay out of every metric."""
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), *argv, "--role", "inputs",
         "--run-dir", run_dir],
        stdout=sys.stderr, timeout=INPUTS_TIMEOUT_S, check=True)


def make_inputs(args, run_dir: str) -> None:
    """The corpus and the workload's inputs. The inputs that persist
    (synthesized topics) need a Spark session; it is started only when
    they are not built yet."""
    import workloads

    ctx = make_context(args, run_dir)
    wl = workloads.make(args.workload, ctx)
    marker = f"{ctx.data_dir}-built-{args.workload}"
    if not os.path.exists(marker):
        wl.build_inputs(start_session(run_dir))
        with open(marker, "w"):
            pass
    wl.seed_inputs()


def timed_passes(spark, wl, ctx, tracer, progress_log, probe):
    """Every pass of a timed run, each after clearing session stages, with
    the host probe sampled before the first pass and after the last."""
    from workloads import Pass, clear_memos

    passes = []
    probe.sample()
    for p in range(ctx.passes(wl.pass_seconds)):
        clear_memos(ctx)
        passes.append(wl.run_pass(spark, tracer, progress_log, p))
    probe.sample()
    first, last = passes[0], passes[-1]
    return Pass(
        [op for r in passes for op in r.ops],
        [x for r in passes for x in r.latencies],
        sum(r.wall_s for r in passes), first.t0, last.t1,
        last.outputs, [pr for r in passes for pr in r.progress],
        [r.wall_s for r in passes])


def run(args, argv, run_dir: str) -> dict:
    import measure as stats
    import workloads
    from tracing import ProgressLog, Tracer

    phase = Phases()
    generate_inputs(argv, run_dir)
    phase("input generation")
    ctx = make_context(args, run_dir)
    wl = workloads.make(args.workload, ctx)
    spark, setup_s = set_up(wl, ctx)
    progress_log = ProgressLog()
    spark.streams.addListener(progress_log)
    phase("setup")

    if not args.trace:
        probe = stats.HostProbe(spark)
        result = timed_passes(spark, wl, ctx, workloads.NoTrace(), progress_log, probe)
        rss = stats.vm_hwm_mb() + stats.vm_hwm_mb(jvm_pid())
        phase("measure")
        wrong = wl.check(spark, result)
        phase("check")
        spark.stop()
        wall_s = stats.median(result.pass_walls)
        op_p50_s = stats.median(result.latencies) if result.latencies else 0.0
        values = {
            "setup_s": setup_s,
            "wall_adj_s": probe.adjust(wall_s),
            "op_p50_adj_s": probe.adjust(op_p50_s),
            "peak_rss_mb": rss,
        }
        extra = {"wall_s": wall_s, "op_p50_s": op_p50_s}
    else:
        import bench
        import tracing

        # the traced pass is this JVM's second pass at least; without a
        # warm pass the untraced one would be its first, and slower
        timed_passes(spark, wl, ctx, workloads.NoTrace(), progress_log, stats.HostProbe(spark))
        untraced = timed_passes(spark, wl, ctx, workloads.NoTrace(), progress_log,
                                stats.HostProbe(spark))
        spark.stop()
        event_log = os.path.join(run_dir, "eventlog")
        spark, _ = set_up(wl, ctx, event_log)
        calib = bench.calibrate(spark)
        progress_log = ProgressLog()
        spark.streams.addListener(progress_log)
        tracer = Tracer(spark)
        probe = stats.HostProbe(spark)
        result = timed_passes(spark, wl, ctx, tracer, progress_log, probe)
        phase("measure")
        wrong = wl.check(spark, result)
        phase("check")
        app_id = spark.sparkContext.applicationId
        spark.stop()
        log = tracing.event_log_metrics(event_log, app_id, result.t0, result.t1)
        values = layer_metrics(result, tracer, log["metrics"], calib)
        values["trace.overhead_frac"] = result.wall_s / untraced.wall_s - 1
        values["host.probe_s"] = probe.seconds()
        extra = {"untraced_wall_s": untraced.wall_s, "per_group": log["per_group"],
                 "spans": tracer.spans,
                 "exact_counters": [k for k in EXACT if k in values]}

    for op in result.ops:
        if op.name in wrong and not op.error:
            op.error = f"wrong output: {wrong[op.name]}"
    failed = [op for op in result.ops if op.error]
    for op in failed:
        print(f"perfbench: {op.name} failed: {op.error}", file=sys.stderr)
    spec = metric_spec(args.trace)
    missing = set(spec) - set(values)
    if missing:
        raise RuntimeError(f"metrics not computed: {sorted(missing)}")
    out = {
        "correct": not failed,
        "attempted": len(result.ops),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in spec.items()},
    }
    extra["probe_samples_s"] = probe.samples
    write_record(args, ctx, result, setup_s, out, extra)
    return out


def layer_metrics(result, tracer, spark_metrics: dict, calib: dict) -> dict:
    """Per-layer metrics of a traced pass."""
    from tracing import progress_metrics

    details = [op.detail for op in result.ops if op.detail]
    values = {
        "queries.build_s": sum(d.get("build_s", 0) for d in details),
        "queries.exec_s": sum(d.get("exec_s", 0) for d in details),
        "queries.build_jobs": sum(d.get("build_jobs", 0) for d in details),
        "queries.exec_jobs": sum(d.get("exec_jobs", 0) for d in details),
        "stages.checkpoints": tracer.span_count("stage.checkpoint"),
        "stages.checkpoint_s": tracer.span_seconds("stage.checkpoint"),
        "sinks.calls": tracer.span_count("sink.call"),
        "sinks.batch_s": tracer.span_seconds("sink.call"),
        "host.calib_jvm_s": calib["jvm"],
        "host.calib_py_s": calib["py"],
    }
    values.update(spark_metrics)
    values.update(progress_metrics(result.progress))
    values["streaming.rows_per_s"] = (
        values["streaming.input_rows"] / result.wall_s if values["streaming.triggers"] else 0.0)
    files = [os.path.join(d, f) for sink in result.outputs.values() if isinstance(sink, str)
             for d, _, fs in os.walk(sink) for f in fs if f.endswith(".parquet")]
    values["sinks.files_written"] = len(files)
    values["sinks.bytes_written"] = sum(os.path.getsize(f) for f in files)
    return values


#: per-layer counters that repeat exactly across runs of one seed
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
         "spark.shuffle_read_bytes", "spark.input_records", "queries.build_jobs",
         "queries.exec_jobs", "stages.checkpoints",
         "streaming.triggers", "streaming.input_rows", "state.rows_total",
         "state.rows_updated", "state.rows_removed", "sinks.calls", "sinks.files_written")


def write_record(args, ctx, result, setup_s, out, extra: dict) -> None:
    """The run's full record: per-operation timings, set-up times, the
    latency tail, host probe samples, the timings before host adjustment
    and, for a traced run, spans and per-job-group counters."""
    import measure as stats

    tail = stats.tail(result.latencies)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "setup_s": setup_s,
        "failed_frac": out["failed"] / out["attempted"],
        "latency_tail": None if tail is None else
        {"percentile": tail[0], "seconds": tail[1], "samples": tail[2]},
        "ops": [vars(op) for op in result.ops],
        "latencies": result.latencies,
        "pass_walls": result.pass_walls,
        "result": out,
        **extra,
    }
    folder = os.path.join(ctx.work, "traces" if args.trace else "records")
    os.makedirs(folder, exist_ok=True)
    path = os.path.join(folder, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"perfbench: failed_frac {record['failed_frac']:.3f}; "
          f"latency tail {record['latency_tail']}; record {path}", file=sys.stderr)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gmall_flink_spark")) or not os.path.isfile(
            os.path.join(ROOT, "bench.py")):
        print(f"perfbench: no gmall_flink_spark package and bench.py in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    if args.role == "inputs":
        configure_environment(args.run_dir)
        try:
            make_inputs(args, args.run_dir)
        finally:
            stop_spark()
        return 0
    run_dir = os.path.join(WORK, "scratch", f"{os.getpid()}-{time.time_ns()}")
    configure_environment(run_dir)
    stdout, sys.stdout = sys.stdout, sys.stderr  # the result is the only stdout line
    try:
        out = run(args, argv, run_dir)
    finally:
        sys.stdout = stdout
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
