"""The benchmark's workloads.

Each workload has five steps, called in this order by ``run.py``:

- ``build_inputs``: build the corpus-level inputs it reads (synthesized
  topics), which persist across runs; ``seed_inputs``: this seed's inputs
  (stream slices). Both are input generation: untimed, in a process of
  their own before the measured one starts.
- ``warm``: workload-specific warm-up, charged to set-up time.
- ``run_pass``: the timed operations, one ``Op`` per query or trigger.
- ``check``: compare the outputs with a reference computation: a
  stream's from its last pass, a batch query's as its warm-up collected
  them. Untimed; a wrong output counts as a failed operation.

A pass is a closed loop: one operation starts when the previous one has
finished.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from bench import track_terminal_sort, unsorted_form

#: query modules of the warehouse surface: relational, CDC, dedup,
#: windows, logs. The corpus modules are the rest of the registry.
WAREHOUSE_MODULES = ("relational", "tpch_extra", "analytic", "dedup", "windows",
                     "cdc", "log", "scale")
#: every WAREHOUSE_STRIDE-th warehouse query (sorted by name) is timed
WAREHOUSE_STRIDE = 12
#: a corpus query that builds a session stage (the localCheckpointed
#: winnow fingerprints) and one that reuses it, in the bench's HEADLINE
#: order
CORPUS_QUERIES = ("text_winnow_fingerprint", "winnow_match_pairs")
#: per-pipeline availableNow timeout; a trigger takes 1-10 s on 4 cores
STREAM_TIMEOUT_S = 60
#: no operation starts after this many seconds past input generation, so
#: the run ends well inside its time limit even on a stalled host
RUN_DEADLINE_S = 140


@dataclass
class Context:
    work: str  # the benchmark's cache directory in the checkout
    run_dir: str  # this run's scratch directory, removed at the end
    data_dir: str  # the measured corpus
    seed: int
    seconds: int
    started: float  # time.monotonic() once the inputs were generated

    def passes(self, pass_seconds: int) -> int:
        """Timed passes in a run of ``seconds``, for passes of about
        ``pass_seconds`` each."""
        return max(1, round(self.seconds / pass_seconds))

    def past_deadline(self) -> bool:
        return time.monotonic() - self.started > RUN_DEADLINE_S


@dataclass
class Op:
    name: str
    seconds: float | None = None
    error: str | None = None
    detail: dict = field(default_factory=dict)


@dataclass
class Pass:
    ops: list[Op]  # the attempts: one per query or pipeline run
    latencies: list[float]  # seconds per query, or per trigger
    wall_s: float  # summed over passes
    t0: float  # epoch seconds, for event-log windows
    t1: float
    outputs: dict = field(default_factory=dict)
    progress: list = field(default_factory=list)
    pass_walls: list[float] = field(default_factory=list)


class NoTrace:
    """The tracer interface with every hook switched off."""

    def span(self, name, op=None):
        return _null()

    def job_group(self, op):
        return _null()

    def checkpoints(self):
        return _null()

    def wrap_sink(self, fn, parent):
        return fn

    def jobs_in_group(self, group):
        return 0


class _null:
    def __enter__(self):
        return {"id": None}

    def __exit__(self, *exc):
        return False


def _error(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}"[:300]


def clear_memos(ctx: Context) -> None:
    """bench.py's honest-cold rule: no session stage or persisted
    artifact of this corpus survives into a timed pass."""
    from gmall_flink_spark.sources.tables import clear_session_memos

    clear_session_memos(sf_dir=ctx.data_dir)


def _fingerprint(df, cols=None) -> tuple:
    """(row count, sum of row hashes) of ``df`` over ``cols``: equal for
    two frames that hold the same multiset of rows, whatever their order
    or partitioning. Values hash by their string form, so an int column
    matches a long one, as Python's ``1 == 1`` would."""
    from pyspark.sql import functions as F

    cols = cols or sorted(df.columns)
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")
    return tuple(df.select(F.count(F.lit(1)), F.sum(h)).first())


class BatchWorkload:
    """Registry queries, each built by its query function and materialized
    through the noop sink, with the terminal sort stripped as bench.py
    strips it: the warehouse queries in seeded order, then the corpus
    stage chain in HEADLINE order (each session stage is built by the
    first query that needs it and reused by the ones after). Every output
    is checked against the query's DuckDB oracle."""

    name = "batch_queries"
    #: a pass takes 8-15 s on 4 cores
    pass_seconds = 10

    def __init__(self, ctx: Context):
        from gmall_flink_spark.registry import all_oracle_sql, all_queries

        self.ctx = ctx
        self.fns = all_queries()
        self.oracle = all_oracle_sql()
        #: query -> its warm-up output as a pandas frame, or the error it raised
        self.outputs: dict = {}

    def order(self, pass_no: int) -> list[str]:
        names = warehouse_queries()
        random.Random(self.ctx.seed * 1000 + pass_no).shuffle(names)
        return names + list(CORPUS_QUERIES)

    def build_inputs(self, spark) -> None:
        """Materialize the synthesized CDC and log topics the warehouse
        queries read (the Kafka-at-rest stand-in), as bench.py does before
        timing. The topics persist across runs."""
        from gmall_flink_spark.sources.cdc_synth import (
            activity_envelope,
            cart_dead_letters,
            cart_envelope,
            coupon_envelope,
            detail_envelope,
            orders_dead_letters,
            orders_envelope,
        )
        from gmall_flink_spark.sources.log_synth import page_log_parsed

        for build in (orders_envelope, cart_envelope, detail_envelope,
                      activity_envelope, coupon_envelope, page_log_parsed,
                      orders_dead_letters, cart_dead_letters):
            build(spark, self.ctx.data_dir)

    def seed_inputs(self) -> None:
        pass

    def warm(self, spark) -> None:
        """Every query once on the measured corpus, collected to pandas for
        the output check: the operators of all of them are compiled and
        the Python workers started, so the timed passes do not depend on
        which query the seed puts first. Its session stages are cleared
        before the timed passes, as are all others."""
        for name in self.order(0):
            try:
                with track_terminal_sort():
                    df = unsorted_form(self.fns[name](spark, self.ctx.data_dir))
                self.outputs[name] = df.toPandas()
            except Exception as exc:  # noqa: BLE001 - a failure is a wrong output
                self.outputs[name] = exc

    def run_pass(self, spark, tracer, progress_log, pass_no: int = 0) -> Pass:
        ops = []
        t0, w0 = time.time(), time.perf_counter()
        with tracer.checkpoints(), tracer.span("workload", op=self.name):
            for name in self.order(pass_no):
                op = Op(name)
                ops.append(op)
                if self.ctx.past_deadline():
                    op.error = "skipped: run deadline"
                    continue
                group = f"{self.name}:{pass_no}:{name}"
                try:
                    with tracer.job_group(group), tracer.span("query", op=group):
                        s0 = time.perf_counter()
                        with tracer.span("query.build"), track_terminal_sort():
                            df = unsorted_form(self.fns[name](spark, self.ctx.data_dir))
                        s1 = time.perf_counter()
                        build_jobs = tracer.jobs_in_group(group)
                        with tracer.span("query.exec"):
                            df.write.format("noop").mode("overwrite").save()
                        s2 = time.perf_counter()
                    op.seconds = s2 - s0
                    op.detail = {"group": group, "build_s": s1 - s0, "exec_s": s2 - s1,
                                 "build_jobs": build_jobs,
                                 "exec_jobs": tracer.jobs_in_group(group) - build_jobs}
                except Exception as exc:  # noqa: BLE001 - one query fails, the run goes on
                    op.error = _error(exc)
        latencies = [op.seconds for op in ops if not op.error]
        return Pass(ops, latencies, time.perf_counter() - w0, t0, time.time())

    def _oracle_rows(self, name: str) -> dict:
        """The oracle's normalized answer, cached per (SQL, corpus): it
        does not depend on the code under test."""
        from oracle_harness import _norm_pdf, run_oracle

        sql = self.oracle[name]
        corpus = os.path.relpath(self.ctx.data_dir, self.ctx.work)
        key = hashlib.sha256(f"{sql}\0{corpus}".encode()).hexdigest()
        path = os.path.join(self.ctx.work, "oracle", f"{name}-{key[:16]}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        pdf = run_oracle(sql, self.ctx.data_dir)
        ans = {"columns": sorted(pdf.columns), "rows": [list(r) for r in _norm_pdf(pdf)]}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(ans, fh)
        os.replace(tmp, path)
        return ans

    def check(self, spark, result: Pass) -> dict[str, str]:
        """Each timed query's warm-up output against its oracle: the same
        query function on the same corpus, without the terminal sort,
        which the row-order-free comparison does not need."""
        from oracle_harness import _norm_pdf

        wrong = {}
        for op in result.ops:
            if op.error or op.name in wrong:
                continue
            got = self.outputs[op.name]
            try:
                if isinstance(got, Exception):
                    raise got
                want = self._oracle_rows(op.name)
                if sorted(got.columns) != want["columns"]:
                    wrong[op.name] = f"columns {sorted(got.columns)} != {want['columns']}"
                elif [list(r) for r in _norm_pdf(got)] != want["rows"]:
                    wrong[op.name] = f"values differ from the oracle ({len(got)} rows)"
            except Exception as exc:  # noqa: BLE001
                wrong[op.name] = f"check: {_error(exc)}"
        return wrong


def warehouse_queries() -> list[str]:
    from importlib import import_module

    names = []
    for mod in WAREHOUSE_MODULES:
        names += import_module(f"gmall_flink_spark.queries.{mod}").QUERIES
    return sorted(names)[::WAREHOUSE_STRIDE]


# -- streaming ------------------------------------------------------------

#: slices (= triggers) per pipeline in one pass; a keyed-state trigger
#: costs about three upsert triggers
UPSERT_SLICES, FIRST_DAY_SLICES = 3, 1


def _slice_table(tbl: pa.Table, order_col: str, n: int, out_dir: str,
                 rng: random.Random) -> str:
    """Write ``tbl`` as ``n`` parquet files in ``order_col`` order with
    strictly increasing mtimes, so the file stream source replays them as
    ``n`` ordered micro-batches (streaming.core.split_into_files, without
    a Spark job per slice). Cut points sit at seeded positions within
    +/-30% of an even split."""
    tbl = tbl.sort_by(order_col)
    rows, step = tbl.num_rows, tbl.num_rows / n
    cuts = [0] + [round(i * step + rng.uniform(-0.3, 0.3) * step) for i in range(1, n)] + [rows]
    os.makedirs(out_dir)
    base = int(time.time()) - 10 * n
    for i in range(n):
        path = os.path.join(out_dir, f"slice-{i:04d}.parquet")
        pq.write_table(tbl.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        os.utime(path, (base + i, base + i))
    return out_dir


class StreamIngestWorkload:
    """Two availableNow pipelines over seeded slices of the events
    changelog, one slice per trigger: the K3 keep-last upsert (a MERGE
    sink behind foreachBatch), and the D4 first-event-per-user-day
    keyed-state operator into the memory sink."""

    name = "stream_ingest"
    #: a pass takes 15-25 s on 4 cores
    pass_seconds = 20

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.slices = os.path.join(ctx.run_dir, "slices")

    # inputs ---------------------------------------------------------------
    def build_inputs(self, spark) -> None:
        pass

    def seed_inputs(self) -> None:
        """This seed's slices of the events changelog, one set per pass,
        and a small one-slice set for warm-up."""
        rng = random.Random(self.ctx.seed)
        events = pq.read_table(os.path.join(self.ctx.data_dir, "events.parquet"))
        # naive parquet timestamps read as TIMESTAMP_NTZ; the batch twin
        # (sources.tables.table) normalizes to TIMESTAMP in the UTC session
        events = events.set_column(
            events.schema.get_field_index("ts"), "ts",
            events["ts"].cast(pa.timestamp("us", tz="UTC")))
        for p in range(self.ctx.passes(self.pass_seconds)):
            _slice_table(events, "ts", UPSERT_SLICES, self._dir("upsert", p), rng)
            _slice_table(events, "ts", FIRST_DAY_SLICES, self._dir("first_day", p), rng)
        for name in ("upsert", "first_day"):
            _slice_table(events.slice(0, 200), "ts", 1, self._dir(name, "warm"), rng)

    def _dir(self, pipeline: str, pass_no) -> str:
        return os.path.join(self.slices, f"{pipeline}-{pass_no}")

    # pipelines --------------------------------------------------------------
    def _stream(self, spark, path: str):
        schema = spark.read.parquet(path).schema
        return (spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
                .parquet(path))

    def _pipelines(self, spark, pass_no, out: str, tracer, parent):
        """(name, zero-argument runner, sink directory or None) per pipeline."""
        from gmall_flink_spark.sinks.upsert import upsert_writer
        from gmall_flink_spark.streaming.core import run_available_now
        from gmall_flink_spark.streaming.stateful import first_per_day_stream

        state = os.path.join(out, "upsert_state")
        ev_src = self._stream(spark, self._dir("upsert", pass_no))
        fd_src = self._stream(spark, self._dir("first_day", pass_no))
        return [
            ("upsert", lambda: run_available_now(
                ev_src, foreach_batch=tracer.wrap_sink(
                    upsert_writer(state, ["user_id"], ["ts", "event_id"]), parent),
                timeout_s=STREAM_TIMEOUT_S), state),
            ("first_per_day", lambda: run_available_now(
                first_per_day_stream(fd_src, "user_id"), timeout_s=STREAM_TIMEOUT_S), None),
        ]

    def warm(self, spark) -> None:
        """Each pipeline once on a one-slice backlog, which also warms
        codegen and the Python workers: the first trigger of a pipeline in
        a session reads about 2x the rest."""
        out = os.path.join(self.ctx.run_dir, f"warm-{time.monotonic_ns()}")
        for _, run, _ in self._pipelines(spark, "warm", out, NoTrace(), None):
            run()
        shutil.rmtree(out, ignore_errors=True)

    def run_pass(self, spark, tracer, progress_log, pass_no: int = 0) -> Pass:
        out = os.path.join(self.ctx.run_dir, f"pass-{time.monotonic_ns()}")
        ops, latencies, outputs, progress = [], [], {}, []
        t0, wall = time.time(), 0.0
        with tracer.span("workload", op=self.name) as root:
            for name, run, sink in self._pipelines(spark, pass_no, out, tracer, root["id"]):
                op = Op(name)
                ops.append(op)
                if self.ctx.past_deadline():
                    op.error = "skipped: run deadline"
                    continue
                seen = set(progress_log.terminated)
                group = f"{self.name}:{pass_no}:{name}"
                with tracer.job_group(group), tracer.span("pipeline", op=group) as span:
                    s0 = time.perf_counter()
                    try:
                        result = run()
                        outputs[name] = sink if sink else result
                    except Exception as exc:  # noqa: BLE001 - a timeout or failure is one failed op
                        op.error = _error(exc)
                    op.seconds = time.perf_counter() - s0
                wall += op.seconds
                try:
                    prog = progress_log.wait_new(seen)
                except TimeoutError as exc:
                    prog, op.error = [], op.error or _error(exc)
                progress += prog
                if op.error:
                    continue
                for p in prog:
                    took = p.durationMs["triggerExecution"] / 1000.0
                    latencies.append(took)
                    if span["id"] is not None:
                        start = _epoch(p.timestamp)
                        tracer.add_span("trigger", start, start + took, span["id"])
        return Pass(ops, latencies, wall, t0, time.time(), outputs, progress)

    # checks -----------------------------------------------------------------
    def check(self, spark, result: Pass) -> dict[str, str]:
        from gmall_flink_spark.operators.dedup import first_per_day, keep_last
        from gmall_flink_spark.sinks.upsert import read_state
        from gmall_flink_spark.sources.tables import table

        wrong = {}
        failed = {op.name for op in result.ops if op.error}
        events = table(spark, self.ctx.data_dir, "events")
        checks = {
            "upsert": lambda: _fingerprint(read_state(spark, result.outputs["upsert"]))
            == _fingerprint(keep_last(events, ["user_id"], ["ts", "event_id"])),
            "first_per_day": lambda: _fingerprint(
                result.outputs["first_per_day"], ["user_id", "cur_date"])
            == _fingerprint(first_per_day(events, "user_id"), ["user_id", "cur_date"]),
        }
        for name, ok in checks.items():
            if name in failed:
                continue
            try:
                if not ok():
                    wrong[name] = "output differs from the batch twin"
            except Exception as exc:  # noqa: BLE001
                wrong[name] = f"check: {_error(exc)}"
        return wrong


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


WORKLOADS = {"batch_queries": BatchWorkload, "stream_ingest": StreamIngestWorkload}


def make(name: str, ctx: Context):
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}; one of {sorted(WORKLOADS)}")
    return WORKLOADS[name](ctx)
