"""Pipeline benchmark for broadway_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run drives one workload through the
public API (``plans.Pipeline`` with ``sources.FileStreamSource`` or
``sources.SpoolSource``) on ``local[<=4]``, checks every output, prints
each metric as ``name = value unit`` and, as the last line of standard
output, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

Workloads (both run the same topology, see ``pipeline.py``):

``backlog_router``
    60k seeded events pre-staged as three parquet files and drained with
    ``availableNow``, one file per trigger, again and again until
    ``--seconds`` have passed. Large micro-batches: the router's data
    work (chunking shuffle, Arrow hook, parquet sinks) is what it times.
``paced_spool``
    Open loop for ``--seconds``: a separate generator process publishes
    one JSON-lines spool file every 250 ms at 500 events/s, stamping each
    event with the time it was due; the pipeline reads it through
    ``SpoolSource`` (admission cap 20k/trigger, far above the rate) with
    a ``processingTime="0 seconds"`` trigger. Small micro-batches: the
    fixed per-trigger cost is what it times. The run is void if the
    generator falls more than one tick behind its schedule.

End-to-end metrics (``--trace 0``):

``rows_per_s``      events / wall time until the last ack is committed,
                    from ``start()`` (backlog, summed over drains) or from
                    the first due time (paced: the delivered rate, below
                    the offered 500/s by the time the last events wait)
``latency_p50_ms``  per event, from the time it was due (backlog: the
``latency_p90_ms``  ``start()`` call; paced: its generator schedule) to the
                    commit of the micro-batch that acked it, where commit
                    time is progress ``timestamp`` +
                    ``durationMs.triggerExecution`` joined through the ack
                    log's ``batch_id``
``setup_s``         session start + the median of ``SETUP_REPS`` set-ups,
                    each of which generates the inputs and drains a
                    warm-up file through a fresh pipeline (the first one
                    pays codegen and Python worker start)
``peak_rss_mb``     peak RSS of the process tree: this process, the driver
                    JVM, Python workers and the generator

``failed_ratio`` (failed / attempted events) is printed too; it is the
``failed`` and ``attempted`` of the result line.

``--trace 1`` runs the workload once untraced and once traced in one
session with Spark's event log on (uncompressed, parsed with the stdlib),
and prints the per-layer metrics of ``LAYER_METRICS`` instead, including
the tracing overhead (traced minus untraced) of each timed end-to-end
metric. Each backlog phase is one drain; each paced phase is a window of
half of ``--seconds``. The backlog_router traced run also drains one backlog file on
``local[1]`` (``x1.rows_per_s``); the paced_spool one also drains a small
keyed spool through ``Pipeline.start_stateful`` (``state.*``). A metric a
workload cannot measure reads 0 and its reason is recorded. Host noise is
recorded as ``host.calib_s``: ``bench._calibration_sample`` run before
and after the measured phases, evidence only. Spans, notes and the
absence reasons go to ``.perfbench_out/trace-<workload>-seed<n>.json``.

Every temporary file lives under one ``.perfbench_tmp/run-*`` directory
of the checkout, removed on exit, on failure too.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (ROOT, HERE):  # the program under test, the benchmark's modules
    if _p not in sys.path:
        sys.path.insert(0, _p)

import broadway_spark.plans.topology as topo  # noqa: E402
import pyarrow.dataset as ds  # noqa: E402
from broadway_spark.config import BatcherConfig  # noqa: E402
from broadway_spark.plans import Pipeline  # noqa: E402
from broadway_spark.session import builder  # noqa: E402
from broadway_spark.sources import FileStreamSource, SpoolSource  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import check as C  # noqa: E402
import gen  # noqa: E402
import measure as M  # noqa: E402
import pipeline as P  # noqa: E402

TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

CPUS = min(4, len(os.sched_getaffinity(0)))
# one shuffle task per core: with more, every stage of a small paced
# micro-batch runs in several waves and the JVM's task threads, the Python
# workers and the JIT crowd the cores, which makes trigger times jittery
SHUFFLE_PARTITIONS = CPUS
# The driver heap is fixed and pre-touched, so peak memory does not depend
# on when the JVM happens to grow its heap; it moves with everything else
# (Python workers, off-heap buffers, metaspace, the driver process).
HEAP_MB = 2048
RUN_DEADLINE_S = 170  # the whole run, set-up and checks included
SETUP_REPS = 2

BACKLOG_EVENTS = 60_000
BACKLOG_FILES = 3
BACKLOG_USERS = 100_000
# warm-up inputs: one micro-batch the size the measured triggers carry,
# so the JIT has compiled the hot paths before timing starts
WARM_EVENTS = {"file": BACKLOG_EVENTS // BACKLOG_FILES, "spool": 2_000}

PACED_RATE = 500  # events/s
PACED_TICK_MS = 250
PACED_LEAD_MS = 1500  # first due time after the query has started
PACED_ADMIT_CAP = 20_000

STATE_EVENTS = 1_000
STATE_KEYS = 250
STATE_ADMIT = 1_000
STATE_BATCH = 64
STATE_TIMEOUT_MS = 1_000

E2E_UNITS = {
    "rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit, in the order they are reported
LAYER_METRICS = {
    "source.latest_offset_ms": "ms",
    "source.backlog_rows_max": "rows",
    "source.rows_per_trigger": "rows",
    "plan.start_ms": "ms",
    "plan.first_batch_ms": "ms",
    "plan.query_planning_ms": "ms",
    "ckpt.wal_commit_ms": "ms",
    "ckpt.commit_offsets_ms": "ms",
    "router.add_batch_ms": "ms",
    "router.fn_ms": "ms",
    "router.jobs_per_trigger": "count",
    "router.tasks_per_trigger": "count",
    "router.shuffle_bytes_per_row": "B/row",
    "batch.hook_calls": "count",
    "batch.hook_rows_per_call": "rows",
    "batch.hook_ms": "ms",
    "batch.python_boot_ms": "ms",
    "batch.python_init_ms": "ms",
    "batch.python_run_ms": "ms",
    "batch.python_bytes_sent": "B",
    "batch.fill_ratio": "ratio",
    "sink.files_written": "count",
    "sink.bytes_written": "B",
    "state.rows_per_s": "rows/s",
    "state.rows_total_max": "rows",
    "state.memory_bytes_max": "B",
    "state.commit_ms": "ms",
    "state.updates_ms": "ms",
    "state.checkpoint_bytes": "B",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.deserialize_ms": "ms",
    "gen.late_ms_max": "ms",
    "host.calib_s": "s",
    "x1.rows_per_s": "rows/s",
    "trace.overhead.rows_per_s": "rows/s",
    "trace.overhead.latency_p50_ms": "ms",
    "trace.overhead.latency_p90_ms": "ms",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(root: str) -> None:
    """Point every temporary path of this process and its children (the
    JVM, Python workers, the generator) under ``root``; make the program
    and the benchmark's modules importable by Python workers."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEMORY"] = f"{HEAP_MB}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


class Run:
    """State of one benchmark run: the session, the temp root, the tracer."""

    def __init__(self, args: argparse.Namespace, root: str) -> None:
        self.args = args
        self.root = root
        self.seed = args.seed
        self.tracer = M.Tracer()
        self.spark = None
        self.deadline = time.time() + RUN_DEADLINE_S
        self.absent: dict[str, str] = {}
        self.notes: dict = {}
        self._n = 0

    def path(self, label: str) -> str:
        self._n += 1
        return os.path.join(self.root, f"{label}-{self._n}")

    def remaining(self) -> float:
        left = self.deadline - time.time()
        if left <= 0:
            raise TimeoutError("run deadline passed")
        return left

    def start_session(self, cpus: int = CPUS, event_log: bool = False) -> float:
        b = (
            builder("perfbench", cpus=cpus)
            .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
            .config("spark.sql.warehouse.dir", os.path.join(self.root, "warehouse"))
            .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
            .config("spark.driver.extraJavaOptions", f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch")
        )
        if event_log:
            log_dir = os.path.join(self.root, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", log_dir)
                .config("spark.eventLog.compress", "false")
            )
        t0 = time.time()
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and end the driver JVM (and with it every
        Python worker), waiting until it has exited."""
        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------- router runs


def file_source(path: str, glob: str | None = None):
    return FileStreamSource(
        name="events",
        path=path,
        schema_ddl=gen.EVENTS_DDL,
        max_files_per_trigger=1,
        options={"pathGlobFilter": glob} if glob else None,
    )


def spool_source(path: str, admit: int):
    return SpoolSource(
        name="events",
        path=path,
        schema_ddl=gen.EVENTS_DDL,
        ack_data_column="event_id",
        allowed_per_trigger=admit,
    )


def drain(run: Run, source, rows: int, hook, label: str, paced: bool = False):
    """One drain of ``source`` through a fresh pipeline: ``availableNow``,
    or with ``paced`` the paced window's ``processingTime="0 seconds"``
    trigger, stopped once ``rows`` rows are committed."""
    base = run.path(label)
    pipe = Pipeline(P.router_config(f"{label}-{run._n}", base, hook), source)
    t0 = time.time()
    if paced:
        q = pipe.start(run.spark, trigger="processingTime", processing_time="0 seconds")
    else:
        q = pipe.start(run.spark)
    t1 = time.time()
    run.tracer.add("Pipeline.start", t0, t1, run.tracer.current, label=label)
    if paced:
        try:
            P.wait_for_rows(q, rows, time.time() + run.remaining())
        finally:
            progress = P.progress_list(q)
            q.stop()
    else:
        if not q.awaitTermination(run.remaining()):
            q.stop()
            raise TimeoutError(f"{label} drain did not finish")
        if q.exception() is not None:
            raise RuntimeError(f"{label} drain failed: {q.exception()}")
        progress = P.progress_list(q)
    t2 = time.time()
    return P.Drain(base, rows, t0, t1 - t0, t2 - t0, progress)


def warm_source(run: Run, kind: str, i: int, rows: int | None = None):
    warm = gen.make_events(run.seed + 7919 * (i + 1), rows or WARM_EVENTS[kind])
    d = run.path("warm-in")
    if kind == "file":
        gen.stage_parquet(warm, d, 1)
        return file_source(d)
    gen.stage_spool(warm, d, 1)
    return spool_source(d, PACED_ADMIT_CAP)


def setup(run: Run, kind: str, make_inputs) -> tuple[float, object]:
    """SETUP_REPS times: generate the measured inputs and drain one
    warm-up file through a fresh pipeline under the trigger the measured
    phase uses, so the warm-up runs the timed triggers' code path.
    Returns the median rep time and the last rep's inputs."""
    reps, inputs = [], None
    for i in range(SETUP_REPS):
        with run.tracer.span("setup_rep", rep=i):
            t0 = time.time()
            inputs = make_inputs()
            drain(
                run, warm_source(run, kind, i), WARM_EVENTS[kind], P.handle_batch,
                "warm", paced=kind == "spool",
            )
            reps.append(time.time() - t0)
    run.notes["setup_rep_s"] = reps
    return statistics.median(reps), inputs


def event_frame(table):
    return table.select(["event_id", "event_type", "props"]).to_pandas()


def backlog_inputs(run: Run):
    table = gen.make_events(run.seed, BACKLOG_EVENTS, users=BACKLOG_USERS)
    d = run.path("backlog-in")
    gen.stage_parquet(table, d, BACKLOG_FILES)
    return d, event_frame(table)


def measure_backlog(run: Run, inputs, seconds: float, hook, label: str):
    """Drain the staged backlog again and again until ``seconds`` pass
    (at least once)."""
    src_dir, _ = inputs
    drains = []
    t_end = time.time() + seconds
    while True:
        with run.tracer.span("drain", label=label):
            drains.append(drain(run, file_source(src_dir), BACKLOG_EVENTS, hook, label))
        if time.time() >= t_end:
            break
    return drains


def backlog_metrics(drains, outputs) -> dict:
    lat = []  # every event was due when start() was called
    for d, out in zip(drains, outputs):
        lat += (out.ack["batch_id"].map(P.commit_ms(d.progress)) - d.t_start * 1000).tolist()
    return {
        "rows_per_s": sum(d.rows for d in drains) / sum(d.end_s for d in drains),
        "latency_p50_ms": M.percentile(lat, 50),
        "latency_p90_ms": M.percentile(lat, 90),
    }


class Paced:
    """One open-loop window: query + generator process + results."""

    def __init__(self, run: Run, seconds: float, hook, label: str) -> None:
        self.run = run
        self.ticks = max(1, int(round(seconds * 1000 / PACED_TICK_MS)))
        self.per_tick = PACED_RATE * PACED_TICK_MS // 1000
        self.sent = self.ticks * self.per_tick
        self.hook = hook
        self.label = label

    def events(self):
        return gen.make_events(self.run.seed, self.sent, users=BACKLOG_USERS)

    def go(self):
        run = self.run
        base = run.path(self.label)
        spool = os.path.join(base, "spool")
        os.makedirs(spool)
        pipe = Pipeline(
            P.router_config(f"{self.label}-{run._n}", base, self.hook),
            spool_source(spool, PACED_ADMIT_CAP),
        )
        t_start = time.time()
        q = pipe.start(run.spark, trigger="processingTime", processing_time="0 seconds")
        start_s = time.time() - t_start
        run.tracer.add("Pipeline.start", t_start, t_start + start_s, run.tracer.current)
        self.t0_ms = int(time.time() * 1000) + PACED_LEAD_MS
        report = os.path.join(base, "generator.json")
        cmd = [
            sys.executable, os.path.join(HERE, "gen.py"), "paced",
            "--seed", str(run.seed), "--dir", spool,
            "--rate", str(PACED_RATE), "--tick-ms", str(PACED_TICK_MS),
            "--ticks", str(self.ticks), "--t0-ms", str(self.t0_ms),
            "--users", str(BACKLOG_USERS), "--report", report,
        ]
        proc = subprocess.Popen(cmd)
        try:
            proc.wait(timeout=run.remaining())
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"generator exited with {proc.returncode}")
        with open(report) as fh:
            gen_report = json.load(fh)
        try:
            P.wait_for_rows(q, self.sent, time.time() + run.remaining())
        finally:
            progress = P.progress_list(q)
            q.stop()
        self.late_ms_max = gen_report["late_ms_max"]
        if self.late_ms_max > PACED_TICK_MS:
            raise RuntimeError(
                f"open loop invalid: generator ran {self.late_ms_max:.0f} ms late "
                f"(more than one {PACED_TICK_MS} ms tick)"
            )
        self.drain = P.Drain(base, self.sent, t_start, start_s, 0.0, progress)
        return self.drain

    def metrics(self, ack) -> dict:
        commits = P.commit_ms(self.drain.progress)
        due = self.t0_ms + (ack["event_id"] // self.per_tick) * PACED_TICK_MS
        lat = ack["batch_id"].map(commits) - due
        last = max(commits.values())
        return {
            "rows_per_s": self.sent / ((last - self.t0_ms) / 1000.0),
            "latency_p50_ms": M.percentile(lat, 50),
            "latency_p90_ms": M.percentile(lat, 90),
        }


# ---------------------------------------------------------------- workloads


def check_drain(d, events):
    out = C.load_outputs(P.out_dirs(d.base))
    return out, C.check(events, out, P.BATCH_SIZES)


def run_backlog(run: Run, seconds: float, hook, label: str, inputs):
    drains = measure_backlog(run, inputs, seconds, hook, label)
    outs, result = [], None
    for d in drains:
        out, r = check_drain(d, inputs[1])
        outs.append(out)
        result = r if result is None else result.merge(r)
    return backlog_metrics(drains, outs), drains, outs, result


def run_paced(run: Run, seconds: float, hook, label: str):
    p = Paced(run, seconds, hook, label)
    with run.tracer.span("window", label=label):
        d = p.go()
    out, result = check_drain(d, event_frame(p.events()))
    return p.metrics(out.ack), p, out, result


def workload_backlog(run: Run, trace: bool):
    session_s = run.start_session(event_log=trace)
    with run.tracer.span("setup"):
        rep_s, inputs = setup(run, "file", lambda: backlog_inputs(run))
    e2e = {"setup_s": session_s + rep_s}
    calib = [_calib_sample(run)] if trace else None
    if not trace:
        with run.tracer.span("measure"):
            m, _, _, result = run_backlog(run, run.args.seconds, P.handle_batch, "backlog", inputs)
        return {**e2e, **m}, result, None
    untraced, _, _, r0 = run_backlog(run, 0, P.handle_batch, "untraced", inputs)
    layers, traced, r1, _ = traced_phase(
        run, lambda hook: run_backlog(run, 0, hook, "traced", inputs), BACKLOG_EVENTS
    )
    calib.append(_calib_sample(run))
    layers["gen.late_ms_max"] = 0.0
    run.absent["gen.late_ms_max"] = "backlog input is pre-staged: no send schedule, no lateness"
    state_absent(run, layers, "measured by the paced_spool traced run only")
    layers.update(finish_trace(run, calib))
    layers["x1.rows_per_s"] = single_core(run, inputs)
    overhead(layers, traced, untraced)
    return layers, r0.merge(r1), traced


def workload_paced(run: Run, trace: bool):
    session_s = run.start_session(event_log=trace)
    with run.tracer.span("setup"):
        rep_s, _ = setup(
            run, "spool", lambda: Paced(run, run.args.seconds, None, "x").events()
        )
    e2e = {"setup_s": session_s + rep_s}
    calib = [_calib_sample(run)] if trace else None
    if not trace:
        with run.tracer.span("measure"):
            m, _, _, result = run_paced(run, run.args.seconds, P.handle_batch, "paced")
        return {**e2e, **m}, result, None
    # the untraced and traced windows are half as long as an untraced
    # run's, so a traced run stays well inside the run deadline
    half = run.args.seconds / 2
    untraced, _, _, r0 = run_paced(run, half, P.handle_batch, "untraced")
    layers, traced, r1, paced = traced_phase(
        run, lambda hook: run_paced(run, half, hook, "traced"), None
    )
    layers["gen.late_ms_max"] = paced.late_ms_max
    r2 = state_probe(run, layers)
    calib.append(_calib_sample(run))
    layers.update(finish_trace(run, calib))
    layers["x1.rows_per_s"] = 0.0
    run.absent["x1.rows_per_s"] = "single-core baseline is drained by the backlog_router traced run"
    overhead(layers, traced, untraced)
    return layers, r0.merge(r1).merge(r2), traced


WORKLOADS = {"backlog_router": workload_backlog, "paced_spool": workload_paced}


# ---------------------------------------------------------------- tracing


def _calib_sample(run: Run) -> float:
    import bench

    with run.tracer.span("calibration"):
        return bench._calibration_sample(run.spark)


def traced_phase(run: Run, body, backlog_rows):
    """Run ``body(hook)`` with the trigger listener, the wrapped
    ``build_router`` and the counting ``handle_batch`` installed, and turn
    what they saw into per-layer metrics (event-log ones come later, in
    ``finish_trace``). ``body`` returns (metrics, drains or Paced, outputs,
    check result); so does this, with the per-layer metrics in front."""
    sc = run.spark.sparkContext
    calls, rows, ms = sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0)
    hook_spans = sc.accumulator([], M.ListParam())
    tracer = run.tracer
    with tracer.span("traced") as phase:
        listener = M.TriggerListener(tracer, phase["id"])
        run.spark.streams.addListener(listener)
        orig = topo.build_router

        def build_router(config):
            fn = orig(config)

            def router(batch_df, batch_id):
                t0 = time.time()
                try:
                    fn(batch_df, batch_id)
                finally:
                    tracer.add("router", t0, time.time(), phase["id"], batch_id=batch_id)

            return router

        topo.build_router = build_router
        try:
            metrics, drains_or_paced, out, result = body(
                P.counted_hook(calls, rows, ms, hook_spans)
            )
        finally:
            topo.build_router = orig
        # the last progress event is delivered to listeners asynchronously
        time.sleep(1.0)
        run.spark.streams.removeListener(listener)

    drains = drains_or_paced if isinstance(drains_or_paced, list) else [drains_or_paced.drain]
    outs = out if isinstance(out, list) else [out]
    routers = [s for s in tracer.spans if s["name"] == "router" and s["parent"] == phase["id"]]
    for name, t0, t1, batcher, n in hook_spans.value:
        # a hook call belongs to the micro-batch whose router call it ran in
        owner = next((r for r in routers if r["start"] <= t0 <= r["end"]), None)
        tracer.add(
            name, t0, t1, owner and owner["id"], batcher=batcher, rows=n,
            batch_id=owner and owner["batch_id"],
        )
    progress = [p for d in drains for p in d.progress if p.get("numInputRows", 0) > 0]
    dur = lambda k: M.p50(p["durationMs"].get(k, 0) for p in progress)  # noqa: E731
    total_rows = sum(d.rows for d in drains)
    L = {
        "source.latest_offset_ms": dur("latestOffset"),
        "source.rows_per_trigger": M.p50(p["numInputRows"] for p in progress),
        "source.backlog_rows_max": backlog_max(drains, backlog_rows, drains_or_paced),
        "plan.start_ms": M.p50(d.start_s * 1000 for d in drains),
        "plan.first_batch_ms": M.p50(
            min(P.commit_ms(d.progress).values()) - d.t_start * 1000 for d in drains
        ),
        "plan.query_planning_ms": dur("queryPlanning"),
        "ckpt.wal_commit_ms": dur("walCommit"),
        "ckpt.commit_offsets_ms": dur("commitOffsets"),
        "router.add_batch_ms": dur("addBatch"),
        "router.fn_ms": M.p50((r["end"] - r["start"]) * 1000 for r in routers),
        "batch.hook_calls": float(calls.value),
        "batch.hook_rows_per_call": rows.value / max(calls.value, 1),
        "batch.hook_ms": ms.value,
        "batch.fill_ratio": fill_ratio(outs),
    }
    files = size = 0
    for d in drains:
        for s in P.SINKS:
            f, b = M.tree_bytes(os.path.join(d.base, s))
            files, size = files + f, size + b
    L["sink.files_written"], L["sink.bytes_written"] = float(files), float(size)
    run.notes["traced_window_ms"] = (phase["start"] * 1000, phase["end"] * 1000)
    run.notes["traced_rows"] = total_rows
    run.notes["trigger_windows_ms"] = [
        (P.epoch_ms(p["timestamp"]), P.epoch_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"])
        for p in progress
    ]
    return L, metrics, result, drains_or_paced


def backlog_max(drains, backlog_rows, paced) -> float:
    """Largest (generated - admitted) seen at a trigger's start."""
    worst = 0
    for d in drains:
        admitted = 0
        for p in sorted(d.progress, key=lambda p: p["batchId"]):
            if backlog_rows is not None:
                generated = backlog_rows
            else:
                due = (P.epoch_ms(p["timestamp"]) - paced.t0_ms) // PACED_TICK_MS + 1
                generated = min(max(due, 0), paced.ticks) * paced.per_tick
            worst = max(worst, generated - admitted)
            admitted += p.get("numInputRows", 0)
    return float(worst)


def fill_ratio(outs) -> float:
    """Mean over chunks of chunk rows / batch_size, from the ack log."""
    num = den = 0.0
    for out in outs:
        ok = out.ack[out.ack["outcome"] == "ok"]
        num += (1.0 / ok["batcher"].map(P.BATCH_SIZES)).sum()
        den += (1.0 / ok["batch_size"]).sum()
    return num / den if den else 0.0


def state_probe(run: Run, layers: dict):
    """Drain a small keyed spool with ``Pipeline.start_stateful`` (default
    impl): the state-store layer neither router workload touches."""
    table = gen.make_events(run.seed + 1, STATE_EVENTS, users=STATE_KEYS)
    base = run.path("state")
    gen.stage_spool(table, os.path.join(base, "spool"), STATE_EVENTS // 1000)
    cfg = P.router_config(f"state-{run._n}", base, None)
    cfg.batch_key_by = F.col("user_id")
    cfg.batchers = {
        n: BatcherConfig(batch_size=STATE_BATCH, batch_timeout_ms=STATE_TIMEOUT_MS)
        for n in P.BATCH_SIZES
    }
    pipe = Pipeline(cfg, spool_source(os.path.join(base, "spool"), STATE_ADMIT))
    ack_dir = P.out_dirs(base)["ack"]
    with run.tracer.span("state_probe"):
        t0 = time.time()
        q = pipe.start_stateful(run.spark, processing_time="0 seconds")
        try:
            while True:
                if q.exception() is not None:
                    raise RuntimeError(f"stateful query failed: {q.exception()}")
                try:
                    got = ds.dataset(ack_dir, format="parquet").count_rows()
                except (FileNotFoundError, OSError, ValueError):
                    got = 0
                if got >= STATE_EVENTS:
                    break
                if time.time() > run.deadline:
                    raise TimeoutError("stateful probe did not ack every event")
                time.sleep(0.2)
            dt = time.time() - t0
        finally:
            progress = P.progress_list(q)
            q.stop()
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    layers.update(
        {
            "state.rows_per_s": STATE_EVENTS / dt,
            "state.rows_total_max": float(max((o["numRowsTotal"] for o in ops), default=0)),
            "state.memory_bytes_max": float(max((o["memoryUsedBytes"] for o in ops), default=0)),
            "state.commit_ms": M.p50(o["commitTimeMs"] for o in ops),
            "state.updates_ms": M.p50(o["allUpdatesTimeMs"] for o in ops),
            "state.checkpoint_bytes": float(
                M.tree_bytes(os.path.join(P.out_dirs(base)["ckpt"], "state"))[1]
            ),
        }
    )
    sizes = {n: STATE_BATCH for n in P.BATCH_SIZES}
    return C.check(event_frame(table), C.load_outputs(P.out_dirs(base)), sizes)


def state_absent(run: Run, layers: dict, why: str) -> None:
    for k in LAYER_METRICS:
        if k.startswith("state."):
            layers[k] = 0.0
            run.absent[k] = why


def finish_trace(run: Run, calib: list[float]) -> dict:
    """Stop the session (this flushes the event log) and read the
    task-level layers of the traced window from it."""
    run.stop_session()
    events = M.read_event_log(os.path.join(run.root, "eventlog"))
    a, b = run.notes["traced_window_ms"]
    tot = M.task_totals(events, a, b)
    jt = M.jobs_per_window(events, run.notes["trigger_windows_ms"])
    rows = run.notes["traced_rows"]
    run.notes["calibration_s"] = calib
    return {
        "router.jobs_per_trigger": M.p50(j for j, _ in jt),
        "router.tasks_per_trigger": M.p50(t for _, t in jt),
        "router.shuffle_bytes_per_row": tot["shuffle_bytes"] / rows,
        "batch.python_boot_ms": tot["python_boot_ms"],
        "batch.python_init_ms": tot["python_init_ms"],
        "batch.python_run_ms": tot["python_run_ms"],
        "batch.python_bytes_sent": tot["python_bytes_sent"],
        "exec.cpu_ms": tot["cpu_ms"],
        "exec.gc_ms": tot["gc_ms"],
        "exec.deserialize_ms": tot["deserialize_ms"],
        "host.calib_s": statistics.median(calib),
    }


def single_core(run: Run, inputs) -> float:
    """``local[1]`` drain of the backlog's first file (one trigger, to keep
    the traced run short), after a small warm-up drain that starts the new
    context's Python workers (the JVM is already warm)."""
    run.start_session(cpus=1)
    with run.tracer.span("x1"):
        drain(run, warm_source(run, "file", 0, 500), 500, P.handle_batch, "x1-warm")
        first = file_source(inputs[0], "part-00000.parquet")
        d = drain(run, first, BACKLOG_EVENTS // BACKLOG_FILES, P.handle_batch, "x1")
    run.stop_session()
    return d.rows / d.end_s


def overhead(layers: dict, traced: dict, untraced: dict) -> None:
    for k in ("rows_per_s", "latency_p50_ms", "latency_p90_ms"):
        layers[f"trace.overhead.{k}"] = traced[k] - untraced[k]


# ---------------------------------------------------------------- main


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    os.makedirs(TMP_PARENT, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=TMP_PARENT)
    run = None
    try:
        isolate(root)
        run = Run(args, root)
        with M.MemorySampler() as mem, run.tracer.span("run", seed=args.seed):
            with run.tracer.span("workload", workload=args.workload):
                metrics, result, traced_e2e = WORKLOADS[args.workload](run, bool(args.trace))
        if args.trace:
            units = LAYER_METRICS
            write_trace(run, metrics, traced_e2e)
        else:
            metrics["peak_rss_mb"] = mem.peak / 2**20
            units = E2E_UNITS
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    finally:
        if run is not None:
            run.shutdown()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(TMP_PARENT)
        except OSError:
            pass
    phases = [s for s in run.tracer.spans if s["parent"] == 1 or s["name"] == "drain"]
    print(
        "phases: "
        + ", ".join(f"{s['name']} {s['end'] - s['start']:.1f}s" for s in phases),
        file=sys.stderr,
    )
    ratio = result.failed / result.attempted
    for k, unit in units.items():
        print(f"{args.workload} {k} = {metrics[k]:.6g} {unit}")
    print(f"{args.workload} failed_ratio = {ratio:.6g} fraction")
    if result.problems:
        print(f"{args.workload} problems: {dict(result.problems)}")
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def write_trace(run: Run, layers: dict, traced_e2e: dict) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"trace-{run.args.workload}-seed{run.seed}.json")
    run.tracer.dump(
        path,
        {
            "workload": run.args.workload,
            "seed": run.seed,
            "layers": layers,
            "traced_end_to_end": traced_e2e,
            "absent": run.absent,
            "notes": run.notes,
        },
    )
    print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def _on_term(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _on_term)
    sys.exit(main(sys.argv[1:]))
