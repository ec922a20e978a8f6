"""Benchmark of the validation package: one workload per run, one JSON line.

    python3 perfbench/run.py --workload image_suite --seed 1 --seconds 10 --trace 0

Run it from the repository root. The workload's input is generated from
``--seed`` before anything is timed and kept under ``.perfbench/`` (see
``perfbench/inputs.py``). One driver process runs the package on
``local[<cores>]``; its Spark session is sized for the host here, with no
change to the package's own defaults.

``--trace 0`` prints the end-to-end metrics, measured with tracing off.
``--trace 1`` makes a traced session (Spark event log on, spans around the
package's public calls), then an untraced one for comparison, and prints
the per-layer metrics (``perfbench/METRICS.md``).

The last line of standard output is the result:
``{"correct": .., "attempted": .., "failed": .., "metrics": {..}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
EVENT_LOG = WORK / "eventlog"

MIN_PASSES = 3  # timed passes per session, however short --seconds is
# a traced run holds two sessions: fewer passes each keep it within its time;
# each session's set-up has the cold pass only (see Workload.warmup_passes)
TRACE_MIN_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "result_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.input_load_s": "s",
    "compiler.compile_s": "s",
    "engine.plan_build_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "multimodal.py_bytes_sent": "bytes",
    "multimodal.py_bytes_received": "bytes",
    "multimodal.py_rows_received": "rows",
    "multimodal.py_boot_s": "s",
    "multimodal.py_init_s": "s",
    "multimodal.py_run_s": "s",
    "codec.decode_us_per_row": "us",
    "identity.shuffle_write_bytes": "bytes",
    "identity.skew": "ratio",
    "identity.partial_agg_ratio": "ratio",
    "drift.psi_s": "s",
    "checkpoint.batch_s": "s",
    "checkpoint.finish_s": "s",
    "checkpoint.sink_bytes": "bytes",
    "checkpoint.files_written": "count",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.scheduler_delay_s": "s",
    "trace.overhead_s": "s",
}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def size_for_host() -> None:
    """Environment for the Spark driver, set before its JVM starts: memory
    from the host's, scratch space inside the repository checkout."""
    mem_kb = 0
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    gb = max(1, min(8, mem_kb // (6 * 1024 * 1024)))
    os.environ["SPARK_DRIVER_MEM"] = f"{gb}g"
    for name in ("spark-local", "tmp"):
        (WORK / name).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # every JVM the session starts: no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"


def start_session(cores: int, event_log: Path | None = None):
    from xmlschema_spark.session import get_spark

    conf = {
        "spark.scheduler.mode": "FAIR",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # the whole heap from the start: heap growth is no part of a pass
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
        # SparkSession.builder keeps options across sessions: set it always
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        # uncompressed: reading the default zstd codec from Python would
        # need the zstandard module, which the project does not depend on
        conf.update({
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM (VmHWM)."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fmt(values: list[float]) -> str:
    return " ".join(f"{v:.2f}" for v in values)


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, outputs: int, errors: list[str]) -> None:
        self.attempted += outputs
        self.failed += min(outputs, len(errors))
        self.errors += errors


def span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def timed_passes(wl, seconds: float, tally: Tally, tracer=None,
                 min_passes: int = MIN_PASSES):
    """Passes until ``seconds`` have gone by (at least ``min_passes``):
    (pass seconds, result seconds) of each."""
    walls, results = [], []
    start = time.perf_counter()
    while len(walls) < min_passes or time.perf_counter() - start < seconds:
        with span(tracer, "pass"):
            wall, result, errors = wl.run_pass()
        tally.add(wl.outputs, errors)
        walls.append(wall)
        results.append(result)
    return walls, results


def set_up(cls, inp: Path, cores: int, tally: Tally, tracer=None, warmup: int = 1):
    """Session start, input load and cache, and ``warmup`` untimed passes,
    the cold one first: everything before the timed passes."""
    with span(tracer, "session.start"):
        spark = start_session(cores, event_log=EVENT_LOG if tracer else None)
    wl = cls(spark, inp, WORK, cores, tracer)
    with span(tracer, "sources.input_load"):
        wl.load()
    for _ in range(warmup):
        with span(tracer, "pass"):
            _, _, errors = wl.run_pass()
        tally.add(wl.outputs, errors)
    wl.reset_layers()
    return spark, wl


def run_untraced(cls, inp: Path, cores: int, seconds: float, tally: Tally) -> dict:
    t0 = time.perf_counter()
    spark, wl = set_up(cls, inp, cores, tally, warmup=cls.warmup_passes)
    setup = time.perf_counter() - t0
    walls, results = timed_passes(wl, seconds, tally)
    log(f"set-up {setup:.2f} s; passes {fmt(walls)} s")
    wl.close()
    return {
        "setup_s": setup,
        "rows_per_s": wl.rows / statistics.median(walls),
        "result_s": statistics.median(results),
    }


def traced_targets():
    """The public calls a span is opened around: those that launch Spark
    jobs or take driver time the per-layer metrics report."""
    from xmlschema_spark import checkpoint, engine
    from xmlschema_spark.operators import drift

    return [
        (engine.ValidationEngine, "__init__", "compiler.compile"),
        (engine.ValidationEngine, "validate", "engine.validate"),
        (engine.ValidationEngine, "validate_one_pass", "engine.validate_one_pass"),
        (drift, "psi", "drift.psi"),
        (checkpoint.CheckpointedRun, "finish", "checkpoint.finish"),
    ]


def run_traced(cls, inp: Path, cores: int, seconds: float, tally: Tally) -> dict:
    from pyspark import SparkContext

    from perfbench.trace import EventLog, Tracer

    shutil.rmtree(EVENT_LOG, ignore_errors=True)
    tracer = Tracer(lambda: SparkContext._active_spark_context)
    tracer.install(traced_targets())
    try:
        spark, wl = set_up(cls, inp, cores, tally, tracer)
        tracer.phase = "pass"
        walls, _ = timed_passes(wl, seconds, tally, tracer, TRACE_MIN_PASSES)
        tracer.phase = "after"
        layers = layer_metrics(tracer, wl, len(walls))
        layers["session.peak_rss_mb"] = peak_rss_mb(spark)
        wl.close()
        spark.stop()  # flushes the event log
    finally:
        tracer.uninstall()
    layers.update(log_metrics(tracer, EventLog(EVENT_LOG), wl, len(walls)))
    layers["codec.decode_us_per_row"] = (
        codec_us_per_row(inp) if cls.name == "image_suite" else 0.0
    )

    # the same passes untraced, in a second session of the same JVM
    spark, plain = set_up(cls, inp, cores, tally)
    plain_walls, _ = timed_passes(plain, seconds, tally, min_passes=TRACE_MIN_PASSES)
    plain.close()
    log(f"traced passes {fmt(walls)} s; untraced {fmt(plain_walls)} s")
    layers["trace.overhead_s"] = statistics.median(walls) - statistics.median(plain_walls)
    return layers


def layer_metrics(tracer, wl, passes: int) -> dict:
    """Per-layer numbers the spans and the workload give directly."""
    def walls(name: str, phase: str = "pass") -> list[float]:
        return [s.wall for s in tracer.named(name, phase)]

    compiled = walls("compiler.compile")
    finish = walls("checkpoint.finish")
    sinks = getattr(wl, "sink_sizes", [])
    return {
        "session.start_s": sum(walls("session.start", "setup")),
        "sources.input_load_s": sum(walls("sources.input_load", "setup")),
        # image_suite builds its one engine at set-up, not in a pass
        "compiler.compile_s": (
            sum(compiled) / passes if compiled else sum(walls("compiler.compile", "setup"))
        ),
        "checkpoint.batch_s": statistics.median(getattr(wl, "batch_walls", []) or [0.0]),
        "checkpoint.finish_s": statistics.median(finish or [0.0]),
        "checkpoint.sink_bytes": statistics.median([b for _, b in sinks] or [0]),
        "checkpoint.files_written": statistics.median([f for f, _ in sinks] or [0]),
    }


def log_metrics(tracer, events, wl, passes: int) -> dict:
    """Per-layer numbers read from Spark's own SQL and task metrics, per
    timed pass."""
    from perfbench.trace import shuffle_skew

    in_pass = tracer.under(lambda s: True, "pass")
    tasks = events.tasks_in(in_pass)
    arrow = ("MapInArrow", "PythonMapInArrow")

    def py(metric: str) -> float:
        return events.node_metric(tasks, arrow, metric) / passes

    ident = events.tasks_in(tracer.under(lambda s: s.name in wl.identity_spans, "pass"))
    agg_out, agg_in = events.partial_agg_rows(ident)
    drift_jobs = events.jobs_in(tracer.under(lambda s: s.name in wl.drift_spans, "pass"))

    plan_build = 0.0
    for name in ("engine.validate", "engine.validate_one_pass"):
        for sp in tracer.named(name, "pass"):
            inside = events.jobs_in(tracer.under(lambda s, i=sp.id: s.id == i, "pass"))
            plan_build += sp.wall - sum(j.seconds for j in inside)

    def task_sum(get) -> float:
        return sum(get(t) for t in tasks) / passes

    return {
        "engine.plan_build_s": plan_build / passes,
        "engine.jobs": len(events.jobs_in(in_pass)) / passes,
        "engine.stages": len({t.stage for t in tasks}) / passes,
        "engine.tasks": len(tasks) / passes,
        "multimodal.py_bytes_sent": py("data sent to Python workers"),
        "multimodal.py_bytes_received": py("data returned from Python workers"),
        "multimodal.py_rows_received": py("number of output rows"),
        "multimodal.py_boot_s": py("time to start Python workers") / 1e3,
        "multimodal.py_init_s": py("time to initialize Python workers") / 1e3,
        "multimodal.py_run_s": py("time to run Python workers") / 1e3,
        "identity.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in ident) / passes,
        "identity.skew": shuffle_skew(ident),
        "identity.partial_agg_ratio": agg_out / agg_in if agg_in else 0.0,
        "drift.psi_s": sum(j.seconds for j in drift_jobs) / passes,
        "spark.gc_s": task_sum(lambda t: t.metrics.get("JVM GC Time", 0)) / 1e3,
        "spark.spill_bytes": task_sum(lambda t: t.metrics.get("Disk Bytes Spilled", 0)),
        "spark.shuffle_read_bytes": task_sum(lambda t: t.shuffle_read_bytes),
        "spark.executor_run_s": task_sum(lambda t: t.metrics.get("Executor Run Time", 0)) / 1e3,
        "spark.executor_cpu_s": task_sum(lambda t: t.metrics.get("Executor CPU Time", 0)) / 1e9,
        "spark.scheduler_delay_s": task_sum(lambda t: t.scheduler_delay_ms) / 1e3,
    }


def codec_us_per_row(inp: Path) -> float:
    """The decode UDF's per-row work (decode, PSNR, phash), called directly
    on one core over a fixed batch of the workload's payloads."""
    from perfbench.inputs import probe_payloads
    from xmlschema_spark.functions import codec

    payloads = probe_payloads(inp)

    def one(data: bytes) -> None:
        pixels, kind = codec.decode_image(data)
        if kind not in codec.LOSSLESS:
            codec.psnr(pixels, codec.reencode_values(pixels, kind))
        codec.phash64(pixels)

    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        for data in payloads:
            one(data)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(payloads) * 1e6


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "xmlschema_spark" / "__init__.py").is_file():
        print(f"no xmlschema_spark package under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    size_for_host()

    from perfbench import inputs
    from perfbench.workloads import CheckpointResume, ImageSuite

    workloads = {w.name: w for w in (ImageSuite, CheckpointResume)}
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    inp = inputs.ensure(ROOT, WORK, args.workload, args.seed)
    log(f"input {inp.name} ready in {time.perf_counter() - t0:.1f} s")
    cores = host_cores()
    tally = Tally()
    try:
        run = run_traced if args.trace else run_untraced
        metrics = run(workloads[args.workload], inp, cores, args.seconds, tally)
    finally:
        shutdown_jvm()
    units = PER_LAYER if args.trace else END_TO_END
    for err in tally.errors:
        print(f"output check failed: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
