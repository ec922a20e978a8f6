"""Self-test of the traced-run parser on a toy job.

    python3 perfbench/selftest.py

Runs one small Spark job with the event log on (a ``mapInArrow`` step
followed by a grouped count), parses the log with ``perfbench.trace`` and
checks that the parser sees bytes go to and come back from Python, bytes
written by the ``Exchange``, and the partial aggregation's rows in and out.
It also checks that ``BENCHMARK.json`` names exactly the metrics
``run.py`` prints. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ROWS, KEYS, SLICES = 20_000, 7, 4


def passthrough(batches):
    yield from batches


def check(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok: {what}")


def main() -> int:
    if not (ROOT / "xmlschema_spark" / "__init__.py").is_file():
        print(f"no xmlschema_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from perfbench import run
    from perfbench.trace import EventLog, Tracer

    manifest = json.loads((ROOT / "BENCHMARK.json").read_text())
    check([m["name"] for m in manifest["end_to_end"]] == list(run.END_TO_END),
          "BENCHMARK.json end_to_end names match run.py")
    check([m["name"] for m in manifest["per_layer"]] == list(run.PER_LAYER),
          "BENCHMARK.json per_layer names match run.py")
    check({m["name"]: m["unit"] for m in manifest["end_to_end"] + manifest["per_layer"]}
          == {**run.END_TO_END, **run.PER_LAYER}, "BENCHMARK.json units match run.py")

    run.size_for_host()
    log_dir = run.WORK / "selftest-eventlog"
    shutil.rmtree(log_dir, ignore_errors=True)
    tracer = Tracer(lambda: SparkContext._active_spark_context)
    try:
        spark = run.start_session(2, event_log=log_dir)
        tracer.phase = "pass"
        with tracer.span("toy"):
            df = spark.range(0, ROWS, 1, SLICES).selectExpr("id", "repeat('x', 64) AS s")
            got = (
                df.mapInArrow(passthrough, df.schema)
                .groupBy((F.col("id") % KEYS).alias("k")).count().collect()
            )
        spark.stop()
    finally:
        run.shutdown_jvm()
    check(sorted(r["count"] for r in got) == sorted(
        len(range(k, ROWS, KEYS)) for k in range(KEYS)), "toy job result")

    log = EventLog(log_dir)
    tasks = log.tasks_in(tracer.under(lambda s: s.name == "toy", "pass"))
    check(len(tasks) > 0, f"tasks attributed to the toy span ({len(tasks)})")
    arrow = ("MapInArrow", "PythonMapInArrow")
    sent = log.node_metric(tasks, arrow, "data sent to Python workers")
    back = log.node_metric(tasks, arrow, "data returned from Python workers")
    rows = log.node_metric(tasks, arrow, "number of output rows")
    shuffled = log.node_metric(tasks, ("Exchange",), "shuffle bytes written")
    check(sent > 0, f"MapInArrow bytes to Python ({sent})")
    check(back > 0, f"MapInArrow bytes from Python ({back})")
    check(rows == ROWS, f"MapInArrow rows from Python ({rows})")
    check(shuffled > 0, f"Exchange shuffle-write bytes ({shuffled})")
    check(shuffled == sum(t.shuffle_write_bytes for t in tasks),
          "Exchange metric equals the tasks' shuffle-write bytes")
    agg_out, agg_in = log.partial_agg_rows(tasks)
    check(agg_in == ROWS, f"partial aggregation rows in ({agg_in})")
    check(0 < agg_out <= KEYS * SLICES, f"partial aggregation rows out ({agg_out})")
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
