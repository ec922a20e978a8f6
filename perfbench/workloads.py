"""The benchmark's workloads: each loads its generated table, runs one pass
through the package's public API, and checks the pass's outputs.

A workload's ``run_pass`` returns ``(seconds, result_seconds, errors)``:
the wall time of the whole pass, the wall time until its complete result
(see ``perfbench/METRICS.md``), and one message per output that raised or did not
match ``expect.json``.
"""

from __future__ import annotations

import contextlib
import json
import math
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import functions as F


class Workload:
    name = ""
    #: span names whose jobs are uniqueness (identity) work
    identity_spans: set[str] = set()
    #: span names whose jobs are drift work
    drift_spans = {"drift.psi"}
    #: outputs checked per pass
    outputs = 0
    #: untimed passes at set-up, the cold one first
    warmup_passes = 1

    def __init__(self, spark, inp: Path, work: Path, cores: int, tracer=None):
        self.spark = spark
        self.inp = inp
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.expect = json.loads((inp / "expect.json").read_text())
        self.rows = int(self.expect["rows"])
        self.df = None

    def span(self, name: str, parent: int | None = None):
        return self.tracer.span(name, parent) if self.tracer else contextlib.nullcontext()

    @contextlib.contextmanager
    def checking(self):
        """Output checks run Spark jobs of their own: keep them out of the
        traced pass."""
        if self.tracer is None:
            yield
            return
        prev, self.tracer.phase = self.tracer.phase, "check"
        try:
            with self.tracer.span("check"):
                yield
        finally:
            self.tracer.phase = prev

    def load(self) -> None:
        """Read the generated table, partition it the way the package's
        own generator does, and cache it."""
        n_parts = len(self.expect["partitions"])
        df = self.spark.read.parquet(str(self.inp / "table.parquet"))
        df = df.repartitionByRange(max(8, n_parts), "part", "image_id").cache()
        df.count()
        self.df = df

    def reset_layers(self) -> None:
        """Forget the per-layer numbers gathered so far."""

    def close(self) -> None:
        if self.df is not None:
            self.df.unpersist()
            self.df = None


# ---------------------------------------------------------------- images


class ImageSuite(Workload):
    """The production image constraint suite: four independent outputs
    submitted at once, each in its own FAIR pool (the job set of
    ``xmlschema_spark.benchsuite.make_run_suite``), collected so that every
    output can be checked."""

    name = "image_suite"
    identity_spans = {"suite.unique_image_id", "suite.unique_phash"}
    drift_spans = {"suite.psi", "drift.psi"}
    outputs = 4

    def load(self) -> None:
        from xmlschema_spark.engine import ValidationEngine
        from xmlschema_spark.sources.rules_loader import default_image_ruleset

        super().load()
        self.engine = ValidationEngine(default_image_ruleset())
        # fixed stage shapes: AQE re-planning adds driver latency only
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")

    def run_pass(self):
        from xmlschema_spark.operators import drift as drift_ops
        from xmlschema_spark.operators import identity as id_ops

        df, cores = self.df, self.cores
        jobs = [
            ("suite.unique_image_id", lambda: id_ops.duplicate_values(df, ["image_id"])),
            ("suite.unique_phash",
             lambda: id_ops.duplicate_values(df, ["phash"], salt_partitions=16)),
            ("suite.psi", lambda: drift_ops.psi(df, "w", "part", bins=10)),
            # decode stage at cores/2 tasks: with its Python worker each
            # task holds two threads (see benchsuite.make_run_suite)
            ("suite.one_pass", lambda: self.engine.validate_one_pass(
                df.coalesce(max(1, cores // 2)), run_id="bench", with_stats=True)),
        ]
        parent = self.tracer.current() if self.tracer else None
        sc = self.spark.sparkContext

        def in_pool(i: int, name: str, job):
            sc.setLocalProperty("spark.scheduler.pool", f"suite{i}")
            try:
                with self.span(name, parent):
                    return job().collect()
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)

        t0 = time.perf_counter()
        with ThreadPoolExecutor(min(len(jobs), cores)) as ex:
            futures = [ex.submit(in_pool, i, n, j) for i, (n, j) in enumerate(jobs)]
            results = []
            for (name, _), f in zip(jobs, futures):
                try:
                    results.append((name, f.result(), None))
                except Exception as e:  # noqa: BLE001 — counted as a failed output
                    results.append((name, None, f"{name} raised {type(e).__name__}: {e}"))
        seconds = time.perf_counter() - t0
        errors = [err for _, _, err in results if err]
        errors += [
            err for name, rows, err0 in results if err0 is None
            for err in self._check(name, rows)
        ]
        return seconds, seconds, errors

    def _check(self, name: str, rows) -> list[str]:
        want = self.expect
        if name == "suite.one_pass":
            got_rows = sum(r["rows_checked"] for r in rows)
            counts: dict[str, int] = {}
            for r in rows:
                for rule, v in r["metrics"].items():
                    counts[rule] = counts.get(rule, 0) + int(v)
            expect = {rule: want["rule_counts"].get(rule, 0) for rule in counts}
            parts = sorted(r["partition_id"] for r in rows)
            errs = []
            if got_rows != self.rows:
                errs.append(f"one_pass rows_checked {got_rows} != {self.rows}")
            if counts != expect:
                errs.append(f"one_pass rule counts {counts} != {expect}")
            if parts != want["partitions"]:
                errs.append("one_pass partitions differ")
            return errs
        if name == "suite.unique_image_id":
            got = {str(r["image_id"]): r["dup_count"] for r in rows}
            errs = [] if got == want["dup_image_id"] else [f"image_id dups {got}"]
            if len(got) != want["rule_counts"].get("id_unique", 0):
                errs.append(f"image_id: {len(got)} duplicated values vs id_unique")
            return errs
        if name == "suite.unique_phash":
            got = {str(r["phash"]): r["dup_count"] for r in rows}
            return [] if got == want["dup_phash"] else [f"phash dups {got}"]
        if name == "suite.psi":
            parts = sorted(r["part"] for r in rows)
            bad = [r["part"] for r in rows if not (math.isfinite(r["psi"]) and r["psi"] >= 0)]
            errs = [] if parts == want["partitions"] else ["psi partitions differ"]
            return errs + ([f"psi not finite/non-negative on {bad}"] if bad else [])
        return [f"unknown output {name}"]


# ------------------------------------------------------------ checkpoint


def ruleset_without_decode():
    """The default image ruleset minus the rules that decode payloads."""
    from xmlschema_spark.rules import RuleSet
    from xmlschema_spark.sources.rules_loader import default_image_ruleset

    return RuleSet(
        [r for r in default_image_ruleset()
         if r.kind not in ("decode_image", "phash_consistency")]
    )


class CheckpointResume(Workload):
    """``CheckpointedRun`` interrupted part-way, restarted, and finished,
    on a fresh sink directory each pass."""

    name = "checkpoint_resume"
    identity_spans = {"checkpoint.finish"}
    outputs = 3
    # it times only MIN_PASSES passes, and the first pass after the cold one
    # still ran about a fifth slower than the next, more on a busy host
    warmup_passes = 2
    batch_size = 4
    fail_after_batches = 1

    def load(self) -> None:
        super().load()
        self.ruleset = ruleset_without_decode()
        self.passes = 0
        self.reset_layers()

    def reset_layers(self) -> None:
        #: (files, bytes) of each pass's sink directory
        self.sink_sizes: list[tuple[int, int]] = []
        #: wall_sec of every batch, from state.jsonl
        self.batch_walls: list[float] = []

    def _state(self, run) -> list[dict]:
        path = Path(run.state_path)
        if not path.exists():
            return []
        return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]

    def run_pass(self):
        from xmlschema_spark.checkpoint import CheckpointedRun
        from xmlschema_spark.engine import ValidationEngine

        self.passes += 1
        sink = self.work / "sinks" / f"pass{self.passes}"
        shutil.rmtree(sink, ignore_errors=True)
        errors: list[str] = []
        t0 = time.perf_counter()
        crashed = CheckpointedRun(ValidationEngine(self.ruleset), str(sink), "bench")
        try:
            crashed.run(self.df, batch_size=self.batch_size,
                        fail_after_batches=self.fail_after_batches)
            errors.append("interrupted run did not stop")
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        t1 = time.perf_counter()
        # a restarted driver builds its engine and run handle again
        run = CheckpointedRun(ValidationEngine(self.ruleset), str(sink), "bench")
        before = len(self._state(run))
        try:
            run.run(self.df, batch_size=self.batch_size)
            run.finish(self.df)
        except Exception as e:  # noqa: BLE001 — counted as failed outputs
            errors += [f"resumed run raised {type(e).__name__}: {e}"] * self.outputs
        t2 = time.perf_counter()
        if not errors:
            with self.checking():
                errors += self._check(run, before)
        files = [p for p in sink.rglob("*") if p.is_file()]
        self.sink_sizes.append((len(files), sum(p.stat().st_size for p in files)))
        state = self._state(run)
        for rows in (state[:before], state[before:]):
            self.batch_walls += {r["batch"]: r["wall_sec"] for r in rows if "wall_sec" in r}.values()
        return t2 - t0, t2 - t1, errors

    def _check(self, run, before: int) -> list[str]:
        errs = []
        state = self._state(run)
        parts = set(self.expect["partitions"])
        done_first = {r["partition_id"] for r in state[:before] if r["status"] == "DONE"}
        done_resume = {
            r["partition_id"] for r in state[before:]
            if r["status"] == "DONE" and r["partition_id"] != "__table__"
        }
        if not done_first or done_first >= parts:
            errs.append(f"interrupted run finished {len(done_first)} of {len(parts)} partitions")
        if done_first & done_resume or (done_first | done_resume) != parts:
            errs.append(
                f"resume did not skip exactly the finished partitions: "
                f"first {sorted(done_first)}, resumed {sorted(done_resume)}"
            )
        rows = run.violations(self.spark).groupBy("rule_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.struct("partition_id", "rule_id", "row_id")).alias("distinct"),
        ).collect()
        # every error rule, and the warning rules the manifest pins exactly
        # (PSI drift warnings are sampling noise at this size and are not)
        pinned = self.expect["rule_counts"]
        checked = {r.rule_id for r in self.ruleset if r.severity == "error" or r.rule_id in pinned}
        got = {r.rule_id: r.n for r in rows}
        have = {rid: got.get(rid, 0) for rid in checked}
        want = {rid: pinned.get(rid, 0) for rid in checked}
        if have != want:
            errs.append(f"sink violation counts {have} != {want}")
        dup = [r.rule_id for r in rows if r.n != r.distinct]
        if dup:
            errs.append(f"duplicated violation rows for {dup}")
        return errs
