"""Per-partition checkpoint/resume for validation runs.

North-star requirement: interrupted runs resume exactly, no duplicated
violation rows. The reference's nearest mechanism is its lazy single-pass
iterparse (resources.py:544-590) — subtree-at-a-time with bounded state;
ours is partition-at-a-time with durable state.

Design (sink format is pluggable: ``sink_format="parquet"`` (default)
writes partitioned directories; ``sink_format="iceberg"`` writes
identity-partitioned Iceberg tables via the DataFrameWriterV2
``overwritePartitions()`` — the same idempotent per-partition replace,
with real snapshot/time-travel semantics on a lakehouse. The parquet
layout ``.../violations/partition_id=<p>/`` mirrors the Iceberg
identity partitioning exactly, and ``dynamic`` partition-overwrite
gives the same replace semantics, so both formats share one design):

- state table: one JSON line per (run_id, partition_id) with status,
  metrics, lineage (input fingerprint + ruleset hash).
- ``run()`` processes PENDING partitions in batches; each batch is ONE
  ``validate()`` over ``df.filter(part ∈ batch)`` (NOT a per-partition
  loop — resume = anti-join of pending partitions, SURVEY.md §2.8),
  writing violations/verdicts with partitionOverwriteMode=dynamic so a
  re-run of a half-written batch simply replaces those partitions
  (idempotent). A batch still runs several Spark jobs: each sink write
  is one, and a drift rule collects its bounds and histogram first.
  perfbench's checkpoint_resume pass (a run interrupted after its first
  batch, its resume and ``finish()``, 8 partitions in batches of 4) runs
  34 jobs.
- table-scoped rules (global uniqueness) run once in a final step gated
  by their own state row, since they cannot be computed per-batch.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from xmlschema_spark.engine import ValidationEngine
from xmlschema_spark.operators import stats as stats_ops
from xmlschema_spark.rules import RuleSet


def _ruleset_hash(ruleset: RuleSet) -> str:
    return hashlib.sha256(ruleset.to_json().encode()).hexdigest()[:16]


def _observed(obs: Observation, empty_defaults: dict) -> dict:
    """Read an Observation's metrics, tolerating the zero-row collapse:
    when the observed side optimizes to an empty relation (e.g. a
    violations frame Catalyst folds away because no rule fired), the
    CollectMetrics node is eliminated with it and ``obs.get`` raises —
    in exactly that case the correct metrics ARE the zeros."""
    try:
        return dict(obs.get)
    except Exception:
        return dict(empty_defaults)


def _write_partitioned(df: DataFrame, target: str, sink_format: str) -> None:
    """Idempotent per-partition replace of ``partition_id`` partitions:
    parquet uses mode=overwrite + partitionOverwriteMode=dynamic (set by
    the caller's session); iceberg uses DataFrameWriterV2
    ``overwritePartitions()`` — the v2 expression of exactly the same
    contract — creating the identity-partitioned table on first write."""
    if sink_format == "parquet":
        (
            df.write.mode("overwrite")
            .partitionBy("partition_id")
            .parquet(target)
        )
    elif sink_format == "iceberg":
        spark = df.sparkSession
        if spark.catalog.tableExists(target):
            df.writeTo(target).overwritePartitions()
        else:
            df.writeTo(target).partitionedBy(F.col("partition_id")).create()
    else:
        raise ValueError(
            f"sink_format must be 'parquet' or 'iceberg', got {sink_format!r}"
        )


@dataclass
class CheckpointedRun:
    engine: ValidationEngine
    base_dir: str
    run_id: str
    #: "parquet" (default — directory sinks under base_dir) or "iceberg"
    #: (base_dir is then a catalog namespace, e.g. "ice.db", and each sink
    #: is a table "<namespace>.<run_id>_<sink>"). Requires the Iceberg
    #: runtime jars + a configured catalog; the parquet default needs
    #: nothing. Driver-side state stays a JSON-lines file either way
    #: (state_dir overrides its location for iceberg runs).
    sink_format: str = "parquet"
    state_dir: str | None = None

    def __post_init__(self) -> None:
        if self.sink_format not in ("parquet", "iceberg"):
            raise ValueError(
                f"sink_format must be 'parquet' or 'iceberg', got {self.sink_format!r}"
            )
        if self.sink_format == "iceberg" and self.state_dir is None:
            raise ValueError(
                "sink_format='iceberg' makes base_dir a catalog namespace; "
                "pass state_dir=<local/shared dir> for the state.jsonl file"
            )

    def _target(self, sink: str) -> str:
        if self.sink_format == "iceberg":
            safe = "".join(c if c.isalnum() else "_" for c in self.run_id)
            return f"{self.base_dir}.{safe}_{sink}"
        return str(Path(self.base_dir) / self.run_id / sink)

    @property
    def state_path(self) -> Path:
        root = self.state_dir if self.state_dir is not None else self.base_dir
        return Path(root) / self.run_id / "state.jsonl"

    @property
    def violations_dir(self) -> str:
        return self._target("violations")

    @property
    def verdicts_dir(self) -> str:
        return self._target("verdicts")

    @property
    def stats_dir(self) -> str:
        return self._target("stats")

    # ----------------------------------------------------------------- state

    def _load_state(self) -> dict[str, dict]:
        state: dict[str, dict] = {}
        if self.state_path.exists():
            for line in self.state_path.read_text().splitlines():
                if line.strip():
                    row = json.loads(line)
                    state[row["partition_id"]] = row  # last write wins
        return state

    def _append_state(self, rows: list[dict]) -> None:
        self.state_path.parent.mkdir(parents=True, exist_ok=True)
        with self.state_path.open("a") as f:
            for row in rows:
                f.write(json.dumps(row) + "\n")

    # ------------------------------------------------------------------- run

    def run(
        self,
        df: DataFrame,
        batch_size: int = 4,
        secondary: dict[str, DataFrame] | None = None,
        fail_after_batches: int | None = None,
        with_stats: bool = False,
    ) -> None:
        """Process all pending partitions, one ``validate()`` and its sink
        writes per batch (several Spark jobs, not one — see the module
        docstring). ``fail_after_batches`` exists for the kill-and-resume
        test (FIXTURES.md `resume_midrun`).

        Every state row carries observed batch metrics
        (``batch_violations`` / ``batch_errors`` / ``batch_rows_checked``
        / ``batch_parts_failed``) computed DURING the sink writes via
        Spark's Observation API — no extra jobs or scans; the lineage
        line an operator watches per checkpoint tick.

        ``with_stats=True`` additionally writes one DURABLE per-partition
        metrics row (typed counts/min/max + a mergeable DataSketches HLL
        sketch per column — the Iceberg partition-statistics model) per
        processed partition. The rows ride the same dynamic
        partition-overwrite idempotency as the violation sinks, so a
        resumed run re-sketches only the partitions it re-validates;
        :meth:`stats_profile` rolls whatever is on disk up to the
        table-level profile without rescanning the data."""
        spark = df.sparkSession
        part_col = self.engine.partition_col
        lineage = {
            "ruleset_sha": _ruleset_hash(self.engine.ruleset),
            "input_schema": df.schema.simpleString(),
        }
        state = self._load_state()
        all_parts = [
            r[0] for r in df.select(part_col).distinct().orderBy(part_col).collect()
        ]
        pending = [p for p in all_parts if state.get(str(p), {}).get("status") != "DONE"]

        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batches = [pending[i : i + batch_size] for i in range(0, len(pending), batch_size)]
        # per-batch pass runs row + partition-scoped rules only; the
        # table-scoped set rules run in finish() over the whole input.
        batch_rules = RuleSet([r for r in self.engine.ruleset if r.scope != "table"])
        eng = ValidationEngine(batch_rules, self.engine.id_col, part_col)
        for bi, batch in enumerate(batches):
            if fail_after_batches is not None and bi >= fail_after_batches:
                raise RuntimeError(f"injected failure before batch {bi}")
            t0 = time.time()  # wall_sec covers validate()'s plan build too
            sub = df.filter(F.col(part_col).isin(batch))
            result = eng.validate(sub, run_id=self.run_id, secondary=secondary, with_stats=False)
            # batch metrics ride the sink actions themselves via observe()
            # (Spark's Observation API): the aggregates are computed DURING
            # the writes — zero extra jobs, zero extra scans — and land on
            # every state row of the batch as lineage metrics. On a real
            # cluster these are the numbers an operator watches per
            # checkpoint tick, and a resumed run re-records them only for
            # the partitions it re-validates.
            obs_v = Observation(f"{self.run_id}_viol_{bi}")
            observed_viol = result.violations.observe(
                obs_v,
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("severity") == "error").alias("n_err"),
            )
            obs_d = Observation(f"{self.run_id}_verd_{bi}")
            observed_verd = result.verdicts.observe(
                obs_d,
                F.sum("rows_checked").alias("rows"),
                F.count_if(F.col("status") == "FAIL").alias("failed"),
            )
            _write_partitioned(
                observed_viol.repartition("partition_id"),
                self.violations_dir,
                self.sink_format,
            )
            _write_partitioned(observed_verd, self.verdicts_dir, self.sink_format)
            vm = _observed(obs_v, {"n": 0, "n_err": 0})
            dm = _observed(obs_d, {"rows": 0, "failed": 0})
            metrics = {
                "batch_violations": int(vm["n"]),
                "batch_errors": int(vm["n_err"]),
                "batch_rows_checked": int(dm["rows"] or 0),
                "batch_parts_failed": int(dm["failed"]),
            }
            if with_stats:
                # scope column renamed to partition_id so the sink layout
                # (.../stats/partition_id=<p>/) matches the other sinks and
                # dynamic overwrite replaces exactly the re-run partitions
                _write_partitioned(
                    stats_ops.partition_sketches(sub, scope_col=part_col)
                    .withColumnRenamed("scope", "partition_id"),
                    self.stats_dir,
                    self.sink_format,
                )
            result.unpersist()  # release per-batch caches before the next batch
            elapsed = time.time() - t0
            self._append_state(
                [
                    {
                        "run_id": self.run_id,
                        "partition_id": str(p),
                        "status": "DONE",
                        "batch": bi,
                        "wall_sec": round(elapsed, 3),
                        **metrics,
                        **lineage,
                    }
                    for p in batch
                ]
            )

    def finish(self, df: DataFrame, secondary: dict[str, DataFrame] | None = None) -> None:
        """Table-scoped rules (global uniqueness/keyref) — run once, gated
        by a '__table__' state row."""
        state = self._load_state()
        if state.get("__table__", {}).get("status") == "DONE":
            return
        table_rules = RuleSet([r for r in self.engine.ruleset if r.scope == "table"])
        if len(table_rules):
            eng = ValidationEngine(table_rules, self.engine.id_col, self.engine.partition_col)
            # the sink is the violations' one consumer: nothing to persist
            _write_partitioned(
                eng._lax_violations(df, self.run_id, secondary)
                .withColumn("partition_id", F.lit("__table__")),
                self.violations_dir,
                self.sink_format,
            )
        self._append_state(
            [{"run_id": self.run_id, "partition_id": "__table__", "status": "DONE"}]
        )

    # --------------------------------------------------------------- readers

    def _read(self, spark, target: str) -> DataFrame:
        if self.sink_format == "iceberg":
            return spark.read.table(target)
        return spark.read.parquet(target)

    def violations(self, spark) -> DataFrame:
        return self._read(spark, self.violations_dir)

    def verdicts(self, spark) -> DataFrame:
        return self._read(spark, self.verdicts_dir)

    def partition_stats(self, spark) -> DataFrame:
        """The durable per-partition metrics rows (run with
        ``with_stats=True`` first)."""
        return self._read(spark, self.stats_dir)

    def stats_profile(self, spark) -> DataFrame:
        """Table-level profile rolled up from the durable per-partition
        sketches — metadata-only, the data itself is not re-read."""
        return stats_ops.merge_sketches(self.partition_stats(spark))
