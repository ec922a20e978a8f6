"""Custom stateful streaming operator via ``applyInPandasWithState``:
cumulative per-partition verdicts across micro-batches.

The batch engine's verdict is a snapshot; a continuously-validated table
wants the RUNNING totals per partition — rows checked, violations, and
current PASS/FAIL — updated as events arrive. That is a keyed stateful
aggregation the built-in windowed operators don't express (state never
expires; output is the updated running row per key per batch), so it uses
Structured Streaming's arbitrary-state API with an explicit state schema.

State per partition_id: (rows_checked, violation_count). Each invocation
folds the batch's per-row error totals (computed JVM-side from the
engine's compiled checks) into state and emits one updated verdict row.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

if TYPE_CHECKING:
    from xmlschema_spark.engine import ValidationEngine

STATE_SCHEMA = T.StructType(
    [
        T.StructField("rows_checked", T.LongType()),
        T.StructField("violation_count", T.LongType()),
    ]
)
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("rows_checked", T.LongType()),
        T.StructField("violation_count", T.LongType()),
    ]
)


def cumulative_verdicts(engine: "ValidationEngine", stream_df: DataFrame) -> DataFrame:
    """Streaming DataFrame of RUNNING per-partition verdicts.

    The rule evaluation itself stays JVM-side (the same compiled wide
    projection as the batch engine); only the keyed state fold runs in
    pandas, on tiny (partition_id, flag-sum) batches.
    """
    wide = stream_df.select(
        F.col(engine.partition_col).cast("string").alias("partition_id"),
        engine._row_errors().alias("__viol"),
    )

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows, viols = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            rows += len(pdf)
            viols += int(pdf["__viol"].sum())
        state.update((rows, viols))
        yield pd.DataFrame(
            {
                "partition_id": [key[0]],
                "status": ["FAIL" if viols > 0 else "PASS"],
                "rows_checked": [rows],
                "violation_count": [viols],
            }
        )

    return wide.groupBy("partition_id").applyInPandasWithState(
        fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
