"""Stateful scalar aggregates: lastTimeGenerated + monotonic maxTimestamp.

Re-expresses the reference's Redis-backed state (/root/reference/src/main.go:313-322,
src/cache.go) as a single-row parquet control table merged per batch. The
reference's read-compare-write races across replicas; a single merge job per
micro-batch is strictly stronger (SURVEY.md §1.5). Streaming mode maintains
the same two scalars in the Structured Streaming state store
(streaming.py) — this module is the batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType(
    [
        # lastTimeGenerated: last-write-wins (src/main.go:313)
        T.StructField("last_time_generated", T.LongType(), True),
        # maxTimestamp: monotonic running max (src/main.go:315-322)
        T.StructField("max_timestamp", T.LongType(), True),
    ]
)


def read_state(spark: SparkSession, state_path: str) -> Row:
    """GET / equivalent (reference src/main.go:234-245)."""
    try:
        rows = spark.read.schema(STATE_SCHEMA).parquet(state_path).collect()
    except Exception:
        rows = []
    if not rows:
        return Row(last_time_generated=None, max_timestamp=None)
    return rows[0]


def update_state(spark: SparkSession, state_path: str, points: DataFrame) -> Row:
    """Merge one ingested batch into the control table.

    last_time_generated ← the batch's arrival-order-latest timeGenerated
    (last-write-wins); max_timestamp ← greatest(stored, batch max),
    monotonic. One tiny agg job over the batch + a single-row write —
    no full-lake scan, so cost is independent of lake size. The row is
    written from literals over a one-row range, a JVM-only plan: a
    createDataFrame of Python rows would ship them through a Python
    worker for one row.
    """
    agg = points.agg(
        F.max("time_generated").alias("batch_time_generated"),
        F.max("Timestamp").alias("batch_max_ts"),
    ).collect()[0]
    prev = read_state(spark, state_path)

    def merge_max(a: int | None, b: int | None) -> int | None:
        if a is None:
            return b
        if b is None:
            return a
        return max(a, b)

    new = Row(
        last_time_generated=(
            agg["batch_time_generated"]
            if agg["batch_time_generated"] is not None
            else prev["last_time_generated"]
        ),
        max_timestamp=merge_max(prev["max_timestamp"], agg["batch_max_ts"]),
    )
    spark.range(0, 1, 1, 1).select(
        *(
            F.lit(new[f.name]).cast(f.dataType).alias(f.name)
            for f in STATE_SCHEMA
        )
    ).write.mode("overwrite").parquet(state_path)
    return new
