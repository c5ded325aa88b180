"""Ingest pipeline: envelope validation → explode → normalize.

Re-expresses the reference's POST / handler (/root/reference/src/main.go:250-298)
as pure DataFrame→DataFrame functions. Each stage is declarative so Catalyst
can fuse the whole pipeline into one whole-stage-codegen pass per batch; no
driver-side loops, no Python UDFs.

Reference bugs intentionally NOT reproduced (SURVEY.md §7):
- empty-`content` panic (src/main.go:278) → clean rejection here;
- process-kill on write error (src/main.go:308-310) → per-batch errors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from api_to_parquet_spark.schemas import (
    ENVELOPE_SCHEMA,
    PARTITION_COLUMNS,
    ZERO_FILL,
)


def parse_envelopes(raw_json: DataFrame, json_col: str = "value") -> DataFrame:
    """Parse a DataFrame of raw JSON strings into typed envelopes.

    Spark-side equivalent of BindJSON (reference src/main.go:250-255):
    `from_json` with the static ENVELOPE_SCHEMA — no inference, bad
    documents become NULL envelopes and fall out in validation.
    """
    return raw_json.select(
        F.from_json(F.col(json_col), ENVELOPE_SCHEMA).alias("env")
    ).select("env.*")


def valid_envelope_predicate() -> Column:
    """Required-field predicates (reference src/main.go:256-278).

    file != "", timeGenerated != 0, id != "" — plus non-empty content,
    which the reference *intends* (it logs size) but panics on.
    """
    return (
        F.col("file").isNotNull()
        & (F.col("file") != "")
        & F.col("timeGenerated").isNotNull()
        & (F.col("timeGenerated") != 0)
        & F.col("id").isNotNull()
        & (F.col("id") != "")
        & F.col("content").isNotNull()
        & (F.size("content") > 0)
    )


def validate_envelopes(envelopes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split envelopes into (valid, rejected). Both lazy; one predicate,
    evaluated twice — at scale prefer a single pass + partitioned write
    when both sides are materialized."""
    pred = valid_envelope_predicate()
    return envelopes.filter(pred), envelopes.filter(~pred)


def derive_partitions(envelopes: DataFrame) -> DataFrame:
    """Derive the lake partition columns from the envelope `file` path.

    The reference's path contract (README.md:5) is
    `<source>/YYYY/MM/DD/HH/<name>.parquet`; rows whose `file` doesn't
    match fall back to source="unknown" and zero time parts so they land
    in a quarantine-ish partition instead of failing the batch.
    """
    pat = r"^([^/]+)/(\d{4})/(\d{2})/(\d{2})/(\d{2})/[^/]+$"
    src = F.regexp_extract("file", pat, 1)
    # try_cast: non-matching paths yield '' which is not ANSI-castable
    return (
        envelopes.withColumn("source", F.when(src != "", src).otherwise(F.lit("unknown")))
        .withColumn("year", F.regexp_extract("file", pat, 2).try_cast("int"))
        .withColumn("month", F.regexp_extract("file", pat, 3).try_cast("int"))
        .withColumn("day", F.regexp_extract("file", pat, 4).try_cast("int"))
        .withColumn("hour", F.regexp_extract("file", pat, 5).try_cast("int"))
        .withColumn("file_key", F.md5("file"))
        .fillna({"year": 0, "month": 0, "day": 0, "hour": 0})
    )


def explode_points(envelopes: DataFrame) -> DataFrame:
    """Envelope → flat fact rows with batch lineage and partition columns.

    Partition columns are functions of the ENVELOPE-level `file` path,
    so they are derived before the explode: one regex chain + md5 per
    envelope instead of per point row. The envelope's own `source` is
    aliased to batch_source first so the path-derived `source` cannot
    clash. One explode, no shuffle: this runs map-side wherever each
    envelope lives, which is what makes ingest embarrassingly parallel.
    """
    lineage = ["batch_id", "batch_source", "time_generated", "file"]
    env = derive_partitions(
        envelopes.select(
            F.col("id").alias("batch_id"),
            F.col("source").alias("batch_source"),
            F.col("timeGenerated").alias("time_generated"),
            F.col("file"),
            F.col("content"),
        )
    )
    return env.select(
        *lineage, F.explode("content").alias("p"), *PARTITION_COLUMNS
    ).select(*lineage, "p.*", *PARTITION_COLUMNS)


def normalize_points(points: DataFrame) -> DataFrame:
    """Apply Go zero-value semantics (SURVEY.md §1.2): absent JSON fields
    are zero-filled, never NULL — strings → "", numerics → 0."""
    return points.fillna(ZERO_FILL)


def ingest_batch(raw_json: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full ingest plan: raw JSON → (normalized partitioned points, rejected).

    Equivalent of the reference's POST / pipeline through the parquet
    writer (src/main.go:250-298), minus the sink. Every sink runs this
    plan: the HTTP service hands the result to lake.write_batch_files,
    and the ingest streams (streaming.start_ingest_stream,
    streaming.start_snapshot_ingest_stream) run it per micro-batch.
    """
    valid, rejected = validate_envelopes(parse_envelopes(raw_json))
    return normalize_points(explode_points(valid)), rejected


def batch_stats(points: DataFrame) -> DataFrame:
    """Per-batch statistics the reference logs (src/main.go:271-286):
    row count, first/last positional timestamp, and max timestamp."""
    return points.groupBy("batch_id", "file").agg(
        F.count("*").alias("entries"),
        F.min("Timestamp").alias("first_timestamp"),
        F.max("Timestamp").alias("last_timestamp"),
        F.max("Timestamp").alias("max_timestamp"),
    )
