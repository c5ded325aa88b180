"""Ingest pipeline: typed envelopes → validation → explode → normalize.

Re-expresses the reference's POST / handler (/root/reference/src/main.go:250-298)
as pure DataFrame→DataFrame functions over envelopes typed by POST /'s
Arrow parse (read_envelope) or the streams' from_json (parse_envelopes).
Each stage is declarative so Catalyst can fuse the whole pipeline into
one whole-stage-codegen pass per batch; no driver-side loops, no Python UDFs.

Reference bugs intentionally NOT reproduced (SURVEY.md §7):
- empty-`content` panic (src/main.go:278) → clean rejection here;
- process-kill on write error (src/main.go:308-310) → per-batch errors.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.json as pj
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from api_to_parquet_spark.schemas import (
    ENVELOPE_SCHEMA,
    PARTITION_COLUMNS,
    ZERO_FILL,
)

ARROW_ENVELOPE_SCHEMA = to_arrow_schema(ENVELOPE_SCHEMA)
CORRUPT_RECORD = "_corrupt_record"  # from_json's text of an untypable document


def read_json(body: bytes, schema: pa.Schema, others: str = "ignore") -> pa.Table:
    """One pyarrow.json pass over a body of exactly one JSON object: a
    one-row table typed by `schema`, other fields handled as `others`
    says ("ignore" or "infer"). As BindJSON does, it refuses (with
    pa.ArrowInvalid) malformed JSON, a repeated field and a value its
    type cannot hold exactly: `"2"` or `1.5` for an int64, 7 for a string."""
    # a leading `null` document kills the process inside the reader (a
    # later one reads as a row): tests/test_service.py pins both
    if body.lstrip()[:1] != b"{":
        raise pa.ArrowInvalid("JSON parse error: body is not an object")
    table = pj.read_json(
        pa.py_buffer(body),
        # one block: an object straddling two blocks fails to parse
        pj.ReadOptions(block_size=len(body)),
        pj.ParseOptions(
            schema, newlines_in_values=True, unexpected_field_behavior=others
        ),
    )
    if table.num_rows != 1:
        raise pa.ArrowInvalid(f"JSON parse error: {table.num_rows} documents")
    return table


def read_envelope(body: bytes) -> pa.Table:
    """One POST body as a one-row table typed by ENVELOPE_SCHEMA
    (BindJSON, reference src/main.go:250-255); pa.ArrowInvalid otherwise."""
    return read_json(body, ARROW_ENVELOPE_SCHEMA)


def parse_envelopes(raw_json: DataFrame, json_col: str = "value") -> DataFrame:
    """Type a column of raw JSON documents in the executors: `from_json`
    with the static ENVELOPE_SCHEMA, no inference. A document it cannot
    read as typed (a string for a number, a float for an int64, NaN or
    Infinity) gets a NULL `content`, which validation rejects. Unlike
    read_envelope it reads 7 into a string field as "7": Spark's JSON
    reader renders any scalar into a string field.
    """
    schema = T.StructType(
        ENVELOPE_SCHEMA.fields + [T.StructField(CORRUPT_RECORD, T.StringType())]
    )
    options = {
        "columnNameOfCorruptRecord": CORRUPT_RECORD,
        "allowNonNumericNumbers": "false",
    }
    return (
        raw_json.select(F.from_json(F.col(json_col), schema, options).alias("env"))
        .select("env.*")
        .withColumn(
            "content", F.when(F.col(CORRUPT_RECORD).isNull(), F.col("content"))
        )
        .drop(CORRUPT_RECORD)
    )


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

    def part(i: int) -> Column:
        # try_cast: non-matching paths yield '' which is not ANSI-castable
        return F.coalesce(F.regexp_extract("file", pat, i).try_cast("int"), F.lit(0))

    # one projection: over POST /'s LocalRelation the optimizer folds
    # each stacked projection separately, copying the whole content array
    return envelopes.withColumns(
        {
            "source": F.when(src != "", src).otherwise(F.lit("unknown")),
            "year": part(2),
            "month": part(3),
            "day": part(4),
            "hour": part(5),
            "file_key": F.md5("file"),
        }
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


def ingest_batch(envelopes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full ingest plan: typed envelopes → (normalized partitioned points,
    rejected).

    Equivalent of the reference's POST / pipeline after BindJSON through
    the parquet writer (src/main.go:256-298), minus the sink. Every sink
    runs this plan: the HTTP service on its read_envelope frame, and the
    ingest streams on parse_envelopes per micro-batch.
    """
    valid, rejected = validate_envelopes(envelopes)
    return normalize_points(explode_points(valid)), rejected


def batch_keys(envelopes: DataFrame) -> list[Row]:
    """The driver-side facts every sink needs, one row per valid
    envelope: its `file` key, `time_generated` and the `max_timestamp`
    of its points, zero-filled as normalize_points fills them. They
    exist once per envelope, so they are read from the envelopes, not
    from the exploded points. On POST /'s LocalRelation the optimizer
    folds this projection on the driver and the collect runs no Spark
    job; on a stream micro-batch it is one narrow job."""
    stamps = F.transform("content", lambda p: F.coalesce(p["Timestamp"], F.lit(0)))
    return (
        envelopes.filter(valid_envelope_predicate())
        .select(
            "file",
            F.col("timeGenerated").alias("time_generated"),
            F.array_max(stamps).alias("max_timestamp"),
        )
        .collect()
    )


def batch_stats(points: DataFrame) -> DataFrame:
    """Per-batch statistics the reference logs (src/main.go:271-286):
    row count, first/last positional timestamp, and max timestamp."""
    return points.groupBy("batch_id", "file").agg(
        F.count("*").alias("entries"),
        F.min("Timestamp").alias("first_timestamp"),
        F.max("Timestamp").alias("last_timestamp"),
        F.max("Timestamp").alias("max_timestamp"),
    )
