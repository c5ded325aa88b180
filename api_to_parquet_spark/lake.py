"""Partitioned Parquet lake: writer, reader, per-file overwrite semantics.

Re-expresses the reference's blob sink (/root/reference/src/main.go:300-306)
and the hive-style time-partitioned layout its README declares load-bearing
(README.md:5: `<source>/YYYY/MM/DD/HH/...parquet` "efficient lookups").

Scale notes:
- `partitionBy(source, year, month, day, hour)` + dynamic partition
  overwrite gives idempotent replay per partition; Catalyst partition
  pruning then turns time-range queries into scans of only the touched
  directories — the same property the reference delegates to Synapse
  wildcard paths (README.md:94-99).
- 128 MB row groups / snappy via session config (src/main.go:33-34).
- Per-*file* overwrite parity (re-POST same `file` ⇒ replace that file,
  README.md:88) is provided by `write_batch_files`, which writes each
  batch to its own deterministic directory keyed by the `file` path —
  the Spark-native equivalent of one-blob-per-POST.
"""

from __future__ import annotations

import posixpath
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_parquet_spark.schemas import PARTITION_COLUMNS

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def write_lake(
    points: DataFrame,
    lake_path: str,
    mode: str = "overwrite",
    cluster_by: tuple[str, ...] = ("PointId", "Timestamp"),
) -> None:
    """Write normalized points into the partitioned lake.

    With `partitionOverwriteMode=dynamic` (session default) an overwrite
    only replaces the partitions present in `points` — idempotent replay
    of a batch, no full-table rewrite.

    Rows are clustered by (PointId, Timestamp) inside each file so
    parquet row-group min/max statistics enable data skipping on the two
    dominant predicates (per-point lookups, time ranges) — the layer of
    pruning below directory partitioning. The sort key is prefixed with
    the partition columns, satisfying the file writer's required
    ordering so it does not re-sort (and un-cluster) the rows.
    """
    if cluster_by:
        points = points.sortWithinPartitions(*PARTITION_COLUMNS, *cluster_by)
    (
        points.write.mode(mode)
        .partitionBy(*PARTITION_COLUMNS)
        .parquet(lake_path)
    )


def read_lake(spark: SparkSession, lake_path: str) -> DataFrame:
    """Read the lake with partition discovery; filters on the partition
    columns prune directories before any file is opened."""
    return spark.read.parquet(lake_path)


def read_partition(
    spark: SparkSession,
    lake_path: str,
    source: str,
    year: int,
    month: int,
    day: int,
    hour: int | None = None,
) -> DataFrame:
    """Partition-pruned scan — Spark-native `OPENROWSET(BULK '.../Y/M/D/H/*')`
    (reference README.md:94-99). Expressed as filters so Catalyst prunes;
    the physical plan reads only matching directories."""
    df = read_lake(spark, lake_path).filter(
        (F.col("source") == source)
        & (F.col("year") == year)
        & (F.col("month") == month)
        & (F.col("day") == day)
    )
    if hour is not None:
        df = df.filter(F.col("hour") == hour)
    return df


def read_batch_tree(
    spark: SparkSession, lake_root: str, prefix: str = ""
) -> DataFrame:
    """Read the per-`file`-key lake written by write_batch_files. That
    tree nests one directory per POST key (`<root>/<source>/Y/M/D/H/
    <name>.parquet/part-*`), so plain partition discovery stops at the
    first level — recursive lookup globs the whole subtree. `prefix`
    narrows the scan to a source or any deeper path (directory pruning
    happens at listing time, before any footer is read)."""
    path = f"{lake_root}/{prefix}".rstrip("/")
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(path)
    )


def write_batch_files(points: DataFrame, lake_root: str) -> list[str]:
    """Exact per-file overwrite parity (ST3, reference README.md:88).

    One POST = one parquet target keyed by the envelope `file` path;
    re-sending the same key replaces the old contents. Spark controls
    file naming inside a directory, so the deterministic unit here is a
    directory per `file` key — `<lake_root>/<file>/part-*.parquet` —
    which readers treat identically to a single file (glob scan).

    The loop is over *distinct batch keys in this micro-batch* (small:
    one per POST), not over rows — each write is a distributed job.

    Intra-batch last-write-wins: a micro-batch carrying SEVERAL
    envelopes for one key keeps only the max-timeGenerated envelope's
    rows — the reference applies them as sequential POSTs
    (src/main.go:306), so the final state is the last one, never the
    union. One grouped collect finds each key's latest timeGenerated
    (a per-key partial aggregate, so the shuffle carries one row per
    key, not the batch's rows); each key's write then filters on that
    key and value and coalesces to one file. A caller that also merges
    the batch into state (the HTTP service) persists `points` first, so
    the collect, the writes and the merge all read one cached parse.
    """
    latest = points.groupBy("file").agg(F.max("time_generated")).collect()
    for key, tg in latest:
        target = posixpath.join(lake_root, key)
        (
            points.filter(
                (F.col("file") == key) & (F.col("time_generated") == tg)
            )
            .drop(*PARTITION_COLUMNS)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(target)
        )
    return [key for key, _ in latest]


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver's parquet tables as temp views for spark.sql."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's reader
    rejects ([PARQUET_TYPE_ILLEGAL]) while DuckDB/pyarrow accept."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    try:
        schema = pq.read_schema(path)
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the scan
    produced fewer splits than cores (small local files below
    maxPartitionBytes arrive as one task, serializing CPU-bound work).
    At cluster scale a large table already has more splits than cores and
    this is a no-op — the shuffle only ever happens on inputs small enough
    for it to be cheap."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Per-session plan cache for load(): a DataFrame is an immutable logical
# plan, and the testdata tables load() serves are immutable inputs, so
# re-running file listing + footer schema inference on EVERY query
# construction is pure fixed cost (~30-50 ms/table/call — measured as
# the dominant driver-side share of sub-second bench queries, round-7
# drift close-out). Keyed weakly by session so a stopped session's
# plans are never reused.
_LOAD_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing every timestamp flavor to a
    plain TIMESTAMP under a UTC session zone so downstream queries (and
    the DuckDB oracle, which reads the same naive parquet values) agree:

    - TIMESTAMP(NANOS): read as int64 nanos via the legacy conf, rebuilt
      as microsecond timestamps with exact integer division (matches
      DuckDB's ns→µs truncation).
    - TIMESTAMP_NTZ (parquet timestamp[us] with isAdjustedToUTC=false,
      Spark 4's inferTimestampNTZ default): cast to TIMESTAMP. With the
      session zone pinned to UTC the cast is value-preserving and
      epoch-extraction functions (unix_millis etc.) match DuckDB's naive
      interpretation.
    """
    from pyspark.sql.types import TimestampNTZType

    try:
        cache = _LOAD_CACHE.setdefault(spark, {})
    except TypeError:  # session type not weak-referenceable
        cache = {}
    key = (sf_dir, name)
    # Re-assert the UTC session zone on EVERY call, including cache
    # hits — callers rely on load() to enforce it, and anything that
    # flipped the zone between calls would otherwise silently skew
    # cache-hit queries (round-8 advice).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cached = cache.get(key)
    if cached is not None:
        return cached
    try:
        # Prefer reading naive parquet timestamps as TIMESTAMP directly —
        # plans then carry no cast nodes at all. The cast loop below stays
        # as the fallback for sessions where this conf is unavailable.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _nanos_timestamp_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    cache[key] = df
    return df
