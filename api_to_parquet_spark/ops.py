"""Scale operations: small-file compaction, bucketed tables for
shuffle-free joins, and skew salting.

The reference writes ONE parquet file per POST (/root/reference/
src/main.go:288-306): at 1000 req/load-test that is 1000 files
(BASELINE.md), and at 100 TB it is millions of tiny files — the classic
lake killer (every query pays per-file open + footer read; the driver
lists them all). These operators are the remedies a Spark-native lake
needs on day one.
"""

from __future__ import annotations

import math
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_parquet_spark.lake import read_partition
from api_to_parquet_spark.schemas import PARTITION_COLUMNS

TARGET_FILE_BYTES = 128 * 1024 * 1024  # align with parquet.block.size


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Recursive on-disk size of a lake subtree (works for any Hadoop
    filesystem scheme — local, HDFS, object stores)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(jpath).getLength())


class ConcurrentModificationError(RuntimeError):
    """The live partition changed while a maintenance job held a staged
    copy of it — committing would silently clobber the newer write."""


def _listing_fingerprint(spark: SparkSession, path: str) -> frozenset:
    """Recursive (path, length, mtime) set of a subtree — an optimistic-
    concurrency snapshot. Any replayed POST (new/replaced/deleted file)
    changes it."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return frozenset()
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        out.append(
            (
                st.getPath().toString(),
                int(st.getLen()),
                int(st.getModificationTime()),
            )
        )
    return frozenset(out)


def compact_partition(
    spark: SparkSession,
    lake_path: str,
    source: str,
    year: int,
    month: int,
    day: int,
    hour: int,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Rewrite one hour-partition's files into ~row-group-sized files —
    ceil(bytes / target) write tasks, at most one file per file_key
    subtree per task.

    The file_key partition level (= one POST) is PRESERVED: replaying a
    `file` key must still replace exactly that batch (README.md:88
    parity), and on plain parquet that contract is only enforceable at
    directory granularity. Collapsing across file keys needs row-level
    deletes, i.e. a transactional table format (Iceberg/Delta) — noted
    as the upgrade path, not silently broken here.

    Two-step copy through a staging directory: Spark cannot safely
    overwrite a path it is lazily reading from, so the partition is
    materialized to staging first, then written back with dynamic
    partition overwrite (which replaces exactly this partition's
    subtree).

    Optimistic concurrency vs replay: a re-POST of a `file` key in this
    partition may land BETWEEN the staging copy and the overwrite —
    committing the stale staged copy would silently undo it (lost
    update). The live subtree's listing is fingerprinted after staging
    and re-checked immediately before the overwrite; a change aborts
    with ConcurrentModificationError, leaving the (newer) live data
    untouched — the caller retries. The window between check and commit
    is the residual race, same as every optimistic scheme on plain
    parquet; closing it fully needs the manifest layer (snapshots.py)
    or a transactional table format.

    Returns the number of coalesced write tasks.
    """
    part_dir = (
        f"{lake_path}/source={source}/year={year}/month={month}"
        f"/day={day}/hour={hour}"
    )
    part = read_partition(spark, lake_path, source, year, month, day, hour)
    n_bytes = _dir_bytes(spark, part_dir)
    n_files = max(1, math.ceil(n_bytes / target_file_bytes))
    staging = tempfile.mkdtemp(prefix="compact_")
    try:
        # fingerprint BEFORE the staging copy: a replay landing while
        # staging reads the live files is detected too, not just one in
        # the staging→commit gap.
        snapshot = _listing_fingerprint(spark, part_dir)
        part.write.mode("overwrite").parquet(staging)
        staged = spark.read.parquet(staging)
        # re-attach the partition columns pruned into the directory path
        for col, val in zip(
            PARTITION_COLUMNS, [source, year, month, day, hour], strict=False
        ):
            if col not in staged.columns:
                staged = staged.withColumn(col, F.lit(val))
        plan = staged.coalesce(n_files)
        if _listing_fingerprint(spark, part_dir) != snapshot:
            raise ConcurrentModificationError(
                f"partition {part_dir} changed during compaction; aborting"
            )
        (
            plan.write.mode("overwrite")
            .partitionBy(*PARTITION_COLUMNS)
            .parquet(lake_path)
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return n_files


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str,
) -> None:
    """Persist a table bucketed (and sorted) by the join key: two tables
    bucketed the same way join with ZERO shuffle — each task reads
    matching bucket files from both sides. At 100 TB this converts the
    biggest recurring fact-fact join from a full shuffle into a local
    merge per bucket."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table_name)
    )


def partition_stats(spark: SparkSession, lake_path: str) -> DataFrame:
    """Lake health report: rows, files, and bytes per partition — the
    input to compaction decisions (files ≫ rows/128 MB ⇒ fragmented).
    One metadata-cheap pass: rows and file counts come from grouping the
    scan by (partition cols, input_file_name); bytes per file from the
    filesystem listing, joined in (file counts are small)."""
    import posixpath

    df = spark.read.parquet(lake_path).withColumn(
        "_file", F.input_file_name()
    )
    per_file = df.groupBy(*PARTITION_COLUMNS, "_file").agg(
        F.count("*").alias("rows")
    )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(lake_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    sizes = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if p.endswith(".parquet"):
            sizes.append((posixpath.basename(p), int(st.getLen())))
    size_df = spark.createDataFrame(sizes, "fname STRING, bytes LONG")
    per_file = per_file.withColumn(
        "fname", F.element_at(F.split("_file", "/"), -1)
    ).join(size_df, "fname", "left")
    return per_file.groupBy(*PARTITION_COLUMNS).agg(
        F.sum("rows").alias("n_rows"),
        F.count("*").alias("n_files"),
        F.sum("bytes").alias("n_bytes"),
    )


def delete_rows(
    spark: SparkSession,
    lake_path: str,
    predicate: F.Column,
    touch_partitions: F.Column | None = None,
) -> int:
    """Row-level delete on a plain-parquet lake (GDPR erasure, bad-batch
    surgery): rewrite ONLY the partitions that contain matching rows,
    dropping those rows; untouched partitions' files are never opened
    for write. `touch_partitions` optionally narrows the search scan
    (e.g. a time-range bound when the caller knows the blast radius) —
    partition pruning applies to the find phase too.

    Plain parquet has no row-level transaction log, so this is the
    honest mechanism: find affected partitions (one pruned scan), then
    per-partition staging rewrite with dynamic partition overwrite —
    the same replace-exactly-this-subtree contract compact_partition
    uses. A transactional format (Delta/Iceberg deletion vectors) is
    the documented upgrade when deletes are frequent. Returns the
    number of rows deleted."""
    df = spark.read.parquet(lake_path)
    scan = df.filter(touch_partitions) if touch_partitions is not None else df
    affected = (
        scan.filter(predicate).select(*PARTITION_COLUMNS).distinct().collect()
    )
    if not affected:
        return 0
    part_filter = None
    for r in affected:
        clause = None
        for c in PARTITION_COLUMNS:
            eq = F.col(c) == r[c]
            clause = eq if clause is None else (clause & eq)
        part_filter = clause if part_filter is None else (part_filter | clause)
    victims = df.filter(part_filter)
    n_deleted = victims.filter(predicate).count()
    survivors = victims.filter(~predicate)
    n_survivors = survivors.count()
    staging = tempfile.mkdtemp(prefix="delete_")
    try:
        kept: set = set()
        if n_survivors:
            survivors.write.mode("overwrite").parquet(staging)
            staged = spark.read.parquet(staging)
            kept = {
                tuple(r[c] for c in PARTITION_COLUMNS)
                for r in staged.select(*PARTITION_COLUMNS).distinct().collect()
            }
        if kept:
            (
                staged.write.mode("overwrite")
                .partitionBy(*PARTITION_COLUMNS)
                .parquet(lake_path)
            )
        # dynamic overwrite only replaces partitions PRESENT in staged —
        # a partition whose every row matched must be removed directly
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(lake_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        root = jvm.org.apache.hadoop.fs.Path(lake_path)
        for r in affected:
            key = tuple(r[c] for c in PARTITION_COLUMNS)
            if key not in kept:
                sub = "/".join(
                    f"{c}={r[c]}" for c in PARTITION_COLUMNS
                )
                leaf = jvm.org.apache.hadoop.fs.Path(f"{lake_path}/{sub}")
                fs.delete(leaf, True)
                # prune now-empty ancestors up to the lake root
                parent = leaf.getParent()
                while (
                    parent is not None
                    and str(parent) != str(root)
                    and fs.exists(parent)
                    and len(fs.listStatus(parent)) == 0
                ):
                    fs.delete(parent, False)
                    parent = parent.getParent()
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return n_deleted


def upsert_rows(
    spark: SparkSession,
    lake_path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> None:
    """Row-level MERGE into a plain-parquet lake: rows in `updates`
    replace existing rows with the same key (and insert otherwise),
    touching only the partitions the updates land in. `updates` must
    carry the partition columns (ingest.explode_points derives them).

    Mechanism mirrors delete_rows: affected partitions = distinct
    partition tuples in `updates` (driver-side, small); merged content =
    old rows anti-joined on key + all updates; staging rewrite with
    dynamic partition overwrite replaces exactly those subtrees. The
    whole merge costs one read+write of the touched partitions — the
    plain-parquet floor; frequent fine-grained upserts are the cue to
    move to Delta/Iceberg MERGE (documented upgrade path)."""
    affected = updates.select(*PARTITION_COLUMNS).distinct().collect()
    if not affected:
        return
    part_filter = None
    for r in affected:
        clause = None
        for c in PARTITION_COLUMNS:
            eq = F.col(c) == r[c]
            clause = eq if clause is None else (clause & eq)
        part_filter = clause if part_filter is None else (part_filter | clause)
    try:
        old = spark.read.parquet(lake_path).filter(part_filter)
        merged = old.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        ).unionByName(updates.select(*old.columns))
    except Exception:  # first write into an empty/new lake
        merged = updates
    staging = tempfile.mkdtemp(prefix="upsert_")
    try:
        merged.write.mode("overwrite").parquet(staging)
        (
            spark.read.parquet(staging)
            .write.mode("overwrite")
            .partitionBy(*PARTITION_COLUMNS)
            .parquet(lake_path)
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def diff_snapshots(
    old: DataFrame, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Change-data capture between two table snapshots: one row per
    changed key with change_type ∈ {inserted, deleted, updated} and the
    old/new row images as structs — the diff that feeds incremental
    downstream refreshes when the source has no CDC log (the reference's
    lake is exactly that). One full-outer join on the key; unchanged
    rows (null-safe struct equality) are dropped."""
    val_cols = [c for c in old.columns if c not in key_cols]
    o = old.select(
        *key_cols, F.struct(*val_cols).alias("_old")
    )
    n = new.select(
        *key_cols, F.struct(*val_cols).alias("_new")
    )
    joined = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_old").isNull(), "inserted")
        .when(F.col("_new").isNull(), "deleted")
        .when(~F.col("_old").eqNullSafe(F.col("_new")), "updated")
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *key_cols,
            "change_type",
            F.col("_old").alias("old_row"),
            F.col("_new").alias("new_row"),
        )
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str = "effective_ts",
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge, pure DataFrame (no
    transactional format needed): history rows carry
    (valid_from, valid_to); the current version has valid_to IS NULL.
    An update whose attributes differ CLOSES the current row
    (valid_to = update ts) and appends a new current row; unchanged
    updates are no-ops; brand-new keys insert. Returns the full new
    dimension table — write it back with an overwrite (dims are small
    relative to facts; at 100 TB dims this becomes Delta MERGE).

    One join on the key + one anti-join-free union: closed rows, new
    versions, and untouched history are built from the same joined
    intermediate, so the update set is scanned once."""
    upd = updates.select(
        *key_cols,
        *[F.col(c).alias(f"_new_{c}") for c in attr_cols],
        F.col(ts_col).alias("_new_ts"),
    )
    cur = current.filter(F.col("valid_to").isNull())
    hist = current.filter(F.col("valid_to").isNotNull())
    joined = cur.join(upd, key_cols, "full_outer")
    changed = joined.filter(
        F.col("_new_ts").isNotNull()
        & F.col("valid_from").isNotNull()
        & ~F.struct(*[F.col(c) for c in attr_cols]).eqNullSafe(
            F.struct(*[F.col(f"_new_{c}") for c in attr_cols])
        )
    )
    closed = changed.select(
        *key_cols,
        *attr_cols,
        "valid_from",
        F.col("_new_ts").alias("valid_to"),
    )
    new_versions = joined.filter(
        F.col("_new_ts").isNotNull()
        & (
            F.col("valid_from").isNull()  # brand-new key
            | ~F.struct(*[F.col(c) for c in attr_cols]).eqNullSafe(
                F.struct(*[F.col(f"_new_{c}") for c in attr_cols])
            )
        )
    ).select(
        *key_cols,
        *[F.col(f"_new_{c}").alias(c) for c in attr_cols],
        F.col("_new_ts").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    untouched_current = joined.filter(
        F.col("valid_from").isNotNull()
        & (
            F.col("_new_ts").isNull()
            | F.struct(*[F.col(c) for c in attr_cols]).eqNullSafe(
                F.struct(*[F.col(f"_new_{c}") for c in attr_cols])
            )
        )
    ).select(*key_cols, *attr_cols, "valid_from", F.lit(None).cast("timestamp").alias("valid_to"))
    return hist.select(
        *key_cols, *attr_cols, "valid_from", "valid_to"
    ).unionByName(closed).unionByName(new_versions).unionByName(
        untouched_current
    )


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 8
) -> DataFrame:
    """Append a Morton (Z-order) key `_z` interleaving the bit patterns of
    the given numeric columns, each first rank-scaled to [0, 2^bits) with
    EQUI-DEPTH buckets (approxQuantile boundaries + JVM binary-search
    Bucketizer), so skewed value distributions still spread uniformly
    along the curve — plain min/max scaling would collapse a heavy-tailed
    column into a few codes and un-interleave the curve.

    Everything stays JVM-side: boundary estimation is one sampled
    aggregate (driver holds 2^bits doubles per column), bucket assignment
    is a binary search per row, and the bit interleave is a static tree of
    shift/and/or expressions inside whole-stage codegen.
    """
    from pyspark.ml.feature import Bucketizer

    n_buckets = 1 << bits
    out = df
    scaled_cols = []
    for c in cols:
        dcol = f"_zd_{c}"
        scol = f"_zs_{c}"
        out = out.withColumn(dcol, F.col(c).cast("double"))
        qs = out.stat.approxQuantile(
            dcol, [i / n_buckets for i in range(1, n_buckets)], 0.001
        )
        splits = sorted(set(qs))
        buck = Bucketizer(
            splits=[float("-inf"), *splits, float("inf")],
            inputCol=dcol,
            outputCol=scol,
            handleInvalid="keep",  # nulls/NaN land in the top bucket
        )
        # Stretch codes over the FULL [0, 2^bits) range: a low-cardinality
        # column (fewer distinct boundaries than buckets) must still reach
        # the high-order interleaved bit positions, or it contributes
        # nothing to the curve's coarse (file-boundary) ordering.
        n_actual = len(splits) + 1
        out = buck.transform(out).withColumn(
            scol,
            F.least(
                (F.col(scol) * n_buckets / n_actual).cast("long"),
                F.lit(n_buckets - 1),
            ),
        )
        scaled_cols.append(scol)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, scol in enumerate(scaled_cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col(scol), i).bitwiseAND(F.lit(1)),
                    i * len(cols) + j,
                )
            )
    return out.withColumn("_z", z).drop(
        *[f"_zd_{c}" for c in cols], *scaled_cols
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    n_files: int = 8,
) -> None:
    """Write `df` as parquet clustered along a Z-order curve over `cols`:
    range-partition on the Morton key (sampled boundaries — no global
    sort) and sort within each partition, so EVERY clustered column gets
    tight per-file and per-row-group min/max statistics. A single-column
    sort gives perfect skipping on that column and none on the others;
    Z-ordering trades a little of each for skipping on all of them —
    the standard layout for multi-predicate scan-heavy tables (the
    `(PointId, Timestamp)` lake analogue when queries filter either key).

    At scale: `repartitionByRange` samples O(partitions) keys on the
    driver; choose n_files ≈ bytes / 128 MB so files align with row
    groups. Plain parquet rewrite — pair with `compact_partition`'s
    staging pattern when overwriting a live path."""
    (
        zorder_key(df, cols, bits)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    agg_specs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed grouping keys: partial aggregate
    on (key, salt) spreads one hot key over n_salts reducers, then a
    final (cheap — one row per key per salt) aggregate merges. Only
    re-aggregable functions allowed (sum/count/min/max). AQE rebalances
    skewed *joins* automatically but not skewed aggregation keys — this
    is the manual remedy.
    """
    mergers = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    firsts = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for fn in agg_specs.values():
        if fn not in mergers:
            raise ValueError(f"{fn} is not re-aggregable; use sum/count/min/max")
    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(
        *[
            firsts[fn](c).alias(f"_p_{c}_{fn}")
            for c, fn in agg_specs.items()
        ]
    )
    return partial.groupBy(*key_cols).agg(
        *[
            mergers[fn](f"_p_{c}_{fn}").alias(f"{fn}_{c}")
            for c, fn in agg_specs.items()
        ]
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: the skewed side gets a random salt in
    [0, n_salts); the small side is replicated n_salts times. A hot key's
    rows then land on n_salts different reducers instead of one. Use when
    the small side is too big to broadcast but a handful of keys dominate
    the skewed side; otherwise prefer broadcast or AQE's skew-join."""
    salted_l = skewed.withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    salted_r = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_l.join(salted_r, [*on, "_salt"]).drop("_salt")
