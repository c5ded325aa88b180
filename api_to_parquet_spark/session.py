"""SparkSession construction with scale-oriented defaults.

The same config block is intended for a real cluster: AQE handles runtime
re-planning (skew joins, partition coalescing), shuffle partitions default to
the local core count but should be sized to ~2-3x total executor cores on a
cluster.

The lake's Parquet format is set here, once, for every writer: V2 data
pages, in which parquet-mr delta-encodes int64 columns
(DELTA_BINARY_PACKED; the monotone `Timestamp` shrinks to almost nothing),
snappy chunks and 128 MB row groups, the reference writer's codec and row
group (reference src/main.go:33-34). Readers of the lake must
support DataPageV2 and DELTA_BINARY_PACKED: Spark 4.1, DuckDB 1.0 and
pyarrow 16 do; the reference's external Synapse/ADX readers are not
exercised here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PARQUET_BLOCK_SIZE = 128 * 1024 * 1024  # reference: src/main.go:33


def get_spark(
    app_name: str = "api-to-parquet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    - UTC session timezone (oracle comparisons; storage layer keeps raw
      int64 epochs anyway, per SURVEY.md §1.4).
    - AQE on: runtime shuffle-partition coalescing + skew-join handling —
      this is what makes the same plans survive a 100x scale-up.
    - Arrow enabled for the Pandas-UDF extension surface.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE picks the REAL post-shuffle partition count by coalescing
        # down from this ceiling toward advisoryPartitionSizeInBytes —
        # so small shuffles still end up at a handful of partitions,
        # while a 100x-data shuffle keeps enough reducers to stay in
        # memory instead of spilling at the old hard cap of
        # shuffle.partitions (round-13 scale probe: the repeated-ngram
        # gram shuffle spilled through 32 partitions at 100x sf0.1).
        # On a real cluster this ceiling scales with executor count.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(8 * (int(cpus) if cpus.isdigit() else 32), 256)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate derives `size(arr) > 0 AND
        # isnotnull(arr)` from every explode, and predicate pushdown
        # then inlines the full ARRAY-PRODUCING EXPRESSION into that
        # filter wherever the generator input is a computed column —
        # re-evaluating interpreted HOF pipelines once per row per
        # reference (round-15 audit: decontaminate re-built its gram
        # array twice per doc, 9.2 -> 1.5 s at sf0.1 with the rule
        # excluded; simhash_band_pairs re-sorted every bucket, 4.6 ->
        # 3.1 s; ann_lsh_topk re-computed 64 hyperplane dot products
        # per row). The generate itself already skips empty/null
        # arrays, and none of this engine's plans can push the
        # inferred predicate into a scan or join where it would prune
        # anything (size() never reaches PushedFilters), so the rule
        # is pure duplicated compute here — at ANY scale, since the
        # duplication is per input row. Oracle results are unaffected
        # (optimizer rule, not semantics); the full 318-query gate and
        # the bench run green with it excluded.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Plain keys, not `spark.hadoop.*`: Spark copies every session
        # conf into each write's Hadoop conf, while a `spark.hadoop.*`
        # key reaches it only when this builder creates the SparkContext.
        .config("parquet.block.size", str(PARQUET_BLOCK_SIZE))
        # V2 data pages: V1 pages have no delta encoding for int64
        .config("parquet.writer.version", "v2")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
