"""Quickstart: the full engine loop in one script.

    python examples/quickstart.py

Ingests two JSON envelopes (the reference's POST / payload shape,
/root/reference/tests/test.http), writes the partitioned lake, updates
the state document (GET / twin), queries the lake three ways —
Spark SQL, KQL, and the README's Synapse OPENROWSET shape — then runs
the same pipeline as a Structured Streaming job.
"""

from __future__ import annotations

import json
import sys
import tempfile

import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from api_to_parquet_spark import get_spark, ingest, lake, state
from api_to_parquet_spark.queries.kql import kql, synapse_sql


def envelope(file: str, n: int, tg: int) -> str:
    return json.dumps(
        {
            "content": [
                {"PointId": f"p{i % 3}", "Timestamp": 1700000000 + i, "Value": float(i)}
                for i in range(n)
            ],
            "id": f"batch-{tg}",
            "source": "factory-1",
            "timeGenerated": tg,
            "file": file,
        }
    )


def main() -> None:
    spark = get_spark("quickstart", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="quickstart_lake_")
    state_path = tempfile.mkdtemp(prefix="quickstart_state_")

    # 1. ingest: parse -> validate -> explode -> normalize (zero-fill)
    raw = spark.createDataFrame(
        [
            (envelope("factory-1/2023/10/26/19/a.parquet", 500, 1),),
            (envelope("factory-1/2023/10/26/20/b.parquet", 300, 2),),
        ],
        ["value"],
    )
    envelopes = ingest.parse_envelopes(raw)
    points, rejected = ingest.ingest_batch(envelopes)
    print("ingested points:", points.count(), "rejected:", rejected.count())

    # 2. land in the per-POST-key lake (replay a key => overwrite) + state,
    # both driven by one row per envelope: its file key, timeGenerated and
    # max Timestamp
    keys = ingest.batch_keys(envelopes)
    lake.write_batch_files(points, keys, root)
    st = state.update_state(spark, state_path, keys)
    print("state:", dict(st.asDict()))

    # 3. query it three ways
    lake.read_batch_tree(spark, root).createOrReplaceTempView("TelemetryData")
    print("SQL   :", spark.sql("SELECT COUNT(*) AS n FROM TelemetryData").first())
    print("KQL   :", kql(spark, "TelemetryData | count").first())
    print(
        "Synapse:",
        synapse_sql(
            spark,
            "SELECT TOP 5 * FROM OPENROWSET(BULK 'https://acct.blob.core"
            ".windows.net/c/factory-1/2023/10/26/19/*.parquet',"
            " FORMAT='PARQUET') AS data",
            root,
        ).count(),
        "rows from the hour-19 wildcard",
    )

    # 4. the same pipeline as a stream (drop envelopes into a directory)
    import pathlib

    inbox = pathlib.Path(tempfile.mkdtemp(prefix="quickstart_inbox_"))
    (inbox / "b3.json").write_text(
        envelope("factory-1/2023/10/26/21/c.parquet", 200, 3) + "\n"
    )
    from api_to_parquet_spark import streaming

    stream_lake = tempfile.mkdtemp(prefix="quickstart_stream_lake_")
    q = streaming.start_ingest_stream(
        spark,
        str(inbox),
        stream_lake,
        state_path,
        checkpoint=tempfile.mkdtemp(prefix="quickstart_ckpt_"),
        available_now=True,
    )
    q.awaitTermination(120)
    print("after stream, state:", dict(state.read_state(spark, state_path).asDict()))
    print("streamed lake rows:", lake.read_lake(spark, stream_lake).count())


if __name__ == "__main__":
    main()
