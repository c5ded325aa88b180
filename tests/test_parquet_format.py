"""The lake's Parquet page format: V2 data pages, whose delta encoding
packs the monotone int64 `Timestamp`, under the reference's snappy
codec (src/main.go:34), set once in `session.get_spark` for every
writer and every session it returns, and read back alike by Spark,
DuckDB and pyarrow."""

from __future__ import annotations

import glob
import json
import math
import os
import random
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from api_to_parquet_spark import ingest, lake, service, snapshots

N_POINTS = 1000
KEY = "plant-7/2024/03/05/11/enc.parquet"


def _body() -> bytes:
    rng = random.Random(7)
    t0 = 1_709_636_400_000
    content = [
        {
            "Timestamp": t0 + 1000 * i,
            "TimeOffsetHours": 1,
            "PointId": f"pt-{i % 20:03d}",
            "Sequence": i,
            "Project": "enc",
            "Value": rng.random() * 100.0,
            "Res": "ok",
            "Quality": rng.randrange(0, 101),
        }
        for i in range(N_POINTS)
    ]
    return json.dumps(
        {
            "content": content,
            "id": "enc-1",
            "source": "plant-7",
            "timeGenerated": 1_709_636_500_000,
            "file": KEY,
        }
    ).encode()


def _column_chunks(files: list[str]):
    """(file, column name, ColumnChunkMetaData) for every chunk."""
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                chunk = rg.column(c)
                yield f, chunk.path_in_schema, chunk


def _assert_lake_format(files: list[str]) -> None:
    assert files
    seen = set()
    for f, name, chunk in _column_chunks(files):
        assert chunk.compression == "SNAPPY", (f, name, chunk.compression)
        if name == "Timestamp":
            assert "DELTA_BINARY_PACKED" in chunk.encodings, (f, chunk.encodings)
        if name == "PointId":
            assert "RLE_DICTIONARY" in chunk.encodings, (f, chunk.encodings)
        seen.add(name)
    assert {"Timestamp", "PointId", "Value", "Quality"} <= seen


def _spark_totals(df) -> tuple:
    row = df.agg(
        F.count(F.lit(1)), F.sum("Quality"), F.max("Timestamp"), F.sum("Value")
    ).first()
    return tuple(row)


def _duckdb_totals(files: list[str]) -> tuple:
    return duckdb.sql(
        "SELECT count(*), sum(Quality)::BIGINT, max(Timestamp), sum(Value) "
        f"FROM read_parquet({files!r})"
    ).fetchone()


def _pyarrow_totals(files: list[str]) -> tuple:
    t = pa.concat_tables(
        pq.read_table(f, columns=["Timestamp", "Value", "Quality"]) for f in files
    )
    return (
        t.num_rows,
        pc.sum(t["Quality"]).as_py(),
        pc.max(t["Timestamp"]).as_py(),
        pc.sum(t["Value"]).as_py(),
    )


def _files(root: str) -> list[str]:
    # POST /'s key directories are named `<name>.parquet` too
    found = glob.glob(os.path.join(root, "**", "part-*.parquet"), recursive=True)
    return sorted(f for f in found if os.path.isfile(f))


def test_every_writer_delta_encodes_timestamp(spark, tmp_path):
    """One envelope through POST /'s handler, `lake.write_lake` and
    `snapshots.commit_batch`: each file has a DELTA_BINARY_PACKED
    `Timestamp`, a dictionary-encoded `PointId` and snappy chunks, and
    the package reader, DuckDB and pyarrow read the same rows back."""
    body = _body()
    sent = json.loads(body)["content"]
    expected = (
        N_POINTS,
        sum(p["Quality"] for p in sent),
        max(p["Timestamp"] for p in sent),
        math.fsum(p["Value"] for p in sent),
    )

    batch_root = str(tmp_path / "batch")
    svc = service.LakeService(spark, batch_root, str(tmp_path / "state"))
    status, reply = svc.ingest_envelope(body)
    assert status == 200, reply

    envelopes = spark.createDataFrame(ingest.read_envelope(body))
    points, _ = ingest.ingest_batch(envelopes)
    lake_root = str(tmp_path / "lake")
    lake.write_lake(points, lake_root)
    snap_root = str(tmp_path / "snap")
    snapshots.commit_batch(spark, snap_root, points, ingest.batch_keys(envelopes))

    written = {
        "write_batch_files": (batch_root, lake.read_batch_tree(spark, batch_root)),
        "write_lake": (lake_root, lake.read_lake(spark, lake_root)),
        "commit_batch": (snap_root, snapshots.read_snapshot(spark, snap_root)),
    }
    for writer, (root, df) in written.items():
        files = _files(root)
        _assert_lake_format(files)
        for reader, got in (
            ("spark", _spark_totals(df)),
            ("duckdb", _duckdb_totals(files)),
            ("pyarrow", _pyarrow_totals(files)),
        ):
            assert got[:3] == expected[:3], (writer, reader, got, expected)
            assert abs(got[3] - expected[3]) <= 1e-9, (writer, reader, got, expected)


def test_attached_session_keeps_the_lake_format(tmp_path):
    """`get_spark` on a process whose SparkSession already exists (built
    without the engine's options) still sets the lake's Parquet keys for
    its writes: the session's Hadoop conf carries them, and a written
    file's `Timestamp` chunk is DELTA_BINARY_PACKED. Run in a child
    process, so the attached session is not the suite's."""
    child = (
        "import sys\n"
        "from pyspark.sql import SparkSession\n"
        "pre = SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "from api_to_parquet_spark import get_spark\n"
        "spark = get_spark('attached', shuffle_partitions=1)\n"
        "assert spark is pre\n"
        "conf = spark._jsparkSession.sessionState().newHadoopConf()\n"
        "print(conf.get('parquet.writer.version'))\n"
        "print(conf.get('parquet.block.size'))\n"
        "spark.range(1000).selectExpr('1709636400000 + 1000 * id AS Timestamp')"
        ".coalesce(1).write.parquet(sys.argv[1])\n"
        "spark.stop()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = str(tmp_path / "out")
    out = subprocess.run(
        [sys.executable, "-c", child, out_dir],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=300,
    )
    assert out.returncode == 0, (out.returncode, out.stdout, out.stderr[-2000:])
    assert out.stdout.split() == ["v2", str(128 * 1024 * 1024)]
    files = _files(out_dir)
    assert files
    for f, name, chunk in _column_chunks(files):
        assert name == "Timestamp"
        assert "DELTA_BINARY_PACKED" in chunk.encodings, (f, chunk.encodings)
        assert chunk.compression == "SNAPPY", (f, chunk.compression)
