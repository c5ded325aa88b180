"""The engine under test, in a process of its own.

    python3 perfbench/engine.py <config.json>

Starts one Spark session through the package's `get_spark`, serves the
package's HTTP service (`service.make_server`) on an ephemeral localhost
port, and answers control commands: one JSON object per line on stdin,
one `@@PB <json>` line per reply on stdout. `run.py` starts it with the
checkout on PYTHONPATH, so Spark's Python workers import the package too.
"""

from __future__ import annotations

import importlib.util
import json
import math
import os
import sys
import threading
import time
import traceback

from pyspark.sql import functions as F


def reply(obj: dict) -> None:
    sys.stdout.write("@@PB " + json.dumps(obj) + "\n")
    sys.stdout.flush()


def rss_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Engine:
    """The session, the HTTP service on it, and the control commands."""

    def __init__(self, cfg: dict) -> None:
        from api_to_parquet_spark import get_spark, service

        self.cfg = cfg
        self.spark = get_spark("perfbench", shuffle_partitions=cfg["cpus"])
        self.spark.sparkContext.setLogLevel("ERROR")
        self.svc = service.LakeService(self.spark, cfg["lake_root"], cfg["state_path"])
        self.server = service.make_server(self.svc, 0)
        self.tracer = None
        if cfg["trace"]:
            import layers

            self.tracer = layers.Tracer(self.spark)
            layers.install(self.tracer, self.svc, self.server)
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        self.queries = None

    # -- commands -----------------------------------------------------

    def cmd_view(self) -> dict:
        from api_to_parquet_spark import lake

        lake.read_batch_tree(self.spark, self.svc.lake_root).createOrReplaceTempView("TelemetryData")
        return {}

    def cmd_lake(self) -> dict:
        """Per `file` key: rows, max Timestamp, Value and Quality sums."""
        from api_to_parquet_spark import lake

        rows = (
            lake.read_batch_tree(self.spark, self.svc.lake_root)
            .groupBy("file")
            .agg(
                F.count("*").alias("rows"),
                F.max("Timestamp").alias("max_ts"),
                F.sum("Value").alias("value_sum"),
                F.sum("Quality").alias("quality_sum"),
            )
            .collect()
        )
        return {"files": {r["file"]: r.asDict() for r in rows}}

    def _registry(self):
        if self.queries is None:
            spec = importlib.util.spec_from_file_location(
                "spark_entry", os.path.join(self.cfg["root"], "__spark_entry__.py")
            )
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            self.queries, self.oracles = mod.queries(), mod.oracle_sql()
        return self.queries

    def cmd_corpus_check(self, names: list[str]) -> dict:
        """Each job's rows against its DuckDB oracle, on the same files."""
        import duckdb

        qs = self._registry()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.cfg['data_dir']}/{t}.parquet')"
            )
        out = {}
        for name in names:
            self.spark.catalog.clearCache()
            got = qs[name](self.spark, self.cfg["data_dir"]).toPandas()
            want = con.execute(self.oracles[name]).df()
            out[name] = {"rows": len(got), "match": frames_match(got, want)}
        return out

    def cmd_corpus_job(self, name: str) -> dict:
        """One traced registry job to the noop sink after clearCache();
        its rows are counted by an observation on the written plan."""
        from pyspark.sql import Observation

        qs = self._registry()
        tr = self.tracer
        self.spark.catalog.clearCache()
        obs = Observation(f"rows_{name}")
        with tr.op("registry"):
            with tr.span("registry.construct"):
                df = qs[name](self.spark, self.cfg["data_dir"])
            with tr.span("registry.exec"):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        return {"rows": obs.get["n"]}

    def cmd_trace_start(self) -> dict:
        self.tracer.start_window()
        return {}

    def cmd_trace_stop(self) -> dict:
        return self.tracer.stop_window()

    def cmd_finish(self) -> dict:
        """Stop serving and the session; report the memory high-water
        mark and, when traced, the event log's per-layer sums."""
        self.server.shutdown()
        self.server.server_close()
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        rss = rss_hwm_mb(os.getpid()) + rss_hwm_mb(jvm_pid)
        self.spark.stop()
        out = {"peak_rss_mb": rss}
        if self.tracer:
            import layers

            out["events"] = layers.event_log_layers(self.cfg["event_dir"])
        return out


def _canon(v) -> str:
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        v = v.tolist() if hasattr(v, "tolist") else v
        if isinstance(v, list):
            return "[" + ",".join(_canon(x) for x in v) + "]"
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float):
        return "%.9g" % v
    return str(v)


def frames_match(got, want) -> bool:
    """Same columns and the same multiset of rows, floats compared to
    nine significant digits."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)

    def rows(frame) -> list:
        return sorted(tuple(_canon(v) for v in rec) for rec in frame[cols].itertuples(index=False))

    return rows(got) == rows(want)


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    t0 = time.perf_counter()
    engine = Engine(cfg)
    reply({"ok": True, "port": engine.server.server_address[1], "start_s": time.perf_counter() - t0})
    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg.pop("cmd")
        try:
            out = getattr(engine, "cmd_" + cmd)(**msg)
            reply({"ok": True, **out})
        except Exception:  # noqa: BLE001 - reported to run.py, which fails the run
            reply({"ok": False, "error": traceback.format_exc()[-3000:]})
        if cmd == "finish":
            break
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
