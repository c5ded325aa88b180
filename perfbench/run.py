"""Service benchmark of the api_to_parquet_spark engine.

    python3 perfbench/run.py --workload {ingest,query} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The engine runs in a process of its own
(`engine.py`: one Spark session plus the package's HTTP service); this
process generates the seeded inputs before timing starts, drives the
closed-loop clients, checks every answer outside the timed window and
prints one JSON object as the last line of stdout. With `--trace 0` it
reports the end-to-end metrics, with `--trace 1` the per-layer ones
(`layers.py`). The metric and workload definitions are in
`BENCHMARK.json` at the checkout root and in `perfbench/LAYERS.md`.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

CPUS = min(4, os.cpu_count() or 1)
CLIENTS = 2  # closed-loop clients of each workload
# untimed blocks of the query mix before its window. The latency of every
# shape falls by up to half over the first six blocks, while the JVM
# compiles Catalyst's hot paths. Three blocks take the steepest part of
# that out of the window; six would add about 10 s to every run's set-up.
# One client per core sends them, sooner done than with two clients.
QUERY_WARM_BLOCKS = 3
CORPUS_JOBS = ["corpus_pipeline", "semantic_dedup", "dedup_keep_best", "simhash_band_pairs", "minhash_lsh_pairs"]
HARD_LIMIT_S = 150  # the engine is killed if a run is still going after this
REAP_GRACE_S = 15  # how long the engine's descendants get to end by themselves
END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s", "lake_bytes_per_row": "bytes"}
PER_LAYER = {
    "service.self_s": "s", "service.lock_wait_s": "s",
    "service.bytes_in": "bytes", "service.bytes_out": "bytes",
    "ingest.ingest_batch_s": "s",
    "lake.write_batch_files_s": "s", "lake.write_batch_files.jobs": "count",
    "lake.files_written": "count", "lake.bytes_written": "bytes",
    "state.update_state_s": "s", "state.update_state.jobs": "count", "state.read_state_s": "s",
    "kql.translate_s": "s", "kql.kql_s": "s", "kql.translations_per_query": "count",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
    "spark.codegen_compiles": "count", "spark.codegen_ms": "ms", "spark.collect_s": "s",
    "registry.construct_s": "s", "registry.construct_jobs": "count", "registry.exec_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "engine.peak_rss_mb": "MB", "trace.ops": "count", "trace.latency_p50_s": "s", "trace.throughput": "1/s",
}


class EngineError(RuntimeError):
    pass


class Engine:
    """The engine process and its control channel."""

    def __init__(self, root: str, work: str, trace: bool) -> None:
        self.work = work
        tmp = os.path.join(work, "tmp")
        events = os.path.join(work, "events")
        for d in (tmp, events):
            os.makedirs(d)
        self.cfg = {
            "root": root, "trace": trace, "cpus": CPUS,
            "lake_root": os.path.join(work, "lake"), "state_path": os.path.join(work, "state"),
            "data_dir": os.path.join(work, "data"), "event_dir": events,
        }
        cfg_path = os.path.join(work, "engine.json")
        with open(cfg_path, "w") as f:
            json.dump(self.cfg, f)
        submit = [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        ]
        if trace:
            submit += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{events}",
                "--conf", "spark.eventLog.compress=false",
            ]
        env = dict(os.environ)
        env.update(
            # the workers import the package too (Arrow UDFs)
            PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
            PYSPARK_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(CPUS),
            SPARK_DRIVER_MEMORY="2g",
            SPARK_LOCAL_DIRS=tmp,
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # no /tmp/hsperfdata
            TMPDIR=tmp,
            PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
        )
        self.log = open(os.path.join(work, "engine.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), cfg_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=work, env=env, text=True,
        )
        self.killer = threading.Timer(HARD_LIMIT_S, self.proc.kill)
        self.killer.daemon = True
        self.killer.start()
        self.trace = trace
        self.spawned = time.perf_counter()
        # the ready line is read in the background, so that input
        # generation overlaps the engine's start
        self._ready: dict = {}
        self._waiter = threading.Thread(target=self._wait_ready)
        self._waiter.start()

    def _wait_ready(self) -> None:
        try:
            self._ready.update(self.read())
        except EngineError as exc:
            self._ready["error"] = str(exc)

    def ready(self) -> int:
        """Wait for the engine; the service's port."""
        self._waiter.join()
        if "error" in self._ready:
            raise EngineError(self._ready["error"])
        return self._ready["port"]

    def read(self) -> dict:
        for line in self.proc.stdout:
            if line.startswith("@@PB "):
                msg = json.loads(line[5:])
                if not msg.pop("ok"):
                    raise EngineError(msg["error"])
                return msg
        raise EngineError("engine exited:\n" + self.log_tail())

    def call(self, cmd: str, **args) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **args}) + "\n")
        self.proc.stdin.flush()
        return self.read()

    def log_tail(self) -> str:
        self.log.flush()
        with open(self.log.name) as f:
            return f.read()[-3000:]

    def close(self) -> None:
        self.killer.cancel()
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


def http_post(port: int, path: str, body: bytes) -> tuple[int, bytes, float]:
    """One request on a fresh connection: status, body, latency in s from
    send to the full response."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=150)
    t0 = time.perf_counter()
    try:
        conn.request("POST", path, body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, data, time.perf_counter() - t0
    except (OSError, http.client.HTTPException) as exc:  # a failed request, counted as such
        return 0, repr(exc).encode(), time.perf_counter() - t0
    finally:
        conn.close()


def http_get(port: int, path: str) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", path)
        return json.loads(conn.getresponse().read())
    finally:
        conn.close()


def proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Every live process: its children by parent pid, and its user +
    system CPU ticks."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has just exited
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = int(fields[11]) + int(fields[12])
    return children, ticks


def descendants(pid: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process and all its descendants
    (the engine's Python, its JVM and Spark's Python workers)."""
    children, ticks = proc_table()
    return sum(ticks.get(p, 0) for p in [pid] + descendants(pid, children)) / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process rather than
    to init: the engine's JVM outlives the engine's Python by a moment,
    and Spark's Python daemon sits in a process group of its own, so
    only as their reaper can this process wait for every one of them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_all(grace_s: float) -> None:
    """Wait until every descendant has ended; those still running after
    `grace_s` seconds are killed."""
    deadline = time.perf_counter() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # none left
            return
        if pid:
            continue
        if time.perf_counter() > deadline:
            for p in descendants(os.getpid(), proc_table()[0]):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def parquet_bytes(root: str) -> int:
    """Bytes of the Parquet files under `root`: what the lake costs to keep."""
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def little(latencies: list[float]) -> float:
    """Operations per second of the closed loop: CLIENTS requests are
    always in flight, so by Little's law it is CLIENTS over the mean
    latency. Unlike completions per window, this does not swing with
    where the last few long requests fall against the window's end."""
    return CLIENTS * len(latencies) / sum(latencies)


def in_threads(fn, items) -> None:
    """Run `fn(item)` for every item at once, one thread each."""
    threads = [threading.Thread(target=fn, args=(i,)) for i in items]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def closed_loop(clients: int, step) -> None:
    """Run `step(client)` in `clients` threads until it returns False;
    each client waits for its reply before sending again. Returns when
    the last client's last reply is in."""

    def loop(c: int) -> None:
        while step(c):
            pass

    in_threads(loop, range(clients))


def until(seconds: float):
    deadline = time.perf_counter() + seconds
    return lambda: time.perf_counter() < deadline


class Run:
    """What one run measured, and the report made of it."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []
        self.throughput = 0.0
        self.setup_s = 0.0
        self.peak_rss_mb = 0.0
        self.bytes_in = 0
        self.bytes_out = 0
        self.bytes_per_row = 0.0
        self.rows = 0
        self.cpu_s = 0.0
        self.trace: dict = {}
        self.registry: dict = {}
        self.events: dict = {}
        self.notes: list[str] = []
        self._lock = threading.Lock()

    def record(
        self, ok: bool, latency: float | None = None, bytes_in: int = 0, bytes_out: int = 0, rows: int = 0
    ) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += not ok
            if latency is not None:
                self.latencies.append(latency)
                self.bytes_in += bytes_in
                self.bytes_out += bytes_out
                self.rows += rows

    def fail(self, why: str, n: int = 1) -> None:
        self.failed += n
        self.attempted += n
        self.notes.append(why)

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_s,
            "cpu_s_per_op": self.cpu_s / len(self.latencies),
            "lake_bytes_per_row": self.bytes_per_row,
        }

    def per_layer(self) -> dict:
        """Per traced operation: span sums from the tracer, job and task
        sums from the event log, request bytes from the clients. The
        registry's metrics are per corpus job of the registry pass."""
        t, e, r = self.trace, self.events, self.registry
        sums = {**t, **e, "service.bytes_in": self.bytes_in, "service.bytes_out": self.bytes_out}
        ops = max(t.get("ops", 0), 1)
        out = {name: sums.get(name, 0.0) / ops for name in PER_LAYER}
        jobs = max(r.get("ops", 0), 1)
        out.update({
            "registry.construct_s": r.get("registry.construct_s", 0.0) / jobs,
            "registry.construct_jobs": e.get("registry.construct.jobs", 0) / jobs,
            "registry.exec_s": r.get("registry.exec_s", 0.0) / jobs,
            "engine.peak_rss_mb": self.peak_rss_mb,
            "kql.translations_per_query": t.get("kql.translations", 0) / max(t.get("kql.kql.calls", 0), 1),
            "trace.ops": t.get("ops", 0),
            "trace.latency_p50_s": stats.median(self.latencies),
            "trace.throughput": self.throughput,
        })
        return out


# ------------------------------------------------------------- workloads


def run_ingest(eng: Engine, seed: int, seconds: float, run: Run) -> None:
    plan = workloads.IngestPlan(seed, CLIENTS)
    port = eng.ready()
    acked: list[list[workloads.Post]] = [[] for _ in plan.posts]
    timed = [False]

    def send(c: int, post: workloads.Post) -> None:
        body = plan.body(post)
        status, data, lat = http_post(port, "/", body)
        ok = status == 200
        if ok:
            resp = json.loads(data)
            ok = (
                resp.get("id") == post.batch_id
                and resp.get("timeGenerated") == post.time_generated
                and resp.get("maxTimestamp", 0) >= int(plan.contents[post.content].ts.max())
            )
            acked[c].append(post)
        if timed[0]:
            run.record(ok, lat, len(body), len(data), plan.contents[post.content].rows if ok else 0)
        else:
            run.record(ok)

    # warm-up: a small POST per client, concurrently (JIT, codegen, writers)
    in_threads(lambda c: send(c, plan.warm[c]), range(CLIENTS))
    run.setup_s = time.perf_counter() - eng.spawned
    if eng.trace:
        eng.call("trace_start")
    timed[0] = True
    more = until(seconds)
    cpu = tree_cpu_s(eng.proc.pid)
    t0 = time.perf_counter()
    # whole rounds: every client POSTs at once, and the next round starts
    # when all replies are in. A POST takes about as long as a 10 s
    # window, so a window that ended mid-round would time one POST in
    # some runs and two in others.
    r = 0
    while more():
        in_threads(lambda c, r=r: send(c, plan.posts[c][r]), range(CLIENTS))
        r += 1
    window = time.perf_counter() - t0
    run.cpu_s = tree_cpu_s(eng.proc.pid) - cpu
    timed[0] = False
    if eng.trace:
        run.trace = eng.call("trace_stop")
    run.throughput = run.rows / window
    # outside the timed window: the lake and the state against the acks
    expected = plan.expected_lake(acked)
    lake = eng.call("lake")
    bad = workloads.lake_mismatches(expected, lake["files"])
    if bad:
        run.fail(f"lake rows differ from the last acknowledged POST for {len(bad)} keys", len(bad))
    st = http_get(port, "/")
    tgs = {p.time_generated for ps in acked for p in ps}
    if st.get("maxTimestamp") != plan.max_timestamp(acked) or st.get("lastTimeGenerated") not in tgs:
        run.fail(f"state {st} does not match the acknowledged POSTs")
    run.bytes_per_row = parquet_bytes(eng.cfg["lake_root"]) / max(sum(e["rows"] for e in expected.values()), 1)


def run_query(eng: Engine, seed: int, seconds: float, run: Run) -> None:
    plan = workloads.QueryPlan(seed)
    if eng.trace:
        write_corpus(eng.cfg["data_dir"], seed)
    port = eng.ready()
    # the lake is written by the service's own write path: POST /
    in_threads(lambda env: run.record(http_post(port, "/", env)[0] == 200), plan.envelopes)
    eng.call("view")
    answers: list[tuple[workloads.Query, int, bytes]] = []
    shapes: dict[str, list[float]] = {}
    lock = threading.Lock()
    nxt = [0]
    timed = [False]

    def send(q: workloads.Query) -> None:
        body = json.dumps({"db": "Telemetry", "csl": q.text}).encode()
        status, data, lat = http_post(port, "/query", body)
        with lock:
            answers.append((q, status, data))
            if timed[0]:
                shapes.setdefault(q.kind, []).append(lat)
        run.record(True, lat if timed[0] else None, len(body), len(data))

    def blocks(more):
        """A client step that stops at the first block boundary after
        `more()` turns false, so every shape is sent equally often."""

        def step(c: int) -> bool:
            with lock:
                if nxt[0] % plan.block == 0 and not more():
                    return False
                q = plan.requests[nxt[0] % len(plan.requests)]
                nxt[0] += 1
            send(q)
            return True

        return step

    closed_loop(CPUS, blocks(lambda: nxt[0] < QUERY_WARM_BLOCKS * plan.block))
    run.setup_s = time.perf_counter() - eng.spawned
    if eng.trace:
        eng.call("trace_start")
    timed[0] = True
    cpu = tree_cpu_s(eng.proc.pid)
    closed_loop(CLIENTS, blocks(until(seconds)))
    run.cpu_s = tree_cpu_s(eng.proc.pid) - cpu
    timed[0] = False
    if eng.trace:
        run.trace = eng.call("trace_stop")
    run.throughput = little(run.latencies)
    run.notes.append("median latency by shape: " + ", ".join(
        f"{k} {stats.median(v):.3f} s ({len(v)})" for k, v in sorted(shapes.items())))
    # outside the timed window: every answer against its setup answer
    wrong = 0
    for q, status, data in answers:
        try:
            ok = status == 200 and workloads.check_response(q, json.loads(data)["Tables"][0])
        except (KeyError, ValueError, IndexError, TypeError):
            ok = False
        if not ok:
            wrong += 1
            if wrong <= 3:
                run.notes.append(f"wrong answer to {q.kind}: {status} {data[:300]!r}")
    run.failed += wrong
    run.bytes_per_row = parquet_bytes(eng.cfg["lake_root"]) / len(plan.ts)
    if eng.trace:
        run_registry(eng, run)


def write_corpus(data_dir: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(data_dir)
    tables = workloads.corpus_tables(seed)
    docs = tables["documents"]
    pq.write_table(pa.table(docs), os.path.join(data_dir, "documents.parquet"))
    emb = tables["embeddings"]
    vecs = emb["embedding"]
    offsets = np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)
    lists = pa.ListArray.from_arrays(pa.array(offsets), pa.array(vecs.ravel()))
    pq.write_table(
        pa.table({"vec_id": emb["vec_id"], "embedding": lists, "label": emb["label"]}),
        os.path.join(data_dir, "embeddings.parquet"),
    )


def run_registry(eng: Engine, run: Run) -> None:
    """Traced query runs only: the registry's corpus jobs over the
    benchmark's own `documents` and `embeddings`, each checked once
    against its DuckDB oracle (which also warms them up), then one traced
    pass to the noop sink whose row counts must repeat the checked ones."""
    check = eng.call("corpus_check", names=CORPUS_JOBS)
    for name, res in check.items():
        run.record(res["match"])
        if not res["match"]:
            run.notes.append(f"{name} differs from its oracle")
    eng.call("trace_start")
    for name in CORPUS_JOBS:
        res = eng.call("corpus_job", name=name)
        ok = res["rows"] == check[name]["rows"]
        if not ok:
            run.notes.append(f"{name}: {res['rows']} rows, the oracle pass had {check[name]['rows']}")
        run.record(ok)
    run.registry = eng.call("trace_stop")


WORKLOADS = {"ingest": run_ingest, "query": run_query}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its engine and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    become_subreaper()
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "api_to_parquet_spark", "__init__.py"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    run = Run()
    eng = None
    try:
        eng = Engine(root, work, bool(args.trace))
        WORKLOADS[args.workload](eng, args.seed, args.seconds, run)
        fin = eng.call("finish")
        run.peak_rss_mb = fin["peak_rss_mb"]
        run.events = fin.get("events", {})
    except (EngineError, OSError) as exc:
        print(f"perfbench: {args.workload} failed: {exc}", file=sys.stderr)
        return 1
    finally:
        if eng is not None:
            eng.close()
        reap_all(REAP_GRACE_S)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    for note in run.notes:
        print("perfbench:", note, file=sys.stderr)
    metrics = run.per_layer() if args.trace else run.end_to_end()
    units = PER_LAYER if args.trace else END_TO_END
    p90 = stats.tail(run.latencies, 90)
    print(
        f"{args.workload}: {len(run.latencies)} timed operations"
        + (f" ({', '.join(f'{x:.2f}' for x in run.latencies)} s)" if len(run.latencies) < 20 else "")
        + ", p50"
        f" {stats.median(run.latencies):.4f} s, p90 "
        + (f"{p90:.4f} s" if p90 is not None else f"not reported (< {stats.MIN_BEYOND} samples beyond it)")
        + f", throughput {run.throughput:.4g} {'rows' if args.workload == 'ingest' else 'queries'}/s"
    )
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
