"""Tests of the benchmark's own pure logic (no Spark session).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class SmallQueryPlan(workloads.QueryPlan):
    ROWS = 600
    BLOCKS = 10


def test_ingest_plan_is_a_function_of_the_seed():
    a, b = workloads.IngestPlan(7, 2, rows=300), workloads.IngestPlan(7, 2, rows=300)
    assert [c.body for c in a.contents] == [c.body for c in b.contents]
    assert a.posts == b.posts and a.warm == b.warm
    assert a.body(a.posts[1][5]) == b.body(b.posts[1][5])
    c = workloads.IngestPlan(8, 2, rows=300)
    assert [x.body for x in a.contents] != [x.body for x in c.contents]


def test_ingest_envelope_is_reference_shaped():
    plan = workloads.IngestPlan(3, 2, rows=50)
    post = plan.posts[0][0]
    env = json.loads(plan.body(post))
    assert env["file"] == post.key and env["timeGenerated"] == post.time_generated
    assert len(env["content"]) == 50
    assert set(env["content"][0]) == {
        "Timestamp", "TimeOffsetHours", "PointId", "Sequence", "Project", "Value", "Res", "Quality",
    }
    hour = int(post.key.split("/")[4])
    assert all(
        workloads.DAY_MS + hour * workloads.HOUR_MS <= p["Timestamp"] < workloads.DAY_MS + (hour + 1) * workloads.HOUR_MS
        for p in env["content"]
    )


def test_one_client_first_resends_its_warm_up_key_then_a_tenth_resend():
    plan = workloads.IngestPlan(11, 2, rows=20)
    first = plan.posts[plan.resender][0]
    warm = plan.warm[plan.resender]
    assert first.key == warm.key and plan.contents[first.content].rows == 20
    assert plan.contents[first.content].hour == plan.contents[warm.content].hour
    assert plan.posts[1 - plan.resender][0].key != plan.warm[1 - plan.resender].key
    for client, posts in enumerate(plan.posts):
        keys = {plan.warm[client].key: plan.warm[client].content}
        resends = 0
        for p in posts:
            if p.key in keys:
                resends += 1
                assert p.content != keys[p.key]
                assert plan.contents[p.content].hour == plan.contents[keys[p.key]].hour
            keys[p.key] = p.content
        assert 0.05 < resends / len(posts) < 0.15
    assert len({p.time_generated for ps in plan.posts for p in ps} | {w.time_generated for w in plan.warm}) == (
        sum(map(len, plan.posts)) + len(plan.warm)
    )
    assert {workloads.IngestPlan(s, 2, rows=5).resender for s in range(20)} == {0, 1}


def test_the_lake_expects_each_keys_last_acknowledged_post():
    plan = workloads.IngestPlan(5, 1, rows=30)
    first = plan.posts[0][0]
    again = workloads.Post(first.key, first.content ^ 1, 99, "again")
    expected = plan.expected_lake([[first, again]])
    c = plan.contents[first.content ^ 1]
    assert expected == {first.key: {
        "rows": 30, "max_ts": int(c.ts.max()), "value_sum": float(c.value.sum()), "quality_sum": int(c.quality.sum()),
    }}
    observed = {first.key: dict(expected[first.key], value_sum=expected[first.key]["value_sum"] * (1 + 1e-12))}
    assert workloads.lake_mismatches(expected, observed) == []
    observed[first.key]["rows"] = 29
    observed["stray"] = observed[first.key]
    assert workloads.lake_mismatches(expected, observed) == ["stray", first.key]


def test_query_plan_is_a_function_of_the_seed():
    a, b = SmallQueryPlan(4), SmallQueryPlan(4)
    assert a.envelopes == b.envelopes
    assert [q.text for q in a.requests] == [q.text for q in b.requests]
    block = a.block
    assert all(
        sorted(q.kind for q in a.requests[i:i + block]) == sorted(workloads.QueryPlan.SHAPES)
        for i in range(0, len(a.requests), block)
    )
    assert [q.text for q in SmallQueryPlan(5).requests] != [q.text for q in a.requests]


def test_query_answers_are_checked():
    plan = SmallQueryPlan(2)
    point = next(q for q in plan.requests if q.kind == "point")
    table = {"Columns": [{"ColumnName": "Timestamp"}, {"ColumnName": "Value"}], "Rows": point.expected}
    assert workloads.check_response(point, table)
    assert not workloads.check_response(point, dict(table, Rows=point.expected[1:] + [[0, 0.0]]))
    rng = next(q for q in plan.requests if q.kind == "range")
    rows = [[b, n, v * (1 + 1e-12)] for b, n, v in reversed(rng.expected)]
    assert workloads.check_response(rng, {"Columns": [], "Rows": rows})
    count = workloads.Query("count", "TelemetryData | count", [[3]])
    assert workloads.check_response(count, {"Columns": [{"ColumnName": "Count"}], "Rows": [[3]]})


def test_corpus_tables_are_a_function_of_the_seed():
    a, b = workloads.corpus_tables(1), workloads.corpus_tables(1)
    assert a["documents"]["text"] == b["documents"]["text"]
    assert np.array_equal(a["embeddings"]["embedding"], b["embeddings"]["embedding"])
    texts = a["documents"]["text"]
    assert len(set(texts)) < len(texts)  # exact copies are planted
    assert workloads.corpus_tables(2)["documents"]["text"] != texts


def test_nearest_rank_and_the_ten_beyond_rule():
    values = list(range(1, 101))
    assert stats.nearest_rank(values, 50) == (50, 50)
    assert stats.nearest_rank(values, 90) == (90, 10)
    assert stats.tail(values, 90) == 90
    assert stats.tail(values[:99], 90) is None  # 9 samples beyond p90
    assert stats.tail(values[:20], 50) == 10
    assert stats.tail([], 90) is None
    with pytest.raises(ValueError):
        stats.nearest_rank(values, 0)


def test_quartile_spread_and_little():
    assert stats.quartile_spread([10.0] * 10) == 0
    assert stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)
    assert run.little([0.5, 1.5]) == pytest.approx(run.CLIENTS / 1.0)


def test_metric_names_and_units_are_valid_and_declared():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    for group, declared in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in bench[group]}
        assert listed == declared
    names = [m["name"] for g in ("end_to_end", "per_layer") for m in bench[g]] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_name(n) for n in names)
    assert all(stats.valid_unit(u) for u in {**run.END_TO_END, **run.PER_LAYER}.values())
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert not stats.valid_name("_x") and not stats.valid_name("a" * 65) and not stats.valid_name("a b")
    assert not stats.valid_unit("a" * 17)


def test_frames_match_ignores_row_order_and_float_noise():
    a = pd.DataFrame({"x": [1, 2], "y": [0.1 + 0.2, 1.0], "z": [np.array([1, 2]), np.array([3])]})
    b = pd.DataFrame({"z": [[3], [1, 2]], "y": [1.0, 0.3], "x": [2, 1]})
    assert engine.frames_match(a, b)
    assert not engine.frames_match(a, b.assign(x=[2, 2]))


def test_reap_all_waits_for_orphaned_grandchildren():
    """A grandchild whose parent has exited (as the JVM and Spark's
    daemon outlive the engine) is still waited for, and killed after the
    grace period."""
    import subprocess

    code = (
        "import os, subprocess, sys, time; sys.path.insert(0, %r); import run\n"
        "run.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], stdout=open('pid', 'w'))\n"
        "t0 = time.perf_counter(); run.reap_all(0.5)\n"
        "print(time.perf_counter() - t0)\n"
    ) % HERE
    tmp = os.path.join(HERE, "..", ".perfbench_work", f"reap-{os.getpid()}")
    os.makedirs(tmp)
    try:
        out = subprocess.run([sys.executable, "-c", code], cwd=tmp, capture_output=True, text=True, timeout=30)
        assert out.returncode == 0, out.stderr
        assert 0.5 <= float(out.stdout) < 10
        with open(os.path.join(tmp, "pid")) as f:
            assert not os.path.exists(f"/proc/{int(f.read())}")
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:  # a run is using it
            pass
