"""Fleet-wide physical-plan hygiene: sweep EVERY query in the registry
and enforce the scale invariants the modules claim individually. The
allow-list and the sweep are tools/plan_audit.py's."""

from __future__ import annotations

import pytest

from tools.plan_audit import (
    executed_plan,
    load_registry,
    row_python_offenders,
    sweep,
)


@pytest.fixture(scope="module")
def registry():
    return load_registry()


def test_no_row_at_a_time_python_anywhere(spark, sf_smoke, registry):
    """BatchEvalPython (per-row Python UDF) must never appear in a plan
    — the sanctioned Python boundary is Arrow-batched
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas), except the
    explicitly-documented UDTF demo."""
    plans, errors = sweep(spark, sf_smoke, registry)
    assert not errors, errors
    offenders = row_python_offenders(plans)
    assert not offenders, f"row-at-a-time Python UDFs leaked into: {offenders}"


def test_iterative_lineage_stays_flat(spark, sf_smoke, registry):
    """dedup_clusters converges through localCheckpoint-ed rounds: the
    returned plan must be a flat scan of checkpointed partitions, not
    the accumulated join tree of every iteration (persist() does not cut
    lineage; a persist-only loop measured 1242 Exchanges in the final
    plan text)."""
    plan = executed_plan(registry["dedup_clusters"], spark, sf_smoke)
    assert plan.count("Exchange") == 0, plan[:500]
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan or "Scan rdd" in plan.lower()
