"""Fleet-wide physical-plan hygiene: sweep EVERY query in the registry
and enforce the scale invariants the modules claim individually. The
allow-list and the sweep are tools/plan_audit.py's."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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


def test_generate_input_is_not_duplicated_into_a_filter(spark):
    """With InferFiltersFromGenerate on, a plan whose explode input is a
    computed array evaluates that array a second time inside a Filter
    (`size(sequence(...)) > 0`). session.py excludes the rule; the
    product session's plan must compute the array once."""

    def array_filters(session):
        df = (
            session.range(5)
            .withColumn("arr", F.sequence(F.lit(0), F.col("id")))
            .select("id", F.explode("arr").alias("v"))
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [ln for ln in plan.splitlines() if "Filter" in ln and "sequence(" in ln]

    rule_on = spark.newSession()
    rule_on.conf.unset("spark.sql.optimizer.excludedRules")
    assert array_filters(rule_on), "the rule no longer duplicates the array"
    assert array_filters(spark) == []
