"""Sweep EVERY queries() entry's physical plan and report scale-hygiene
metrics: Exchange count, row-at-a-time Python UDF nodes (BatchEvalPython
— forbidden), Arrow-batched Python nodes (ArrowEvalPython / MapInPandas /
FlatMapGroupsInPandas — the sanctioned slow path), pushed filters, and
whole-stage-codegen presence.

    python tools/plan_audit.py [sf_dir]    # default /root/testdata/sf0.01

Exit 1 if any plan contains BatchEvalPython (a Python UDF slipped into a
hot path) — the same invariant tests/test_plan_hygiene.py enforces in CI.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The ONE sanctioned row-at-a-time Python node: the Python UDTF surface
# demo (SURVEY.md §2.10). Its built-in twin `doc_chunks` is the scale
# path; the UDTF exists to exercise the extension mechanism itself.
ROW_PYTHON_ALLOWED = {"udtf_doc_chunks"}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from api_to_parquet_spark import get_spark

    spark = get_spark("plan_audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    plans, errors = sweep(spark, sf_dir, load_registry())
    rows = [{"query": name, "error": e[:120]} for name, e in errors.items()]
    for name, plan in plans.items():
        rows.append({
            "query": name,
            "exchanges": plan.count("Exchange "),
            "broadcasts": plan.count("BroadcastExchange"),
            "row_python": plan.count("BatchEvalPython"),
            "arrow_python": sum(
                plan.count(k)
                for k in (
                    "ArrowEvalPython",
                    "MapInPandas",
                    "FlatMapGroupsInPandas",
                    "PythonMapInArrow",
                )
            ),
            "pushed": "PushedFilters: [" in plan
            and "PushedFilters: []" not in plan,
            # codegen spans print as `*(n) Operator`; under AQE the
            # pre-execution plan often hides them (isFinalPlan=false), so
            # this field UNDER-reports — useful as a floor, not a census
            "codegen": "*(1)" in plan or "*(2)" in plan,
        })
    offenders = sorted(row_python_offenders(plans))
    rows.sort(key=lambda r: r["query"])
    print(json.dumps(rows, indent=1))
    print(
        f"audited {len(rows)} queries ({len(errors)} errors);"
        f" row-at-a-time Python UDFs in: {offenders or 'NONE'}",
        file=sys.stderr,
    )
    return 1 if offenders else 0


def load_registry() -> dict:
    """The `queries()` registry, loaded from __spark_entry__.py."""
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.queries()


def executed_plan(fn, spark, sf_dir: str) -> str:
    return fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def sweep(spark, sf_dir: str, registry: dict):
    """Executed plan text of every registry entry, in name order, and
    the error message of each entry whose plan could not be built:
    ({name: plan}, {name: error})."""
    plans: dict[str, str] = {}
    errors: dict[str, str] = {}
    for name, fn in sorted(registry.items()):
        try:
            plans[name] = executed_plan(fn, spark, sf_dir)
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            errors[name] = str(e)
    return plans, errors


def row_python_offenders(plans: dict[str, str]) -> dict[str, int]:
    """{name: BatchEvalPython count} of the plans outside the allow-list."""
    return {
        name: plan.count("BatchEvalPython")
        for name, plan in plans.items()
        if "BatchEvalPython" in plan and name not in ROW_PYTHON_ALLOWED
    }


if __name__ == "__main__":
    sys.exit(main())
