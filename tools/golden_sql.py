"""Freeze the Spark SQL the KQL translator emits for every
`kql_registry.QUERIES` entry, as the golden corpus that
tests/test_kql_golden.py compares against.

    python tools/golden_sql.py SF_DIR

SF_DIR is the test data directory the `sf_smoke` test fixture uses.

Each entry is built (not collected) on one session. Every TOP-LEVEL
`kql_to_sql` call it makes is recorded in call order; nested calls are
part of their caller's text. An entry whose `kql()` retries (clash
resolution, concat probe) therefore records two translations.

Generated view names carry a uuid or a process-wide counter, so they are
renumbered by order of first appearance in each translation
(`normalize`) before they are stored or compared.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE = os.path.join(REPO, "tests", "fixtures", "kql_registry_sql.json")

# _kql_cache_<tag>_<12 hex>, _kql_python_<12 hex>, _kql_seq_<12 hex>,
# _let__fork_src<N> and the `_dnum<N>` lambda variable of a bound
# division numerator
_GENERATED = re.compile(
    r"(_kql_(?:cache_\w*?|python|seq)_)[0-9a-f]{12}(?![0-9a-f])"
    r"|(_fork_src|_dnum)\d+"
)


def normalize(sql: str) -> str:
    """Replace each generated view name by its prefix and its ordinal
    of first appearance in `sql`."""
    seen: dict[str, int] = {}

    def rep(m: re.Match) -> str:
        n = seen.setdefault(m.group(0), len(seen) + 1)
        return f"{m.group(1) or m.group(2)}#{n}"

    return _GENERATED.sub(rep, sql)


def capture(spark, sf_dir: str) -> dict[str, list[str]]:
    """{entry name: [normalized top-level SQL, …]} for every registry
    entry, in registry order."""
    from api_to_parquet_spark.queries import kql as kql_mod
    from api_to_parquet_spark.queries.kql_registry import QUERIES

    translate = kql_mod.kql_to_sql
    depth = [0]
    calls: list[str] = []

    @functools.wraps(translate)
    def recording(*args, **kwargs):
        depth[0] += 1
        try:
            sql = translate(*args, **kwargs)
        finally:
            depth[0] -= 1
        if depth[0] == 0:
            calls.append(normalize(sql))
        return sql

    out: dict[str, list[str]] = {}
    kql_mod.kql_to_sql = recording
    try:
        for name, fn in QUERIES.items():
            calls.clear()
            fn(spark, sf_dir)
            out[name] = list(calls)
    finally:
        kql_mod.kql_to_sql = translate
    return out


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1]
    from api_to_parquet_spark import get_spark

    spark = get_spark("golden_sql", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = capture(spark, sf_dir)
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with open(FIXTURE, "w") as f:
        json.dump(corpus, f, indent=1)
        f.write("\n")
    n = sum(len(v) for v in corpus.values())
    print(f"{len(corpus)} entries, {n} translations -> {FIXTURE}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
