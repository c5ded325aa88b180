"""Freeze the Spark SQL the KQL translator emits, as the three golden
corpora that tests/test_kql_golden.py compares against:

- `kql_registry_sql.json`: every `kql_registry.QUERIES` entry;
- `adx_coverage_sql.json`: every `tools/adx_coverage.py` probe, built
  with `kql(spark, probe)` over its two-row `cov` view;
- `kql_tests_sql.json`: every string literal passed to `kql(…)` or
  `kql_to_sql(…)` in tests/test_kql.py and tests/test_idiom_probes.py
  (found with `ast`), translated without a session by `kql_to_sql(text)`.

    python tools/golden_sql.py SF_DIR

SF_DIR is the test data directory the `sf_smoke` test fixture uses.

Each entry is built (not collected) on one session. Every TOP-LEVEL
`kql_to_sql` call it makes is recorded in call order; nested calls are
part of their caller's text. An entry whose `kql()` retries (clash
resolution, concat probe) therefore records two translations. A probe
that raises records, after its translations, `!<exception class>: <first
line of the message>`. The third corpus maps each distinct text, in
order of first appearance, to its one translation or its
`!<class>: <first line>`.

Generated view names carry a uuid or a process-wide counter, so they are
renumbered by order of first appearance in each translation
(`normalize`) before they are stored or compared.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE = os.path.join(REPO, "tests", "fixtures", "kql_registry_sql.json")
COVERAGE_FIXTURE = os.path.join(
    REPO, "tests", "fixtures", "adx_coverage_sql.json")
TESTS_FIXTURE = os.path.join(REPO, "tests", "fixtures", "kql_tests_sql.json")
TEST_FILES = ("tests/test_kql.py", "tests/test_idiom_probes.py")

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


@contextlib.contextmanager
def _recording(calls: list[str]):
    """Append the normalized SQL of every top-level `kql_to_sql` call
    made inside the block to `calls`."""
    from api_to_parquet_spark.queries import kql as kql_mod

    translate = kql_mod.kql_to_sql
    depth = [0]

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

    kql_mod.kql_to_sql = recording
    try:
        yield
    finally:
        kql_mod.kql_to_sql = translate


def capture(spark, sf_dir: str) -> dict[str, list[str]]:
    """{entry name: [normalized top-level SQL, …]} for every registry
    entry, in registry order."""
    from api_to_parquet_spark.queries.kql_registry import QUERIES

    calls: list[str] = []
    out: dict[str, list[str]] = {}
    with _recording(calls):
        for name, fn in QUERIES.items():
            calls.clear()
            fn(spark, sf_dir)
            out[name] = list(calls)
    return out


def capture_coverage(spark) -> dict[str, list[str]]:
    """{"<family>/<name>": [normalized top-level SQL, …, and
    "!<class>: <first message line>" if it raised]} for every
    `adx_coverage` probe, in census order."""
    from api_to_parquet_spark.queries.kql import kql
    from tools.adx_coverage import FAMILIES, make_cov_view

    make_cov_view(spark)
    calls: list[str] = []
    out: dict[str, list[str]] = {}
    with _recording(calls):
        for family, entries in FAMILIES:
            for name, probe in entries:
                calls.clear()
                try:
                    kql(spark, probe)
                except Exception as ex:  # noqa: BLE001 — recorded, not handled
                    calls.append(_error_line(ex))
                out[f"{family}/{name}"] = list(calls)
    return out


def _error_line(ex: Exception) -> str:
    first = (str(ex).splitlines() or [""])[0]
    return normalize(f"!{type(ex).__name__}: {first}")


def test_texts() -> list[str]:
    """Every string literal passed positionally to `kql(…)` or
    `kql_to_sql(…)` in TEST_FILES, distinct, in order of first
    appearance (file order, then source order)."""
    texts: dict[str, None] = {}
    for rel in TEST_FILES:
        with open(os.path.join(REPO, rel)) as f:
            tree = ast.parse(f.read())
        calls = []
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.id if isinstance(fn, ast.Name) else getattr(
                fn, "attr", None)
            if name in ("kql", "kql_to_sql"):
                calls.append(node)
        calls.sort(key=lambda c: (c.lineno, c.col_offset))
        for node in calls:
            for a in node.args:
                if isinstance(a, ast.Constant) and isinstance(a.value, str):
                    texts.setdefault(a.value)
    return list(texts)


def translate_texts(texts) -> dict[str, str]:
    """{text: normalized sessionless `kql_to_sql(text)`, or
    "!<class>: <first message line>" if it raised}."""
    from api_to_parquet_spark.queries.kql import kql_to_sql

    out: dict[str, str] = {}
    for text in texts:
        try:
            out[text] = normalize(kql_to_sql(text))
        except Exception as ex:  # noqa: BLE001 — recorded, not handled
            out[text] = _error_line(ex)
    return out


def _dump(corpus: dict, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(corpus, f, indent=1)
        f.write("\n")
    n = sum(1 if isinstance(v, str) else len(v) for v in corpus.values())
    print(f"{len(corpus)} entries, {n} translations -> {path}")


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1]
    from api_to_parquet_spark import get_spark

    spark = get_spark("golden_sql", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    _dump(capture(spark, sf_dir), FIXTURE)
    _dump(capture_coverage(spark), COVERAGE_FIXTURE)
    _dump(translate_texts(test_texts()), TESTS_FIXTURE)
    return 0


if __name__ == "__main__":
    sys.exit(main())
