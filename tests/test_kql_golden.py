"""Golden SQL corpora: every kql_registry entry and every
tools/adx_coverage.py probe must translate to the SQL frozen in
tests/fixtures/ (written by tools/golden_sql.py), byte-for-byte after
generated view names are renumbered. A translator change that alters any
emission shows up here as a diff to explain, not as a silent plan
change."""

from __future__ import annotations

import json
import os

from tools.golden_sql import (
    COVERAGE_FIXTURE, FIXTURE, capture, capture_coverage,
)


def _assert_matches(got: dict[str, list[str]], path: str) -> None:
    with open(path) as f:
        golden = json.load(f)
    assert list(got) == list(golden)
    diffs = []
    for name, want in golden.items():
        if got[name] == want:
            continue
        if len(got[name]) != len(want):
            diffs.append(f"{name}: {len(got[name])} translations, want {len(want)}")
            continue
        for a, b in zip(want, got[name]):
            if a != b:
                at = len(os.path.commonprefix([a, b]))
                diffs.append(
                    f"{name}: first diff at char {at}:"
                    f" want ...{a[max(0, at - 60):at + 60]!r}"
                    f" got ...{b[max(0, at - 60):at + 60]!r}"
                )
    assert not diffs, "\n".join(diffs)


def test_registry_sql_matches_golden_corpus(spark, sf_smoke):
    _assert_matches(capture(spark, sf_smoke), FIXTURE)


def test_adx_coverage_sql_matches_golden_corpus(spark):
    _assert_matches(capture_coverage(spark), COVERAGE_FIXTURE)
