"""Golden SQL corpus: every kql_registry entry must translate to the SQL
frozen in tests/fixtures/kql_registry_sql.json (written by
tools/golden_sql.py), byte-for-byte after generated view names are
renumbered. A translator change that alters any emission shows up here
as a diff to explain, not as a silent plan change."""

from __future__ import annotations

import json
import os

from tools.golden_sql import FIXTURE, capture


def test_registry_sql_matches_golden_corpus(spark, sf_smoke):
    with open(FIXTURE) as f:
        golden = json.load(f)
    got = capture(spark, sf_smoke)
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
