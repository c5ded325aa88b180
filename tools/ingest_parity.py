"""Freeze what POST / does with an adversarial corpus of envelope bodies,
as the parity fixture tests/test_ingest_parity.py compares against.

    python tools/ingest_parity.py

Each body runs through `LakeService.ingest_envelope` on a fresh lake and
state. An accepted body records its reply, every parquet file it wrote
(path relative to the lake root, rows in file order) and the state it
left; a refused body records its status and reply. The fixture was
written by the `from_json` POST path and must hold unchanged for any
later parser.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE = os.path.join(REPO, "tests", "fixtures", "ingest_parity.json")

_KEY = "factory-1/2023/10/26/19/parity.parquet"
_FULL = {
    "Timestamp": 1698346800000,
    "TimeOffsetHours": 2,
    "PointId": "p-1",
    "Sequence": 7,
    "Project": "proj",
    "Value": 21.5,
    "Res": "r",
    "Quality": 192,
}


def _env(content, **top) -> dict:
    return {
        "content": content,
        "id": "batch-1",
        "source": "factory-1",
        "timeGenerated": 1698346800123,
        "file": _KEY,
        **top,
    }


def bodies() -> dict[str, str]:
    """name -> body text: accepted shapes first, then refused ones."""
    pretty = json.dumps(
        _env([_FULL, {**_FULL, "Timestamp": 1698346860000, "Value": 22}]),
        indent=4,
    )
    return {
        "full_row": json.dumps(_env([_FULL])),
        "sparse_row": json.dumps(_env([{"Timestamp": 5}, {"Value": 1.25}, {}])),
        "explicit_nulls": json.dumps(
            _env(
                [{k: None for k in _FULL}, {**_FULL, "PointId": None}],
                source=None,
            )
        ),
        "unknown_and_nested_fields": json.dumps(
            _env(
                [{**_FULL, "Extra": {"a": [1, {"b": None}]}, "Tags": ["x"]}],
                meta={"nested": {"deep": [1, 2, {"k": "v"}]}},
                version=3,
            )
        ),
        "int_for_double": json.dumps(_env([{**_FULL, "Value": 3}, {"Value": -0}])),
        "pretty_printed": pretty,
        "pretty_printed_crlf": pretty.replace("\n", "\r\n"),
        "unicode_escapes": (
            '{"content": [{"Timestamp": 1, "PointId": "\\u00e9\\u4e2d",'
            ' "Project": "\\ud83d\\ude00 ok", "Res": "tab\\tquote\\"'
            ' slash\\/"}], "id": "\\u0062atch-\\ud83c\\udf0d",'
            ' "source": "s", "timeGenerated": 9,'
            f' "file": "{_KEY}"}}'
        ),
        "epoch_seconds_and_millis": json.dumps(
            _env(
                [
                    {"Timestamp": 1698346800, "Value": 1.0},
                    {"Timestamp": 1698346800000, "Value": 2.0},
                    {"Timestamp": -1, "Value": 3.0},
                ]
            )
        ),
        "non_matching_path": json.dumps(_env([_FULL], file="not-a-lake-path.parquet")),
        "leading_whitespace": "\n\t " + json.dumps(_env([_FULL])) + "\n",
        # refused
        "top_level_array": json.dumps([_env([_FULL])]),
        "content_object": json.dumps(_env({"Timestamp": 1})),
        "content_null_element": json.dumps(_env([None, {"Timestamp": 2}])),
        "time_generated_string": json.dumps(_env([_FULL], timeGenerated="5")),
        "two_objects": json.dumps(_env([_FULL])) + json.dumps(_env([_FULL])),
        "trailing_garbage": json.dumps(_env([_FULL])) + " xyz",
        "empty_body": "",
        "empty_content": json.dumps(_env([])),
        "missing_file": json.dumps(
            {k: v for k, v in _env([_FULL]).items() if k != "file"}
        ),
    }


def capture(spark, body: str, workdir: str) -> dict:
    """POST `body` to a fresh service rooted in `workdir`; return the
    reply, the written files' rows and the state."""
    import pyarrow.parquet as pq

    from api_to_parquet_spark import service, state

    lake_root = os.path.join(workdir, "lake")
    state_path = os.path.join(workdir, "state")
    svc = service.LakeService(spark, lake_root, state_path)
    status, reply = svc.ingest_envelope(body.encode("utf-8"))
    out: dict = {"status": status, "reply": reply}
    if status != 200:
        out["lake_exists"] = os.path.exists(lake_root)
        return out
    files = {}
    pattern = os.path.join(lake_root, "**", "*.parquet")
    for path in sorted(glob.glob(pattern, recursive=True)):
        if os.path.isfile(path):  # a `file` key's directory ends in .parquet too
            rel = os.path.relpath(os.path.dirname(path), lake_root)
            files[rel] = pq.read_table(path).to_pylist()
    out["files"] = files
    out["state"] = state.read_state(spark, state_path)
    return out


def main() -> None:
    from api_to_parquet_spark.session import get_spark

    spark = get_spark("ingest_parity", shuffle_partitions=4)
    fixture = {}
    with tempfile.TemporaryDirectory() as tmp:
        for i, (name, body) in enumerate(bodies().items()):
            fixture[name] = {
                "body": body,
                **capture(spark, body, os.path.join(tmp, str(i))),
            }
    with open(FIXTURE, "w") as f:
        json.dump(fixture, f, indent=1)
        f.write("\n")
    print(f"wrote {len(fixture)} bodies to {FIXTURE}")


if __name__ == "__main__":
    main()
