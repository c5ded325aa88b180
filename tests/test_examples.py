"""Smoke test of examples/quickstart.py: its main() runs in-process on
the test session and drives write_batch_files / update_state and the
streaming twin end to end."""

from __future__ import annotations

import importlib.util
import os
import tempfile

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")


def test_quickstart_main(spark, tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    spec = importlib.util.spec_from_file_location(
        "quickstart", os.path.join(EXAMPLES, "quickstart.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main()
    out = capsys.readouterr().out
    assert "ingested points: 800 rejected: 0" in out
    assert "state: {'last_time_generated': 2, 'max_timestamp': 1700000499}" in out
    assert "SQL   : Row(n=800)" in out
    assert "after stream, state: {'last_time_generated': 3, 'max_timestamp': 1700000499}" in out
    assert "streamed lake rows: 200" in out
