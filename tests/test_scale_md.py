"""SCALE.md is generated by ``tools/scale_stress.py``: its prose must be
the generator's, or regenerating the table silently rewrites it."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_generator_writes_the_committed_reading_paragraph(tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "scale_stress", os.path.join(REPO, "tools", "scale_stress.py"))
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    monkeypatch.setattr(tool, "REPO", str(tmp_path))
    tool._write_md({"cpus": 4, "built_from": "sf0.1", "runs": [
        {"factor": 2, "n_docs": 1, "n_vecs": 1, "metrics": {}}]})
    with open(tmp_path / "SCALE.md") as f:
        written = [ln for ln in f.read().splitlines()
                   if ln.startswith("Reading the curve")]
    with open(os.path.join(REPO, "SCALE.md")) as f:
        committed = f.read().splitlines()
    assert len(written) == 1
    assert written[0] in committed
