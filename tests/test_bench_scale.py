"""Smoke test for the at-scale bench rung (tools/bench_scale.py).

The rung itself needs generated sf1 and 128x-documents inputs, so no
test runs it end to end. This runs its driver-side dispatch probe with
every scale pointed at the fixture tables, which catches a probe that
no longer resolves the operators it reads.
"""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "bench_scale.py",
)


def _load_tool():
    spec = importlib.util.spec_from_file_location("bench_scale", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dispatch_probes_runs_on_fixture_tables(spark, sf_dir, monkeypatch):
    bench_scale = _load_tool()
    for name in ("SF01", "SF1", "DOCS128"):
        monkeypatch.setattr(bench_scale, name, sf_dir)
    out = bench_scale.dispatch_probes(spark)
    for label in ("sf0.1", "sf1", "docs128"):
        assert out[f"candidate_join[{label}]"] in (
            "broadcast",
            "semi-broadcast",
            "shuffle",
        )
        assert isinstance(out[f"documents_small[{label}]"], bool)
    for label in ("sf0.1", "sf1"):
        assert isinstance(out[f"lineitem_small[{label}]"], bool)
