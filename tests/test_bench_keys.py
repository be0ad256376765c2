"""The bench's compact final line names queries by short key; the
committed ``BENCH_headline_latest.json`` maps them back. Pin the two
together so a renamed or added headline query that shifts a key fails
here, not in a cross-run comparison. Starts no JVM."""

from __future__ import annotations

import json
import os

from bench import HEADLINE, short_key_map

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_short_keys_match_committed_headline_artifact():
    with open(os.path.join(_ROOT, "BENCH_headline_latest.json")) as f:
        committed = json.load(f)["short_keys"]
    assert short_key_map(HEADLINE) == committed
