#!/usr/bin/env python
"""Full-registry warm sweep — a longitudinal perf row for EVERY query.

bench.py times the headline queries; this tool times all of
them, in name order, through bench.py's one timing protocol
(``bench.time_query``: 2 warmups + 3 timed runs, each inside its own
``query_scope``, median, noop sink) so each round leaves a complete
per-query timing artifact.

Usage:
    python tools/bench_full.py > BENCH_full_rNN.json
    python tools/bench_diff.py BENCH_full_r03.json BENCH_full_r04.json

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_COLD. Output is bench_diff.py-
compatible ONE-line JSON.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query  # noqa: E402
from flights_data_pipeline_spark.queries import REGISTRY  # noqa: E402
from flights_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    spark = get_spark("fdp-spark-bench-full")

    timings = {name: time_query(spark, name, sf_dir) for name in sorted(REGISTRY)}
    total = round(sum(v for v in timings.values() if v >= 0), 4)
    print(
        json.dumps(
            {
                "metric": "full_registry_total_median_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
            }
        )
    )


if __name__ == "__main__":
    main()
