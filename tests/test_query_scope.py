"""``session.query_scope`` on real queries: the checkpoint blocks a
query call persists die with the call, while the RDDs that memo
builds persisted (a trained k-means model's frames, the BPE merge
training) survive, so a repeat call still reads them and returns the
same rows."""

from __future__ import annotations

import pytest

from flights_data_pipeline_spark import session
from flights_data_pipeline_spark.queries import REGISTRY
from flights_data_pipeline_spark.session import query_scope


def _pinned(spark) -> set[int]:
    app = spark.sparkContext.applicationId
    return set(session._PINNED.get(app, ()))


@pytest.mark.parametrize(
    "name", ["semantic_cluster_dedup", "split_leakage_report", "bpe_apply_learned"]
)
def test_repeat_calls_leave_only_memo_rdds(spark, sf_dir, name):
    results = []
    for _ in range(2):
        before, pinned_before = session._persisted_rdd_ids(spark), _pinned(spark)
        with query_scope(spark):
            results.append(
                sorted(map(tuple, REGISTRY[name].fn(spark, sf_dir).collect()))
            )
        new_pins = _pinned(spark) - pinned_before
        # a ContextCleaner sweep may free older RDDs meanwhile, so the
        # count can only fall below before + new pins, never rise above
        assert session._persisted_rdd_ids(spark) <= before | new_pins
    assert results[0] == results[1]
