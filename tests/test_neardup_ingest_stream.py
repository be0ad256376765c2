"""Streaming near-dup ingest: per-micro-batch LSH index join against
all history, exact-verified verdicts, replay-idempotent.

The batch twin (``incremental_neardup_ingest``) is oracle-gated; this
suite pins that the STREAMED verdicts for an incoming batch equal the
batch twin's output on the same corpus split, and that a full replay
converges to identical state and verdicts.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from flights_data_pipeline_spark.io.catalog import load_table
from flights_data_pipeline_spark.queries.dedup import INCR_SPLIT_FRAC
from flights_data_pipeline_spark.queries.registry import REGISTRY
from flights_data_pipeline_spark.streaming.jobs import neardup_ingest_stream

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def neardup_stream_src(spark):
    """Two files → two micro-batches, split at the SAME doc_id cut the
    batch twin uses (history file, then today's crawl file)."""
    d = tempfile.mkdtemp(prefix="fdp_neardup_ingest_")
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    cut = int(
        docs.agg(
            F.floor(F.max("doc_id") * INCR_SPLIT_FRAC).alias("c")
        ).first()["c"]
    )
    os.makedirs(f"{d}/stream", exist_ok=True)
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") < cut), docs.filter(F.col("doc_id") >= cut)]
    ):
        part.coalesce(1).write.mode("overwrite").parquet(f"{d}/in/f{i}")
        src = glob.glob(f"{d}/in/f{i}/part-*.parquet")[0]
        shutil.copy(src, f"{d}/stream/b{i}.parquet")
    return d, cut


def _run(spark, d, tag):
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/stream")
    )
    q = neardup_ingest_stream(
        stream,
        state_dir=f"{d}/state_{tag}",
        verdict_path=f"{d}/verdicts_{tag}",
        checkpoint_dir=f"{d}/ckpt_{tag}",
    )
    q.awaitTermination(300)


def _verdicts(spark, path):
    return {
        r["doc_id"]: (
            r["n_band_candidates"],
            r["n_dup_sources"],
            r["is_novel"],
        )
        for r in spark.read.parquet(path).collect()
    }


def test_streamed_verdicts_equal_batch_twin(spark, neardup_stream_src):
    d, cut = neardup_stream_src
    _run(spark, d, "main")
    got = _verdicts(spark, f"{d}/verdicts_main")
    want = {
        r["doc_id"]: (
            r["n_band_candidates"],
            r["n_dup_sources"],
            r["is_novel"],
        )
        for r in REGISTRY["incremental_neardup_ingest"]
        .fn(spark, SF_DIR)
        .collect()
    }
    incoming_got = {k: v for k, v in got.items() if k >= cut}
    assert incoming_got == want
    # and the corpus does contain near-dups to detect
    assert any(not v[2] for v in want.values())
    # batch-1 docs got verdicts too (against their own older peers)
    assert any(k < cut for k in got)


def test_corrupt_state_store_raises(spark, neardup_stream_src):
    """An existing but unreadable state store must fail the batch before
    any verdict lands, not read as "no history" and publish every
    document as novel (the later state merge would fail only after)."""
    d, _ = neardup_stream_src
    os.makedirs(f"{d}/state_corrupt/docs")
    with open(f"{d}/state_corrupt/docs/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(StreamingQueryException):
        _run(spark, d, "corrupt")
    assert not os.path.exists(f"{d}/verdicts_corrupt")


def test_full_replay_converges(spark, neardup_stream_src):
    d, _ = neardup_stream_src
    _run(spark, d, "rep")
    state_before = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{d}/state_rep/docs")
        .select("doc_id", "sig0", "sig7")
        .collect()
    )
    v_before = _verdicts(spark, f"{d}/verdicts_rep")
    # crash-replay worst case: fresh checkpoint, whole stream again,
    # SAME state and verdict stores
    _run(spark, d, "rep2")  # independent second run: deterministic
    schema_run2 = _verdicts(spark, f"{d}/verdicts_rep2")
    assert v_before == schema_run2
    # true replay into the SAME stores
    stream_tag = "rep"
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/stream")
    )
    q = neardup_ingest_stream(
        stream,
        state_dir=f"{d}/state_{stream_tag}",
        verdict_path=f"{d}/verdicts_{stream_tag}",
        checkpoint_dir=f"{d}/ckpt_{stream_tag}_replay",
    )
    q.awaitTermination(300)
    state_after = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{d}/state_rep/docs")
        .select("doc_id", "sig0", "sig7")
        .collect()
    )
    assert state_after == state_before
    assert _verdicts(spark, f"{d}/verdicts_rep") == v_before
