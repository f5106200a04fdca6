"""Streaming lift of the round-13 quality-gate stack: every gate is a
stateless per-row projection, so it must run unchanged on a streaming
DataFrame and agree with the batch application row-for-row."""

from __future__ import annotations

import os
import shutil

import pytest

from data_validation_engine_spark.llmops.c4 import c4_clean
from data_validation_engine_spark.llmops.gopher import (
    gopher_quality_flags,
    gopher_repetition_flags,
)
from data_validation_engine_spark.llmops.normalize import (
    fix_mojibake,
    mojibake_stats,
)
from data_validation_engine_spark.streaming import read_entity_stream

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def _stack(df):
    """The full stateless gate stack: quality rules → repetition
    signals → C4 cleaning → mojibake stats + repair."""
    out = gopher_quality_flags(df, "text", min_words=10, min_stop_words=1)
    out = gopher_repetition_flags(out, "text")
    out = c4_clean(out, "text", min_line_words=2, min_sentences=1)
    out = mojibake_stats(out, "text")
    return fix_mojibake(out, "text", output_col="fixed_text")


@pytest.fixture(scope="module")
def docs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs_stream_src")
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    return str(d)


@pytest.mark.slow
def test_quality_stack_streams_and_matches_batch(spark, docs_dir, tmp_path):
    batch = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where("doc_id % 5 = 0")
        .select("doc_id", "text")
    )
    schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    stream = (
        read_entity_stream(spark, docs_dir, schema)
        .where("doc_id % 5 = 0")
        .select("doc_id", "text")
    )
    streamed = _stack(stream)
    assert streamed.isStreaming
    out = str(tmp_path / "gated")
    q = (
        streamed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    want = _stack(batch)
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(got.columns)
    a = sorted(map(tuple, got.select(*cols).collect()))
    b = sorted(map(tuple, want.select(*cols).collect()))
    assert a == b and len(a) > 0
