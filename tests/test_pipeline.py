"""End-to-end pipeline on a long transcript in the reference's own
input format (the transcript-example.json shape) — mirrors the
reference's integration tests (test_aggregator.py /
test_direct_aggregation.py): structure of the final output, batching
decisions, and budget discipline."""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from llm_map_reduce_summarizer_spark.operators.aggregator import (
    hierarchical_reduce,
)
from llm_map_reduce_summarizer_spark.operators.chunker import (
    assign_chunks,
    chunk_stats,
    chunk_texts,
)
from llm_map_reduce_summarizer_spark.operators.executor import summarize_chunks
from llm_map_reduce_summarizer_spark.operators.preprocess import (
    merge_same_speaker,
    preprocess_segments,
)
from llm_map_reduce_summarizer_spark.sources.transcript import read_transcript

N_SEGMENTS = 1500
WORDS = "we should ship the model after review so data team can check it".split()


@pytest.fixture(scope="module")
def example(tmp_path_factory):
    """A stream-VOD-like transcript: 1500 segments of 2-14 s among 4
    speakers, who change on about a quarter of the turns, so
    same-speaker merging has work to do."""
    rng = random.Random(7)
    segs, t, speaker = [], 0.0, 0
    for _ in range(N_SEGMENTS):
        if rng.random() < 0.3:
            speaker = rng.randrange(4)
        dur = rng.uniform(2.0, 14.0)
        words = rng.choices(WORDS, k=rng.randint(3, 30))
        segs.append({
            "start": round(t, 2),
            "end": round(t + dur, 2),
            "text": " ".join(words).capitalize() + ".",
            "speaker": f"SPEAKER_{speaker:02d}",
        })
        t += dur + rng.uniform(0.0, 1.5)
    path = tmp_path_factory.mktemp("transcript") / "transcript-example.json"
    path.write_text(json.dumps({"segments": segs}), encoding="utf-8")
    return str(path)


def test_transcript_reader_schema(spark, example):
    seg = read_transcript(spark, example)
    assert [f.name for f in seg.schema.fields] == [
        "doc_id", "seg_id", "start", "end", "speaker", "text",
    ]
    n = seg.count()
    assert n > 1000  # the example transcript is a long stream VOD
    # segments are time-ordered per document with start <= end
    bad = seg.filter(F.col("end") < F.col("start")).count()
    assert bad == 0


def test_full_pipeline_on_reference_transcript(spark, example):
    seg = read_transcript(spark, example).drop("doc_id")
    cleaned = preprocess_segments(seg)
    merged = merge_same_speaker(cleaned, max_duration=120.0).select(
        F.col("group_id").alias("seg_id"), "start", "end", "speaker", "text"
    )
    assert merged.count() < cleaned.count()  # merge actually combines

    chunked = assign_chunks(merged, max_tokens_per_chunk=500)
    stats = chunk_stats(chunked)
    sp = stats.toPandas()
    # budget discipline: token_count <= budget + max single segment
    mx = chunked.agg(F.max("n_tokens")).collect()[0][0]
    assert (sp["token_count"] <= 500 + mx).all()
    # position pct is chunk-relative (reference big_chunkeroosky
    # formula): bounded, zero for the opening chunk
    sp = sp.sort_values("chunk_id")
    assert sp["position_pct"].iloc[0] == 0.0
    assert ((sp["position_pct"] >= 0) & (sp["position_pct"] <= 100)).all()

    texts = chunk_texts(chunked, None)
    summaries = summarize_chunks(texts)
    final = hierarchical_reduce(summaries, batch_size=10).toPandas()
    assert len(final) == 1
    assert final["summary"][0].startswith("# Transcript Summary")
    # every chunk's summary made it into the tree (no drops)
    n_chunks = texts.count()
    assert final["summary"][0].count("SUMMARY[") == n_chunks
