"""Streamed extraction over arriving files equals the batch run over their
union, and restarting the stream does not reprocess delivered files."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pdf_extractor_scripts_spark.fixtures import corpus_df, make_corpus
from pdf_extractor_scripts_spark.oracle import extract_document
from pdf_extractor_scripts_spark.streaming.extract_stream import start_extraction_stream


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="spark_xstream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streamed_extraction_matches_oracle(spark, tmpdir):
    n = 48
    docs = corpus_df(spark, n_docs=n, seed=42)
    src = os.path.join(tmpdir, "in")
    docs.repartition(6).write.parquet(src)  # 6 files → several micro-batches

    out = os.path.join(tmpdir, "out")
    ck = os.path.join(tmpdir, "stream_ck")
    q = start_extraction_stream(spark, src, out, stream_checkpoint=ck,
                                max_files_per_trigger=2)
    q.awaitTermination(180)

    got_df = spark.read.parquet(os.path.join(out, "out_spans"))
    got = {r["doc_id"]: r for r in got_df.collect()}
    assert len(got) == n

    for d in make_corpus(n, seed=42):
        exp = extract_document(d["doc_id"], d["spans"])
        g = got[d["doc_id"]]
        exp_spans = [s.as_tuple() for s in exp["out_spans"]]
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["order"])
                     for s in g["out_spans"]]
        assert got_spans == exp_spans, d["doc_id"]

    # restart with the same stream checkpoint: nothing new → no duplicates
    q2 = start_extraction_stream(spark, src, out, stream_checkpoint=ck,
                                 max_files_per_trigger=2)
    q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "out_spans")).count() == n


def test_pdf_ingest_stream_arrival_driven(spark, tmpdir):
    """Raw-file arrival stream: PDFs landing in two waves are parsed and
    extracted exactly once each (source checkpoint), outputs equal the
    oracle, and a restart with nothing new processes nothing."""
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf
    from pdf_extractor_scripts_spark.streaming.extract_stream import (
        start_pdf_ingest_stream,
    )

    docs = [
        d for d in make_corpus(30, seed=42)
        if not any(s["kind"] in ("media_text", "media_text_alt")
                   for s in d["spans"])
    ]
    assert len(docs) >= 10
    src = os.path.join(tmpdir, "landing (pdf+s)")  # metachar-safe strip
    out = os.path.join(tmpdir, "out")
    ck = os.path.join(tmpdir, "pdf_stream_ck")

    def drop(batch):
        for i, d in batch:
            p = os.path.join(src, d["doc_id"])
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(spans_to_pdf(d["spans"], xref_stream=(i % 2 == 0)))

    wave1 = list(enumerate(docs))[: len(docs) // 2]
    wave2 = list(enumerate(docs))[len(docs) // 2:]

    drop(wave1)
    q = start_pdf_ingest_stream(spark, src, out, stream_checkpoint=ck)
    q.awaitTermination(180)
    n1 = spark.read.parquet(os.path.join(out, "out_spans")).count()
    assert n1 == len(wave1)

    drop(wave2)
    q2 = start_pdf_ingest_stream(spark, src, out, stream_checkpoint=ck)
    q2.awaitTermination(180)
    got = {r["doc_id"]: r for r in
           spark.read.parquet(os.path.join(out, "out_spans")).collect()}
    assert len(got) == len(docs)  # wave-1 files NOT reprocessed/duplicated

    for _, d in wave1 + wave2:
        exp = extract_document(d["doc_id"], d["spans"])
        exp_spans = [s.as_tuple() for s in exp["out_spans"]]
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["order"])
                     for s in got[d["doc_id"]]["out_spans"]]
        assert got_spans == exp_spans, d["doc_id"]

    # restart with nothing new → no extra rows
    q3 = start_pdf_ingest_stream(spark, src, out, stream_checkpoint=ck)
    q3.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "out_spans")).count() == len(docs)


def test_replayed_microbatch_commits_each_doc_once(spark, tmpdir):
    """A micro-batch whose run_id (``<run_id>-b<batch_id>``) already
    committed some buckets: the replay re-extracts the batch, drops the
    committed buckets before writing, and the committed output holds each
    document once."""
    import pyspark.sql.functions as F

    from pdf_extractor_scripts_spark.operators.checkpoint import (
        committed_metrics,
        committed_outputs,
        with_partition_key,
    )
    from pdf_extractor_scripts_spark.plans.pipeline import run_with_checkpoint

    n = 40
    docs = corpus_df(spark, n_docs=n, seed=42)
    src, out = os.path.join(tmpdir, "in"), os.path.join(tmpdir, "out")
    docs.coalesce(1).write.parquet(src)  # one file → one micro-batch, id 0
    half = with_partition_key(docs).filter(F.col("partition_key") < 32)
    n0 = run_with_checkpoint(spark, half.drop("partition_key"), out, run_id="rs-b0")
    assert 0 < n0 < n

    q = start_extraction_stream(spark, src, out, run_id="rs",
                                stream_checkpoint=os.path.join(tmpdir, "ck"))
    q.awaitTermination(180)

    assert spark.read.parquet(os.path.join(out, "out_spans")).count() == n
    got = committed_outputs(spark, out)
    assert got.count() == n and got.select("doc_id").distinct().count() == n
    mx = committed_metrics(spark, out)
    assert mx.filter(F.col("metric") == "docs").agg(F.sum("value")).first()[0] == n


def test_microbatch_writes_one_data_file(spark, tmpdir):
    """out_spans is a flat table: one micro-batch read from one landing
    file adds one data file, not one per bucket."""
    src, out = os.path.join(tmpdir, "in"), os.path.join(tmpdir, "out")
    corpus_df(spark, n_docs=48, seed=42).coalesce(1).write.parquet(src)
    q = start_extraction_stream(spark, src, out,
                                stream_checkpoint=os.path.join(tmpdir, "ck"))
    q.awaitTermination(180)

    files = [f for _, _, fs in os.walk(os.path.join(out, "out_spans"))
             for f in fs if f.endswith(".parquet")]
    assert len(files) == 1, files
    keys = spark.read.parquet(os.path.join(out, "out_spans")).select("partition_key")
    assert keys.distinct().count() > 1  # the one file spans many buckets
