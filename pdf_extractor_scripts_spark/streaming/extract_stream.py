"""Incremental extraction: the batch pipeline wired to a streaming source.

A production corpus is not static — new documents land continuously. Both
entry points apply the SAME ``run_pipeline`` (identical semantics, identical
span-equality contract) plus the bucket key to the streaming DataFrame once,
when the query starts, so the extraction plan is built once per query rather
than once per micro-batch. Each ``foreachBatch`` call is then one
``run_with_checkpoint`` over rows that are already extracted:

* Structured Streaming's source checkpoint gives exactly-once batch
  delivery (each input file processed once);
* within a micro-batch the engine's own bucket checkpoint (operators/
  checkpoint.py) records lineage + metrics under a per-batch run_id
  (``<run_id>-b<batch_id>``). The batch is persisted for the commit, so
  its documents are extracted once. A replayed micro-batch re-extracts its
  documents, then drops the buckets its run_id already committed before
  writing, so the visible output stays exactly-once.

This composition — streaming for ingestion bookkeeping, the deterministic
batch plan for semantics — keeps the correctness contract testable (the
streamed result of N files equals the batch run over their union).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.checkpoint import with_partition_key
from ..plans import pipeline
from ..plans.pipeline import run_with_checkpoint
from ..schemas import DOC_SCHEMA


def _start(spark: SparkSession, docs, out_dir: str, run_id: str,
           stream_checkpoint: str | None):
    """Extract ``docs`` (a streaming spans DataFrame) and commit each
    micro-batch into ``out_dir`` under the run_id ``<run_id>-b<batch_id>``."""
    # looked up on the module when the query starts, so a patched or wrapped
    # plans.pipeline.run_pipeline applies to the stream too
    extracted = with_partition_key(pipeline.run_pipeline(docs))

    def process(batch_df, batch_id: int) -> None:
        run_with_checkpoint(spark, batch_df, out_dir, run_id=f"{run_id}-b{batch_id}")

    writer = extracted.writeStream.foreachBatch(process).trigger(availableNow=True)
    if stream_checkpoint:
        writer = writer.option("checkpointLocation", stream_checkpoint)
    return writer.start()


def start_extraction_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    run_id: str = "stream",
    stream_checkpoint: str | None = None,
    max_files_per_trigger: int = 8,
):
    """File-source stream of spans documents → checkpointed extraction.

    Returns the StreamingQuery (``availableNow`` trigger: drains what exists
    then stops — swap for a processing-time trigger in long-running mode).
    """
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return _start(spark, stream, out_dir, run_id, stream_checkpoint)


def start_pdf_ingest_stream(
    spark: SparkSession,
    pdf_dir: str,
    out_dir: str,
    run_id: str = "pdfstream",
    stream_checkpoint: str | None = None,
    max_files_per_trigger: int = 64,
    glob: str = "*.pdf",
):
    """Raw-file arrival stream: binaryFile readStream over a landing
    directory → byte-stream parse (sources/pdfparse.py via mapInPandas,
    still a single map stage per micro-batch) → the same checkpointed
    extraction as the batch path. New PDFs dropped into the tree are picked
    up exactly once by the source checkpoint; doc_id = path relative to
    ``pdf_dir`` so P1 filename detection sees vendor prefixes (reference
    entry point A, batch_processor.py:76-112, as a continuous service)."""
    import os
    import re as _re

    import pyspark.sql.functions as F

    from ..sources.spans import parse_binary_to_spans

    stream = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; this is binaryFile's
        # fixed one
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(pdf_dir)
        .select(F.col("path").alias("doc_id"), F.col("content"))
    )
    parsed = parse_binary_to_spans(stream)
    # same scheme-agnostic, regex-safe prefix strip as the batch CLI
    _scheme = r"^[A-Za-z][A-Za-z0-9+.\-]*:(//)?"
    base = pdf_dir.rstrip("/")
    if not _re.match(_scheme, base):
        base = os.path.abspath(base)
    prefix = _re.sub(_scheme, "", base) + "/"
    path = F.regexp_replace(
        F.url_decode(F.regexp_replace("doc_id", r"\+", "%2B")), _scheme, ""
    )
    parsed = parsed.withColumn(
        "doc_id",
        F.when(
            F.startswith(path, F.lit(prefix)),
            F.substring(path, len(prefix) + 1, 2**31 - 1),
        ).otherwise(path),
    )
    return _start(spark, parsed, out_dir, run_id, stream_checkpoint)
