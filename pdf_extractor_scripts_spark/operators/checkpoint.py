"""Checkpoint / lineage / metrics and idempotent resume.

Partition identity is a *stable hash bucket of doc_id* — pmod(xxhash64(doc_id),
n_buckets) — NOT Spark's physical partition index, which changes with
parallelism; this is what lets N- and 4N-executor runs share checkpoints
(SURVEY.md §7.3(4)). The reference's closest analog is the detection cache
keyed on path+mtime (pdf_text_detector.py:131-135); here resumability is a
first-class table (FIXTURES.md §4) written once per completed bucket.

Resume = the completed buckets of a run_id, read on the driver as a literal
list (at most ``N_BUCKETS`` ints), become a ``NOT partition_key IN (…)``
filter. No plan references the checkpoint table the run appends to, and the
filter on the key expression lands on the input scan, below extraction.

Layout: out_spans is one flat parquet table with ``partition_key`` as a plain
column, appended once per attempt, so an attempt writes one file per task
rather than one per bucket per task. (A table written by the older
``partitionBy("partition_key")`` layout cannot take rows in this layout: Spark
refuses to read a directory that mixes both.)

Output commit protocol (manifest pattern — what Iceberg snapshot commits give
you natively in production): every physical write of out_spans/metrics rows
carries an ``attempt_id``; the checkpoint row recording that attempt is
written LAST and is the commit point. A crash between the data write and the
checkpoint write leaves orphan rows whose attempt_id no checkpoint mentions —
invisible to readers, because committed_outputs()/quality_report() semi-join
outputs against committed (partition_key, attempt_id) pairs. Physical writes
are therefore at-least-once, but the VISIBLE table is exactly-once, and
resume can safely re-process any bucket whose commit row is missing.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

N_BUCKETS = 64  # partition_key range: the resume and commit granularity


def committed_outputs(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """out_spans restricted to COMMITTED attempts: semi-join against the
    checkpoint manifest on (run_id, partition_key, attempt_id). Orphan rows
    from attempts that crashed before their checkpoint write are excluded —
    this is the read side of the manifest commit protocol."""
    out = spark.read.parquet(os.path.join(ckpt_dir, "out_spans"))
    ck = spark.read.parquet(os.path.join(ckpt_dir, "checkpoints"))
    committed = (
        ck.filter(F.col("status") == "done")
        .select("run_id", "partition_key", "attempt_id")
        .distinct()
    )
    return out.join(
        F.broadcast(committed), ["run_id", "partition_key", "attempt_id"], "left_semi"
    )


def backup_outputs(
    spark: SparkSession, ckpt_dir: str, label: str, backup_dir: str | None = None
) -> str:
    """S9 backup sink (output_consolidator.py:412-430: timestamped backup
    folder before consolidation): snapshot the COMMITTED outputs into
    ``<ckpt_dir>/backups/<label>`` as a self-contained parquet table plus a
    manifest of the checkpoint rows that define the snapshot. ``label``
    plays the reference's `{pdf_name}_{timestamp}` role — the caller stamps
    it (deterministic for tests, wall-clock in production). On Iceberg this
    entire function is a table snapshot / time-travel tag; over parquet the
    copy is explicit. Returns the snapshot path."""
    backup_root = backup_dir or os.path.join(ckpt_dir, "backups")
    dest = os.path.join(backup_root, label)
    committed_outputs(spark, ckpt_dir).write.mode("errorifexists").partitionBy(
        "partition_key"
    ).parquet(os.path.join(dest, "out_spans"))
    ck = spark.read.parquet(os.path.join(ckpt_dir, "checkpoints"))
    ck.filter(F.col("status") == "done").write.mode("errorifexists").parquet(
        os.path.join(dest, "manifest")
    )
    return dest


def restore_backup(spark: SparkSession, backup_path: str) -> DataFrame:
    """Read a snapshot written by backup_outputs."""
    return spark.read.parquet(os.path.join(backup_path, "out_spans"))


def committed_metrics(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """metrics restricted to committed attempts (same manifest semi-join as
    committed_outputs) — uncommitted attempts must not double-count."""
    mx = spark.read.parquet(os.path.join(ckpt_dir, "metrics"))
    ck = spark.read.parquet(os.path.join(ckpt_dir, "checkpoints"))
    committed = (
        ck.filter(F.col("status") == "done")
        .select("run_id", "partition_key", "attempt_id")
        .distinct()
    )
    return mx.join(
        F.broadcast(committed), ["run_id", "partition_key", "attempt_id"], "left_semi"
    )


def batch_summary(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """The reference's batch-summary shape (batch_processor.py:321-403:
    _create_batch_summary + get_processing_statistics) over the COMMITTED
    outputs — one row: totals, success rate, per-method counts (the
    reference's method_used vocabulary: text_extraction / ocr / hybrid from
    our route column), and the confidence min/avg/max quality metrics.

    Mapping note: the reference counts a file 'failed' when every processor
    raised; this engine degrades those documents to an empty-page result
    and SIGNALS them (parse fallbacks are counted at ingest, validation
    failures here), so `failed_extractions` reports the validation-failed
    count — the nearest committed-table analog, stated rather than
    silently redefined. Timestamps are the caller's concern (the reference
    stamps time.strftime at :399 — nondeterministic)."""
    out = committed_outputs(spark, ckpt_dir)
    method = (
        F.when(F.col("route") == "text", "text_extraction")
        .when(F.col("route") == "ocr", "ocr")
        .otherwise("hybrid")
    )
    return (
        out.select("doc_id", "validation_failed", "extraction_confidence",
                   method.alias("m"))
        .agg(
            F.count(F.lit(1)).alias("total_files"),
            (F.count(F.lit(1)) - F.sum("validation_failed")).cast("long")
            .alias("successful_extractions"),
            F.sum("validation_failed").cast("long").alias("failed_extractions"),
            F.round(
                100.0 * (F.count(F.lit(1)) - F.sum("validation_failed"))
                / F.count(F.lit(1)), 2
            ).alias("success_rate_percent"),
            F.sum(F.when(F.col("m") == "text_extraction", 1).otherwise(0))
            .cast("long").alias("method_text_extraction"),
            F.sum(F.when(F.col("m") == "ocr", 1).otherwise(0))
            .cast("long").alias("method_ocr"),
            F.sum(F.when(F.col("m") == "hybrid", 1).otherwise(0))
            .cast("long").alias("method_hybrid"),
            F.round(F.avg("extraction_confidence"), 2)
            .alias("average_confidence_score"),
            F.round(F.min("extraction_confidence"), 4)
            .alias("min_confidence_score"),
            F.round(F.max("extraction_confidence"), 4)
            .alias("max_confidence_score"),
        )
    )


def quality_report(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Operational rollup over the COMMITTED outputs: per (vendor, route)
    doc counts, confidence distribution, validation-failure and OCR rates —
    the corpus-level form of the reference's batch summary + accuracy
    rubrics (batch_processor.py:321-403, test_enhanced_processor.py:158-171)."""
    out = committed_outputs(spark, ckpt_dir)
    return (
        out.groupBy("vendor", "route")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("extraction_confidence"), 4).alias("avg_confidence"),
            F.round(F.expr("percentile(extraction_confidence, 0.1)"), 4).alias("p10_confidence"),
            F.round(F.expr("percentile(extraction_confidence, 0.9)"), 4).alias("p90_confidence"),
            F.round(F.avg("validation_failed"), 4).alias("validation_failure_rate"),
            F.round(F.avg("ocr_used"), 4).alias("ocr_rate"),
            F.sum(F.expr("size(out_spans)")).cast("long").alias("total_spans"),
        )
        .orderBy("vendor", "route")
    )


def with_partition_key(df: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    return df.withColumn(
        "partition_key", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, ckpt_dir: str, run_id: str) -> list[int]:
    """Buckets already committed for ``run_id``, collected to the driver."""
    from ..schemas import CHECKPOINT_SCHEMA

    try:
        ck = spark.read.schema(CHECKPOINT_SCHEMA).parquet(os.path.join(ckpt_dir, "checkpoints"))
    except AnalysisException:  # no run has committed into ckpt_dir yet
        return []
    rows = (
        ck.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("partition_key")
        .distinct()
        .collect()
    )
    return sorted(r[0] for r in rows)


def resume_filter(df: DataFrame, done: list[int]) -> DataFrame:
    """Drop documents in the ``done`` buckets (see completed_buckets). A
    literal filter: the plan never reads the checkpoint table."""
    if not done:
        return df
    return df.filter(~F.col("partition_key").isin(done))


def local_rows(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """Driver-side ``rows`` as a DataFrame whose plan is a ``LocalRelation``
    (built from an Arrow table). ``createDataFrame`` over a list of tuples
    plans a pickled Python RDD instead, which costs a Python-worker job per
    write however few the rows."""
    import pyarrow as pa

    cols = {name: [r[i] for r in rows] for i, name in enumerate(schema.names)}
    return spark.createDataFrame(pa.table(cols), schema)


def write_outputs(
    result: DataFrame,
    spark: SparkSession,
    ckpt_dir: str,
    run_id: str,
    attempt_id: str | None = None,
) -> int:
    """Commit ``result`` (extraction rows with a partition_key) as one
    attempt: the out_spans rows, then per-bucket metrics rows, then the
    checkpoint rows — the checkpoint write is the COMMIT (see module
    docstring). ``result`` is persisted so that it is computed once: the
    out_spans append and the per-bucket stats both read the cached rows.
    Returns the number of documents committed."""
    import datetime
    import uuid

    from ..schemas import CHECKPOINT_SCHEMA, METRICS_SCHEMA

    attempt_id = attempt_id or uuid.uuid4().hex
    result = result.persist()
    try:
        stat_rows = (
            result.groupBy("partition_key")
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_pages").cast("long").alias("pages"),
                F.sum("ocr_used").cast("long").alias("ocr_fallbacks"),
                F.sum("validation_failed").cast("long").alias("validation_failures"),
            )
            .collect()
        )
        if not stat_rows:
            return 0
        result.select(
            "doc_id", "vendor", "route", "out_spans", "validation_failed", "ocr_used",
            "n_pages", "extraction_confidence", F.lit(run_id).alias("run_id"),
            F.lit(attempt_id).alias("attempt_id"), "partition_key",
        ).write.mode("append").parquet(os.path.join(ckpt_dir, "out_spans"))
    finally:
        result.unpersist()

    # timezone-aware: a naive datetime would be read in the session timezone
    now = datetime.datetime.now(datetime.timezone.utc)
    # metrics BEFORE checkpoints: the checkpoint append is the commit point,
    # so a crash anywhere earlier leaves only uncommitted (orphan) rows.
    mx_rows = [
        (run_id, attempt_id, "extract", r["partition_key"], metric, int(r[metric]))
        for r in stat_rows
        for metric in ("docs", "pages", "ocr_fallbacks", "validation_failures")
    ]
    local_rows(spark, mx_rows, METRICS_SCHEMA).write.mode("append").parquet(
        os.path.join(ckpt_dir, "metrics"))
    ck_rows = [
        (run_id, r["partition_key"], attempt_id, "done", r["docs"], r["pages"],
         r["ocr_fallbacks"], r["validation_failures"], now)
        for r in stat_rows
    ]
    local_rows(spark, ck_rows, CHECKPOINT_SCHEMA).write.mode("append").parquet(
        os.path.join(ckpt_dir, "checkpoints"))
    return sum(r["docs"] for r in stat_rows)
