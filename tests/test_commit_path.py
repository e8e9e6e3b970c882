"""The per-micro-batch fixed cost: the commit rows are local relations with
a correct commit timestamp, the extraction UDF returns one result struct
that emission reads directly, and the generic text bank only runs over the
rows whose result it produces."""

from __future__ import annotations

import json
import time

import pyspark.sql.functions as F
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from pdf_extractor_scripts_spark.fixtures import corpus_df
from pdf_extractor_scripts_spark.operators.checkpoint import committed_metrics
from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline, run_with_checkpoint


def _plan_nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_commit_rows_are_local_relations(spark, tmp_path, monkeypatch):
    """Every DataFrame the commit creates from driver-side rows (the metrics
    and the checkpoint rows) optimizes to a LocalRelation, not a pickled
    Python RDD; the committed metrics still count every document."""
    docs = corpus_df(spark, n_docs=30, seed=42).localCheckpoint(eager=True)
    created = []
    orig = SparkSession.createDataFrame

    def spy(self, *args, **kwargs):
        df = orig(self, *args, **kwargs)
        created.append(df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName())
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    ck = str(tmp_path / "ck")
    assert run_with_checkpoint(spark, docs, ck, run_id="r1") == 30
    monkeypatch.undo()
    assert created == ["LocalRelation", "LocalRelation"]
    mx = committed_metrics(spark, ck)
    assert mx.filter(F.col("metric") == "docs").agg(F.sum("value")).first()[0] == 30


def test_checkpoint_updated_at_is_now_in_any_session_timezone(spark, tmp_path):
    """The commit timestamp is the current instant whatever the session
    timezone: a naive wall-clock datetime would be read in the session
    timezone and land hours away under America/Los_Angeles."""
    docs = corpus_df(spark, n_docs=12, seed=42).localCheckpoint(eager=True)
    ck = str(tmp_path / "ck")
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        assert run_with_checkpoint(spark, docs, ck, run_id="r1") == 12
        stamps = [r[0] for r in spark.read.parquet(f"{ck}/checkpoints")
                  .select(F.col("updated_at").cast("double")).collect()]
    finally:
        spark.conf.set(key, prev)
    now = time.time()
    assert stamps and all(abs(s - now) < 60 for s in stamps), (stamps, now)


def test_pipeline_extracts_one_result_struct(spark):
    """One Arrow UDF that returns one EXTRACT_RESULT struct, and no
    per-route result slots or section-pick maps downstream of it."""
    from pdf_extractor_scripts_spark.operators.extract import EXTRACT_RESULT

    df = run_pipeline(corpus_df(spark, n_docs=24, seed=42))
    qe = df._jdf.queryExecution()
    text = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    for gone in ("map_from_entries", "res_t", "res_o"):
        assert gone not in text, gone
    (udf_node,) = [n for n in _plan_nodes(qe.executedPlan())
                   if n.getClass().getSimpleName() == "ArrowEvalPythonExec"]
    udfs = udf_node.udfs()
    assert udfs.size() == 1
    got = StructType.fromJson(json.loads(udfs.apply(0).dataType().json()))
    assert got == EXTRACT_RESULT


def test_generic_bank_skips_rows_that_take_the_image_parse(spark, monkeypatch):
    """Generic rows whose input is the OCR side take the image-bank parse,
    so the generic text bank (_argmax_extract) never runs over them; a
    generic hybrid whose OCR primary fails P10 still flips to a text-bank
    extraction of its text side."""
    import pandas as pd

    from pdf_extractor_scripts_spark import config as C
    from pdf_extractor_scripts_spark.operators import kernel
    from pdf_extractor_scripts_spark.operators.detect import (
        with_assembled_text, with_route, with_vendor,
    )
    from pdf_extractor_scripts_spark.operators.extract import extraction_inputs

    routed = with_route(with_vendor(with_assembled_text(corpus_df(spark, n_docs=400, seed=42))))
    args = routed.select(*[c.alias(f"a{i}") for i, c in enumerate(extraction_inputs())]).toPandas()
    cols = [args[f"a{i}"].astype(object) for i in range(9)]
    vendor, route, fb_primary = cols[0], cols[1], cols[2]
    generic = vendor == "generic"
    ocr_side = generic & ((route == "ocr") | ((route == "hybrid") & (fb_primary == "ocr")))
    assert ocr_side.sum() > 0 and (generic & ~ocr_side).sum() > 0

    rows_in: list[pd.Index] = []
    orig = kernel._argmax_extract

    def counting(sub, key, patterns):
        if key == next(iter(C.FIELD_BANKS["generic"])):
            rows_in.append(sub.index)
        return orig(sub, key, patterns)

    monkeypatch.setattr(kernel, "_argmax_extract", counting)
    res = kernel.extract_routed(*cols)
    first, *flips = rows_in
    text_side = generic & ~ocr_side & cols[5].notna()
    assert set(first) == set(args.index[text_side])
    # a P10 flip re-extracts at most the OCR-primary hybrids, from their
    # text side
    for idx in flips:
        assert len(idx) <= (ocr_side & (route == "hybrid")).sum()
    # every OCR-side row still carries its image-parse result
    assert res.loc[ocr_side, "fields"].notna().all()
