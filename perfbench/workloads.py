"""The benchmark's workloads. Each drives the engine through its public
entry points from one driver process (a closed loop with one caller):

* ``spans_batch``: the batch CLI path. A bucketed spans table written once
  with ``sources.spans.write_spans``; a job is ``read_spans`` →
  ``plans.pipeline.run_pipeline`` → noop sink. At 8000 documents the
  per-job fixed cost (plan build, scheduling, task start-up) is an eighth
  to a third of a job; per-document detection, extraction and merge make up
  the rest.
* ``stream_microbatch``: landing parquet files drained by
  ``streaming.extract_stream.start_extraction_stream`` one file per
  trigger into a fresh checkpointed output. Per-batch fixed cost and the
  checkpoint layer's reads and writes dominate.

A workload knows how to generate its inputs, warm up, run one job, and
check the engine's output against the pure-Python oracle. Input
generation is split so that set-up is timed the same on a cache hit and a
cache miss: ``prepare`` writes files without Spark before the session
starts, and ``materialise`` runs the Spark-side part after the timed
warm-up, where only the untimed burn-in follows it.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from . import inputs
from .harness import force

SAMPLE_DOCS = 48  # documents per run checked against oracle.extract_document


def _engine():
    from pdf_extractor_scripts_spark.plans import pipeline
    from pdf_extractor_scripts_spark.sources import spans
    from pdf_extractor_scripts_spark.streaming import extract_stream

    return pipeline, spans, extract_stream


def span_mismatches(rows, expected: dict[str, list]) -> list[str]:
    """doc_ids whose engine out_spans differ from the oracle's on
    (kind, text, media_ref, order), plus expected docs with no row."""
    from pdf_extractor_scripts_spark.oracle import extract_document

    bad, seen = [], set()
    for r in rows:
        doc_id = r["doc_id"]
        seen.add(doc_id)
        want = [s.as_tuple() for s in
                extract_document(doc_id, expected[doc_id])["out_spans"]]
        got = [(s["kind"], s["text"], s["media_ref"], s["order"])
               for s in r["out_spans"]]
        if want != got:
            bad.append(doc_id)
    return bad + sorted(set(expected) - seen)


class Job:
    """Result of one timed unit of work."""

    def __init__(self, docs: int, wall_s: float, samples: list[float],
                 progress: list | None = None):
        self.docs = docs
        self.wall_s = wall_s
        self.samples = samples  # per-job walls (stream: per micro-batch)
        self.progress = progress or []


class Workload:
    name = ""
    job_docs = 0  # documents one job submits

    def __init__(self, cache: inputs.InputCache, seed: int, run_dir: str):
        self.cache = cache
        self.seed = seed
        self.run_dir = run_dir
        self.rng = random.Random(seed)

    def prepare(self) -> None:
        """Seeded inputs that need no Spark, including the warm-up's."""
        raise NotImplementedError

    def materialise(self, spark) -> None:
        """Seeded inputs written through the engine (after the warm-up)."""

    def warm(self, spark) -> None:
        """A small job through the workload's engine path, timed as part
        of set-up: on a fresh JVM it pays for the first Python workers and
        the cold JIT."""
        pipeline, _, _ = _engine()
        force(pipeline.run_pipeline(spark.read.parquet(self.warm_input)))

    def burn_in(self, spark) -> None:
        """Untimed full-size work right before the timed jobs: the JIT and
        the fresh Python workers keep speeding up for a few jobs."""
        self.job(spark)

    def job(self, spark) -> Job:
        raise NotImplementedError

    def gate(self, spark) -> dict:
        """{'checked', 'mismatch', 'failed', 'notes'}: run outside the
        timed region on every run."""
        raise NotImplementedError

    def probe_docs(self) -> list[dict]:
        """The documents the layer probes of a traced run work on."""
        return self.docs

    def sample(self, ids: list[str]) -> list[str]:
        return self.rng.sample(sorted(ids), min(SAMPLE_DOCS, len(ids)))


class SpansBatch(Workload):
    name = "spans_batch"
    N_DOCS = 8000
    WARM_DOCS = 200
    job_docs = N_DOCS

    def prepare(self) -> None:
        self.docs = inputs.make_docs(self.N_DOCS, self.seed)
        warm = self.cache.get(
            self.name + ".warm", str(self.WARM_DOCS), self.seed,
            lambda p: inputs.write_doc_parquet(
                inputs.make_docs(self.WARM_DOCS, self.seed + 1, first=self.N_DOCS),
                os.path.join(p, "warm.parquet")))
        self.warm_input = os.path.join(warm, "warm.parquet")

    def materialise(self, spark) -> None:
        path = self.cache.get(
            self.name, str(self.N_DOCS), self.seed,
            lambda p: inputs.build_spans_corpus(spark, p, self.docs))
        self.corpus = os.path.join(path, "corpus")

    def job(self, spark) -> Job:
        pipeline, spans, _ = _engine()
        t0 = time.perf_counter()
        force(pipeline.run_pipeline(spans.read_spans(spark, self.corpus)))
        wall = time.perf_counter() - t0
        return Job(self.N_DOCS, wall, [wall])

    def gate(self, spark) -> dict:
        import pyspark.sql.functions as F

        pipeline, spans, _ = _engine()
        table = spans.read_spans(spark, self.corpus)
        n = table.count()
        ids = self.sample([d["doc_id"] for d in self.docs])
        want = {d["doc_id"]: d["spans"] for d in self.docs if d["doc_id"] in set(ids)}
        rows = pipeline.run_pipeline(table.filter(F.col("doc_id").isin(ids))).collect()
        bad = span_mismatches(rows, want)
        return {"checked": len(ids), "mismatch": len(bad), "failed": 0,
                "notes": [f"corpus rows {n} (expected {self.N_DOCS})"] if n != self.N_DOCS else []}


class StreamMicrobatch(Workload):
    name = "stream_microbatch"
    PER_FILE = 250
    N_FILES = 3
    WARM_DOCS = 200  # burn-in: two landing files of 100
    job_docs = PER_FILE * N_FILES

    def prepare(self) -> None:
        n = self.PER_FILE * self.N_FILES
        self.docs = inputs.make_docs(n, self.seed)
        warm_docs = inputs.make_docs(self.WARM_DOCS, self.seed + 1, first=n)
        path = self.cache.get(
            self.name, f"{self.N_FILES}x{self.PER_FILE}w{self.WARM_DOCS}", self.seed,
            lambda p: self._build(p, warm_docs))
        self.landing = os.path.join(path, "landing")
        self.warm_input = self.warm_landing = os.path.join(path, "warm", "landing")
        self.n_drains = 0

    def _build(self, path: str, warm_docs: list[dict]) -> None:
        inputs.build_landing(path, self.docs, self.PER_FILE)
        os.makedirs(os.path.join(path, "warm"))
        inputs.build_landing(os.path.join(path, "warm"), warm_docs, self.WARM_DOCS // 2)

    def drain(self, spark, landing: str) -> tuple[str, list]:
        """One availableNow drain of ``landing`` into a fresh output;
        returns (output dir, progress of batches that read rows)."""
        _, _, extract_stream = _engine()
        self.n_drains += 1
        out = os.path.join(self.run_dir, f"stream-{self.n_drains}")
        q = extract_stream.start_extraction_stream(
            spark, landing, os.path.join(out, "out"),
            run_id=f"bench{self.n_drains}",
            stream_checkpoint=os.path.join(out, "source-ckpt"),
            max_files_per_trigger=1)
        try:
            q.awaitTermination()
        finally:
            q.stop()
        return out, [p for p in q.recentProgress if p.numInputRows > 0]

    def burn_in(self, spark) -> None:
        out, _ = self.drain(spark, self.warm_landing)
        shutil.rmtree(out, ignore_errors=True)

    def job(self, spark) -> Job:
        t0 = time.perf_counter()
        out, progress = self.drain(spark, self.landing)
        wall = time.perf_counter() - t0
        self.last_out = os.path.join(out, "out")
        docs = sum(p.numInputRows for p in progress)
        return Job(docs, wall, [p.durationMs["triggerExecution"] / 1000.0
                                for p in progress], progress)

    def gate(self, spark) -> dict:
        """Exactly-once: the committed out_spans rows are the input docs,
        each once; sampled rows match the oracle."""
        import pyspark.sql.functions as F
        from pdf_extractor_scripts_spark.operators.checkpoint import committed_outputs

        out = committed_outputs(spark, self.last_out)
        stats = out.agg(F.count(F.lit(1)).alias("n"),
                        F.countDistinct("doc_id").alias("ids")).first()
        ids = self.sample([d["doc_id"] for d in self.docs])
        want = {d["doc_id"]: d["spans"] for d in self.docs if d["doc_id"] in set(ids)}
        rows = out.filter(F.col("doc_id").isin(ids)).select("doc_id", "out_spans").collect()
        bad = span_mismatches(rows, want)
        n = len(self.docs)
        missing = max(0, n - int(stats["ids"]))
        notes = []
        if stats["n"] != n or stats["ids"] != n:
            notes.append(f"committed rows {stats['n']} distinct {stats['ids']} "
                         f"(expected {n} each)")
        return {"checked": len(ids), "mismatch": len(bad) + int(stats["n"] - stats["ids"]),
                "failed": missing, "notes": notes}


WORKLOADS = {w.name: w for w in (SpansBatch, StreamMicrobatch)}
