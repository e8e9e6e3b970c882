"""Traced run: spans around calls into the engine's layers, Spark event-log
counters, and layer probes.

Spans are recorded from the benchmark's side only: a layer's public
function is wrapped for the duration of the traced jobs, so the engine
runs unmodified. Spans are held in memory and written out as JSON when
the run ends. A span's self time is its duration minus the part of it
that its child spans cover.

Every traced run, whatever its workload, also runs the same set of layer
probes over documents drawn from that workload's seeded input, so every
per-layer metric is measured on every traced run:

* pipeline: plan build time (the median ``run_pipeline`` span), the
  Python/Arrow stage count, a fit t(n) = a + b·n over three corpus sizes,
  and per-layer wall by prefix
  materialisation over a ``localCheckpoint``-ed input (detect/route →
  extraction UDF → merge/emission), plus the UDF profiler's Python time;
* sources: forced spans scan, binaryFile listing and task count, and a
  forced parse per container form;
* checkpoint: ``run_with_checkpoint`` once (resume filter, write, bytes
  and files written) and again on the committed run_id (the resume no-op);
* streaming: a short micro-batch drain (skipped on the stream workload,
  whose traced jobs already are drains);
* curation: seven corpus-level queries over ``perfbench/testdata/sf0.01``,
  each checked against its DuckDB oracle. These are the repository's
  oracle-gated sf0.01 test tables, copied so that the benchmark reads
  nothing outside its checkout; they are fixed, so ``--seed`` does not
  apply to them.

The checkpoint resume-filter metrics time the ``resume_filter`` call: its
listing of the checkpoint table and the plan of the anti-join. The read
of the ``done`` buckets runs later, inside ``run_with_checkpoint``'s
``localCheckpoint``, and is part of that span's self time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import threading
import time

from . import inputs
from .harness import force, median

ROUTES = ("text", "hybrid", "ocr")
CURATION = (  # (module, query): the slowest corpus-level plans at scale
    ("dedup", "corpus_curation"),
    ("dedup", "dedup_clusters"),
    ("textops", "f16_tfidf_field_context"),
    ("scalepath", "ann_ivf_kmeans_topk"),
    ("dedup", "dedup_embedding_cosine"),
    ("analytics", "q3_shipping_priority"),
    ("analytics", "q5_region_volume"),
)
CURATION_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "testdata", "sf0.01")
PROBE_DOCS_PER_FORM = 20
CHECKPOINT_BUCKETS = 4  # of the corpus's 64, for the checkpoint probe
PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas|ArrowWindowPython)\b")


class Tracer:
    """In-memory spans: (id, name, start, end, parent). Parents follow a
    per-thread stack, so spans opened in Spark's callback threads (the
    stream's foreachBatch) nest correctly."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": time.time(), "end": None,
                   "parent": stack[-1] if stack else None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "start": start,
                   "end": end, "parent": None, **attrs}
            self.spans.append(rec)
        return rec

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def self_time(self, rec: dict) -> float:
        kids = sorted((max(c["start"], rec["start"]), min(c["end"], rec["end"]))
                      for c in self.spans if c["parent"] == rec["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def descendants(self, rec: dict) -> list[dict]:
        out, todo = [], [rec["id"]]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s["parent"] == pid]
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([dict(s, self_s=self.self_time(s)) for s in self.spans], f)


# ------------------------------------------------------------ event log --

def event_log_windows(log_dir: str, windows: dict[str, list[tuple[float, float]]]) -> dict:
    """Per-window Spark counters from the completed event log. A job,
    stage or task belongs to the window its submission/launch time falls
    in. Returns {window name: {metric: value summed over the window}} plus
    the window count under 'n'."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    keys = ("jobs", "stages", "tasks", "executor_run_s", "scheduler_delay_s",
            "max_task_s", "shuffle_write_bytes", "spill_bytes", "wall_s")
    out = {k: dict.fromkeys(keys, 0.0) for k in windows}
    for k, ws in windows.items():
        out[k]["n"] = len(ws)
        out[k]["wall_s"] = sum(b - a for a, b in ws)

    def owner(t_ms: float):
        t = t_ms / 1000.0
        for k, ws in windows.items():
            if any(a <= t <= b for a, b in ws):
                return out[k]
        return None

    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if (w := owner(ev["Submission Time"])) is not None:
                        w["jobs"] += 1
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    if (w := owner(info.get("Submission Time", 0))) is not None:
                        w["stages"] += 1
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    if (w := owner(ti["Launch Time"])) is None:
                        continue
                    dur = (ti["Finish Time"] - ti["Launch Time"]) / 1000.0
                    run = tm.get("Executor Run Time", 0) / 1000.0
                    other = (tm.get("Executor Deserialize Time", 0)
                             + tm.get("Result Serialization Time", 0)
                             + ti.get("Getting Result Time", 0)) / 1000.0
                    w["tasks"] += 1
                    w["executor_run_s"] += run
                    w["scheduler_delay_s"] += max(0.0, dur - run - other)
                    w["max_task_s"] = max(w["max_task_s"], dur)
                    w["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    w["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return out


# --------------------------------------------------------------- probes --

def _engine():
    from pdf_extractor_scripts_spark.operators import checkpoint, detect, extract, skew
    from pdf_extractor_scripts_spark.plans import pipeline
    from pdf_extractor_scripts_spark.sources import spans
    from pdf_extractor_scripts_spark.streaming import extract_stream

    return pipeline, spans, extract_stream, checkpoint, detect, extract, skew


def _walk_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return size, n


class Probes:
    """Layer probes for one traced run. ``m`` collects per-layer metrics."""

    def __init__(self, spark, tracer: Tracer, run_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.dir = os.path.join(run_dir, "probe")
        self.m: dict[str, float] = {}
        self.mismatch = 0  # curation queries that differ from their oracle
        self.parse_failures = 0  # probe-tree documents with parse_ok = false
        self.curation_windows: list[tuple[float, float]] = []
        self.fit_points: list[tuple[int, float]] = []  # (docs, job s)

    def timed(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(name) as rec:
            out = fn(*args, **kwargs)
        return out, rec["end"] - rec["start"]

    # pipeline + spans source ------------------------------------------
    def pipeline(self, corpus: str) -> None:
        pipeline, spans, _, _, detect, extract, skew = _engine()
        spark = self.spark
        # fixed + marginal cost: t(n) = a + b·n over 1/2, 1/4 and 1/8 of
        # the buckets, one job each, back to back
        counts = {r["bucket"]: r["count"] for r in
                  spark.read.parquet(corpus).groupBy("bucket").count().collect()}
        pts = []
        for frac in (2, 4, 8):
            bk = sorted(counts)[: max(1, len(counts) // frac)]
            t = self.timed("probe.fit", force, pipeline.run_pipeline(
                spans.read_spans(spark, corpus, buckets=bk)))[1]
            pts.append((sum(counts[b] for b in bk), t))
        self.fit_points = pts
        mx = sum(n for n, _ in pts) / 3
        my = sum(t for _, t in pts) / 3
        sxx = sum((n - mx) ** 2 for n, _ in pts)
        b = sum((n - mx) * (t - my) for n, t in pts) / sxx if sxx else 0.0
        self.m["plans.pipeline.fixed_s"] = my - b * mx
        self.m["plans.pipeline.marginal_ms_per_doc"] = b * 1000.0

        # prefix materialisation over a localCheckpoint-ed input; the scan
        # layer is that checkpoint: every span decoded into executor memory
        base, self.m["sources.spans.read_spans_s"] = self.timed(
            "probe.read_spans",
            lambda: spans.read_spans(spark, corpus).localCheckpoint(eager=True))
        route_df = detect.with_route(detect.with_vendor(detect.with_assembled_text(base)))
        _, t1 = self.timed("probe.prefix.route", force, route_df)
        udf_df = extract.with_extraction(skew.with_weight(route_df))
        _, t2 = self.timed("probe.prefix.extract", force, udf_df)
        full = pipeline.run_pipeline(base)
        _, t3 = self.timed("probe.prefix.full", force, full)
        self.m["operators.detect.route_s"] = t1
        self.m["operators.extract.udf_s"] = t2 - t1
        self.m["operators.merge.emit_s"] = t3 - t2
        plan = full._jdf.queryExecution().executedPlan().toString()
        self.m["plans.pipeline.python_stages"] = len(PYTHON_NODE.findall(plan))
        # plan build: every run_pipeline call of the traced jobs and of the
        # probes above is a span (the wrappers are on); a call only builds
        self.m["plans.pipeline.build_s"] = median(
            [s["end"] - s["start"] for s in self.tracer.named("plans.pipeline.run_pipeline")])
        got = {r["route"]: r["count"] for r in route_df.groupBy("route").count().collect()}
        for r in ROUTES:
            self.m[f"operators.detect.docs.{r}"] = got.get(r, 0)

        # Python-side time of the Arrow UDF stages (summed over workers)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            self.timed("probe.profiled", force, pipeline.run_pipeline(base))
            stats = spark._profiler_collector._perf_profile_results
            self.m["operators.extract.udf_python_s"] = sum(s.total_tt for s in stats.values())
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            spark.profile.clear()
        base.unpersist()

    # raw sources ---------------------------------------------------------
    def parse(self, tree: str) -> None:
        _, spans, *_ = _engine()
        spark = self.spark
        binary, self.m["sources.spans.list_s"] = self.timed(
            "probe.list", spans.read_binary_docs, spark, tree, glob="*")
        self.m["sources.spans.scan_tasks"] = binary.rdd.getNumPartitions()
        parsed = spans.parse_binary_to_spans(binary, container="auto")
        self.m["sources.spans.parse_s"] = self.timed("probe.parse", force, parsed)[1]
        self.parse_failures = parsed.filter("NOT parse_ok").count()
        for form in inputs.RAW_FORMS:
            pattern = f"*.{form}"
            files = glob.glob(os.path.join(tree, "**", pattern), recursive=True)
            self.m[f"sources.spans.docs.{form}"] = len(files)
            t = 0.0
            if files:
                sub = spans.read_binary_docs(spark, tree, glob=pattern)
                t = self.timed(f"probe.parse.{form}", force,
                               spans.parse_binary_to_spans(sub, container="auto"))[1]
            self.m[f"sources.spans.parse_s.{form}"] = t

    def raw_tree(self, docs: list[dict]) -> str:
        """A small tree: PROBE_DOCS_PER_FORM docs in each container form."""
        n = PROBE_DOCS_PER_FORM * len(inputs.RAW_FORMS)
        return inputs.build_raw_tree(os.path.join(self.dir, "raw"), docs[:n])

    # checkpoint ------------------------------------------------------------
    def checkpoint(self, corpus: str, with_resume_filter: bool = True) -> None:
        pipeline, spans, *_ = _engine()
        spark = self.spark
        ck = os.path.join(self.dir, "ckpt")
        docs = spans.read_spans(spark, corpus, buckets=list(range(CHECKPOINT_BUCKETS)))
        self.timed("probe.ckpt.first", pipeline.run_with_checkpoint, spark, docs, ck, "probe")
        _, self.m["operators.checkpoint.resume_noop_s"] = self.timed(
            "probe.ckpt.noop", pipeline.run_with_checkpoint, spark, docs, ck, "probe")
        first = self._child("probe.ckpt.first")
        noop = self._child("probe.ckpt.noop")
        self.m["operators.checkpoint.write_s"] = first["write"]
        if with_resume_filter:
            self.m["operators.checkpoint.resume_filter_first_s"] = first["resume"]
            self.m["operators.checkpoint.resume_filter_last_s"] = noop["resume"]
        size, n = _walk_bytes(ck)
        self.m["operators.checkpoint.bytes_written"] = size
        self.m["operators.checkpoint.files_written"] = n

    def _child(self, parent_name: str) -> dict:
        """Resume-filter and write walls under the last ``parent_name`` span."""
        root = self.tracer.named(parent_name)[-1]
        out = {"resume": 0.0, "write": 0.0}
        for c in self.tracer.descendants(root):
            if c["name"] == "operators.checkpoint.resume_filter":
                out["resume"] += c["end"] - c["start"]
            elif c["name"] == "operators.checkpoint.write_outputs":
                out["write"] += c["end"] - c["start"]
        return out

    # streaming -------------------------------------------------------------
    def stream(self, docs: list[dict]) -> None:
        """One micro-batch of 100 docs."""
        _, _, extract_stream, *_ = _engine()
        root = os.path.join(self.dir, "stream")
        inputs.build_landing(root, docs[:100], 100)
        q = extract_stream.start_extraction_stream(
            self.spark, os.path.join(root, "landing"), os.path.join(root, "out"),
            run_id="probe", stream_checkpoint=os.path.join(root, "source-ckpt"),
            max_files_per_trigger=1)
        try:
            q.awaitTermination()
        finally:
            q.stop()
        self.stream_metrics([p for p in q.recentProgress if p.numInputRows > 0])

    def stream_metrics(self, progress: list) -> None:
        for key, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                          ("walCommit", "wal_commit"), ("latestOffset", "latest_offset")):
            self.m[f"streaming.extract_stream.{name}_ms"] = median(
                [p.durationMs.get(key, 0) for p in progress])

    # curation --------------------------------------------------------------
    def curation(self) -> None:
        import __spark_entry__ as entry
        import pyspark.sql.functions as F
        from pdf_extractor_scripts_spark.plans.compare import compare_frames, duckdb_connection
        from pdf_extractor_scripts_spark.plans.dedup import minhash_signatures

        tables = CURATION_TABLES
        queries, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb_connection(tables)
        try:
            for module, name in CURATION:
                with self.tracer.span(f"plans.{module}.{name}") as rec:
                    df, build = self.timed(f"plans.{module}.{name}.build",
                                           queries[name], self.spark, tables)
                    got = df.toPandas()
                self.curation_windows.append((rec["start"], rec["end"]))
                self.m[f"plans.{module}.{name}_s"] = rec["end"] - rec["start"]
                self.m[f"plans.{module}.{name}_build_s"] = build
                if name in oracles and compare_frames(got, con.sql(oracles[name]).df()):
                    self.mismatch += 1
        finally:
            con.close()
        sig = minhash_signatures(self.spark, tables, 16)
        bands = None
        for t in range(4):
            b = sig.select(F.concat_ws(",", *[f"mh{4 * t + j}" for j in range(4)]).alias("b"))
            bands = b if bands is None else bands.union(b)
        self.m["plans.dedup.max_bucket"] = bands.groupBy("b").count().agg(
            F.max("count")).first()[0]


def pipeline_wrappers(tracer: Tracer) -> None:
    """Wrap the layer entry points the workloads and the engine call.
    ``read_spans`` and ``run_pipeline`` only build plans; a batch job's
    execution is its noop write, wrapped as ``sink.noop_write``."""
    from . import workloads

    pipeline, spans, extract_stream, *_ = _engine()
    tracer.wrap(workloads, "force", "sink.noop_write")
    tracer.wrap(spans, "read_spans", "sources.spans.read_spans")
    tracer.wrap(spans, "read_binary_docs", "sources.spans.read_binary_docs")
    tracer.wrap(spans, "parse_binary_to_spans", "sources.spans.parse_binary_to_spans")
    tracer.wrap(pipeline, "run_pipeline", "plans.pipeline.run_pipeline")
    tracer.wrap(pipeline, "run_with_checkpoint", "plans.pipeline.run_with_checkpoint")
    tracer.wrap(pipeline, "resume_filter", "operators.checkpoint.resume_filter")
    tracer.wrap(pipeline, "write_outputs", "operators.checkpoint.write_outputs")
    tracer.wrap(extract_stream, "run_with_checkpoint",
                "streaming.extract_stream.run_with_checkpoint")

