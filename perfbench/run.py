#!/usr/bin/env python3
"""Extraction-engine benchmark.

    python3 perfbench/run.py --workload spans_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``.perfbench_work/inputs``), the engine runs at ``local[nproc]``
from this one driver process, and every run checks the engine's output
against the pure-Python oracle outside the timed region.

``--trace 0`` measures the end-to-end metrics: a cold set-up (driver JVM
launch, session start and a small warm-up job), then jobs back to back (a
closed loop with one caller) until ``--seconds`` have passed.
``--trace 1`` alternates untraced and traced jobs, ``--seconds``/2 of each,
runs the layer probes (perfbench/trace.py), and prints one layer table per
workload.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the metrics ``BENCHMARK.json`` lists for the chosen mode. Lines before
it are a human-readable report, including the failure share and the
oracle mismatch count, which are 0 on a healthy engine and so are carried
by ``correct``/``failed`` rather than as metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.harness import median  # noqa: E402


def metric_spec(key: str) -> dict[str, str]:
    """{name: unit} for ``end_to_end`` or ``per_layer`` in BENCHMARK.json."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


class Run:
    def __init__(self, args):
        from perfbench import inputs
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.run_dir = os.path.join(harness.WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        harness.prepare_env(self.run_dir)
        self.cache = inputs.InputCache(harness.WORK)
        self.w = WORKLOADS[args.workload](self.cache, args.seed, self.run_dir)
        self.rss = harness.RssSampler()
        self.spark = None
        self.jvm = None
        self.event_log: str | None = None  # set for traced runs
        self.failed_jobs = 0
        self.windows: list[tuple[float, float]] = []  # traced job walls
        self.report: list[str] = []

    def setup(self) -> float:
        """Cold set-up, as a user of the engine pays it: launch the driver
        JVM and start the session, then a small warm-up job, which starts
        the first Python workers on a cold JIT. Input generation (cached
        across runs) is timed apart as gen_s: its Spark-free part runs
        before the session and its Spark part after the warm-up, so a cache
        hit and a cache miss time the same set-up. The burn-in that
        follows is untimed."""
        self.w.prepare()
        t0 = time.perf_counter()
        self.spark = harness.new_session(self.run_dir, f"perfbench-{self.w.name}",
                                         self.event_log)
        t = time.perf_counter() - t0
        self.jvm = harness.jvm_process(self.spark)
        self.rss.root_pid = self.jvm.pid
        w = harness.timed(self.w.warm, self.spark)[1]
        self.w.materialise(self.spark)
        b = harness.timed(self.w.burn_in, self.spark)[1]
        self.report.append(f"  setup: session {t:.3f} s + warm-up {w:.3f} s; "
                           f"gen_s {self.cache.gen_s:.3f}; burn-in {b:.3f} s")
        return t + w

    def one_job(self, tracer=None):
        """One job; a failure is counted and returns None. With a tracer the
        job is a span, and its window is kept for the event-log counters."""
        with tracer.span("job") if tracer else contextlib.nullcontext() as rec:
            try:
                job = self.w.job(self.spark)
            except Exception:
                traceback.print_exc()
                self.failed_jobs += 1
                job = None
        if rec is not None:
            self.windows.append((rec["start"], rec["end"]))
            for p in (job.progress if job else []):
                self._trigger_span(tracer, rec, p)
        return job

    def loop(self, seconds: float) -> list:
        """Jobs back to back until ``seconds`` of job wall have passed."""
        jobs, spent = [], 0.0
        while (spent < seconds or not jobs) and self.failed_jobs < 3:
            t0 = time.perf_counter()
            jobs.append(self.one_job())
            spent += time.perf_counter() - t0
        return jobs

    def paired_loop(self, seconds: float, tracer) -> tuple[list, list]:
        """Untraced and traced jobs alternately, ``seconds`` of each, so
        that warm-up drift does not show up as tracing overhead. With one
        pair (jobs longer than ``seconds``) the untraced job, which runs
        first, still carries more of that drift."""
        from perfbench import trace

        plain, traced, spent = [], [], [0.0, 0.0]
        while (min(spent) < seconds or not traced) and self.failed_jobs < 3:
            t0 = time.perf_counter()
            plain.append(self.one_job())
            spent[0] += time.perf_counter() - t0
            trace.pipeline_wrappers(tracer)
            try:
                t0 = time.perf_counter()
                traced.append(self.one_job(tracer))
                spent[1] += time.perf_counter() - t0
            finally:
                tracer.unwrap_all()
        return plain, traced

    def gate(self) -> dict:
        try:
            g = self.w.gate(self.spark)
        except Exception:
            traceback.print_exc()
            g = {"checked": 0, "mismatch": 0, "failed": 1, "notes": ["gate raised"]}
        return g

    def summary(self, jobs: list) -> dict:
        ok = [j for j in jobs if j is not None]
        wall = sum(j.wall_s for j in ok)
        return {
            "jobs": len(jobs),
            "docs": sum(j.docs for j in ok),
            "attempted": self.w.job_docs * len(jobs),
            "failed_docs": self.w.job_docs * (len(jobs) - len(ok)),
            "wall_s": wall,
            "docs_per_s": sum(j.docs for j in ok) / wall if wall else 0.0,
            "samples": [s for j in ok for s in j.samples],
        }

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        self.close()
        if self.jvm is not None:
            harness.stop_jvm(self.jvm)
            self.jvm = None

    # ------------------------------------------------------------------
    def untraced(self) -> dict:
        setup_s = self.setup()
        self.rss.start()
        s = self.summary(self.loop(self.args.seconds))
        self.rss.stop()
        g = self.gate()
        self.close()
        failed = s["failed_docs"] + g["failed"]
        values = {
            "docs_per_s": s["docs_per_s"],
            "job_s_p50": median(s["samples"]),
            "setup_s": setup_s,
            "peak_rss_mb": self.rss.peak_bytes / 2**20,
        }
        self.report[:0] = [
            f"workload {self.w.name}  seed {self.args.seed}  cores {harness.cores()}  "
            f"jobs {s['jobs']}  samples {len(s['samples'])}  docs {s['docs']}",
            f"  job walls (s): {', '.join(f'{t:.3f}' for t in s['samples'])}",
            f"  fail_share {failed / max(1, s['attempted']):.4f} (ratio)  "
            f"mismatch_count {g['mismatch']} (count of {g['checked']} sampled docs)",
        ] + [f"  note: {n}" for n in g["notes"]]
        return self.result(values, "end_to_end", s["attempted"], failed,
                           g["mismatch"] == 0 and failed == 0)

    def traced(self) -> dict:
        from perfbench import trace

        # the event log is on from the start; the layer wrappers are on for
        # every second job, and the difference is the span overhead
        log_dir = self.event_log = os.path.join(self.run_dir, "eventlog")
        self.setup()
        tracer = trace.Tracer()
        plain_jobs, traced_jobs = self.paired_loop(self.args.seconds / 2, tracer)
        untraced = self.summary(plain_jobs)
        traced = self.summary(traced_jobs)
        trace.pipeline_wrappers(tracer)  # the probes' engine calls are spans too
        probes = trace.Probes(self.spark, tracer, self.run_dir)
        m = probes.m
        docs = self.w.probe_docs()
        corpus = getattr(self.w, "corpus", None)
        if corpus is None:  # the stream's documents as a bucketed spans table
            from perfbench import inputs

            inputs.build_spans_corpus(self.spark, probes.dir, docs)
            corpus = os.path.join(probes.dir, "corpus")
        probes.pipeline(corpus)
        probes.parse(probes.raw_tree(docs))
        is_stream = self.w.name == "stream_microbatch"
        probes.checkpoint(corpus, with_resume_filter=not is_stream)
        if is_stream:
            probes.stream_metrics([p for j in traced_jobs if j for p in j.progress])
            rf = tracer.named("operators.checkpoint.resume_filter")
            rf = [s for s in rf if s["start"] <= self.windows[-1][1]]
            m["operators.checkpoint.resume_filter_first_s"] = rf[0]["end"] - rf[0]["start"]
            m["operators.checkpoint.resume_filter_last_s"] = rf[-1]["end"] - rf[-1]["start"]
        else:
            probes.stream(docs)
        probes.curation()
        tracer.unwrap_all()
        g = self.gate()
        self.close()
        tracer.dump(os.path.join(harness.WORK, "traces",
                                 f"{self.w.name}-s{self.args.seed}.json"))

        ev = trace.event_log_windows(log_dir, {"e2e": self.windows,
                                               "curation": probes.curation_windows})
        e2e, cur = ev["e2e"], ev["curation"]
        n = max(1, e2e["n"])
        for k in ("jobs", "stages", "tasks", "executor_run_s", "scheduler_delay_s",
                  "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{k}"] = e2e[k] / n
        m["spark.max_task_s"] = e2e["max_task_s"]
        m["spark.busy_share"] = e2e["executor_run_s"] / max(1e-9, e2e["wall_s"] * harness.cores())
        m["plans.suite.shuffle_write_bytes"] = cur["shuffle_write_bytes"]
        m["plans.suite.spill_bytes"] = cur["spill_bytes"]

        u50, t50 = median(untraced["samples"]), median(traced["samples"])
        rows, layer_sum = self.layer_rows(tracer, m)
        m["trace.untraced_job_s_p50"] = u50
        m["trace.job_s_p50"] = t50
        m["trace.overhead_s"] = t50 - u50
        m["trace.layer_sum_s"] = layer_sum
        # against the traced jobs: on the stream they are the micro-batches
        # whose spans were summed
        m["trace.layer_sum_share"] = layer_sum / t50 if t50 else 0.0
        self.report += self.layer_table(tracer, rows, layer_sum, u50, t50, m, probes.fit_points)
        failed = (untraced["failed_docs"] + traced["failed_docs"] + g["failed"]
                  + probes.parse_failures)
        attempted = untraced["attempted"] + traced["attempted"]
        mismatch = g["mismatch"] + probes.mismatch
        self.report.append(
            f"  fail_share {failed / max(1, attempted):.4f} (ratio)  mismatch_count "
            f"{mismatch} (count: {g['checked']} sampled docs + {len(trace.CURATION)} queries); "
            f"parse_ok false on {probes.parse_failures} probe-tree docs")
        self.report += [f"  note: {x}" for x in g["notes"]]
        return self.result(m, "per_layer", attempted, failed, mismatch == 0 and failed == 0)

    @staticmethod
    def _trigger_span(tracer, job_rec: dict, p) -> None:
        """A micro-batch as a span: [trigger start, + triggerExecution],
        parent of the foreachBatch spans it contains."""
        import datetime

        t0 = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        rec = tracer.add("streaming.trigger", t0, t0 + p.durationMs["triggerExecution"] / 1000.0,
                         durations_ms=dict(p.durationMs))
        rec["parent"] = job_rec["id"]
        for s in tracer.spans:
            if (s["name"] == "streaming.extract_stream.run_with_checkpoint"
                    and s["parent"] is None and rec["start"] - 0.05 <= s["start"] <= rec["end"]):
                s["parent"] = rec["id"]

    # the micro-batch phases Spark times outside foreachBatch (addBatch,
    # which holds foreachBatch, is covered by the traced spans instead)
    STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit",
                     "commitOffsets")

    def layer_rows(self, tracer, m: dict) -> tuple[list, float]:
        """(name, seconds per job) rows whose sum is compared with the job.

        Stream: per micro-batch, the self time of each traced span inside
        the trigger plus Spark's own phase timings; the trigger's self time
        (what none of these cover) is left out and shows as unattributed.
        Batch: the prefix-materialisation probes (trace.Probes.pipeline),
        because a batch job's traced spans separate only plan build from
        the noop write."""
        if self.w.name == "stream_microbatch":
            triggers = tracer.named("streaming.trigger")
            n = max(1, len(triggers))
            ids = {d["id"] for t in triggers for d in tracer.descendants(t)}
            spans = [
                ("streaming.extract_stream.run_with_checkpoint",
                 "run_with_checkpoint self (localCheckpoint + count: the pipeline runs)"),
                ("operators.checkpoint.resume_filter", "resume_filter (listing + plan)"),
                ("plans.pipeline.run_pipeline", "run_pipeline (plan build)"),
                ("operators.checkpoint.write_outputs", "write_outputs"),
            ]
            rows = [(label, sum(tracer.self_time(s) for s in tracer.named(name)
                                if s["id"] in ids) / n) for name, label in spans]
            rows += [(f"spark {k}", sum(t["durations_ms"].get(k, 0) for t in triggers) / n / 1000.0)
                     for k in self.STREAM_PHASES]
        else:
            names = ["sources.spans.read_spans_s", "operators.detect.route_s",
                     "operators.extract.udf_s", "operators.merge.emit_s"]
            rows = [(n, m[n]) for n in names]
        return rows, sum(v for _, v in rows)

    def layer_table(self, tracer, rows, layer_sum, u50, t50, m, fit_points) -> list[str]:
        out = [f"layer table  workload {self.w.name}  seed {self.args.seed}  "
               f"cores {harness.cores()}"]
        out.append("  traced spans (name: count, mean wall s, mean self s)")
        for name in sorted({s["name"] for s in tracer.spans}):
            ss = tracer.named(name)
            if ss:
                out.append(f"    {name}: {len(ss)}, "
                           f"{sum(s['end'] - s['start'] for s in ss) / len(ss):.3f}, "
                           f"{sum(tracer.self_time(s) for s in ss) / len(ss):.3f}")
        out.append("  layer attribution per job (s)")
        out += [f"    {n}: {v:.3f}" for n, v in rows]
        out.append(f"    unattributed (traced job - layer sum): {t50 - layer_sum:.3f}")
        out.append(f"  layer sum {layer_sum:.3f} s vs traced job_s_p50 {t50:.3f} s "
                   f"(share {layer_sum / t50 if t50 else 0:.3f}); untraced job_s_p50 "
                   f"{u50:.3f} s (share {layer_sum / u50 if u50 else 0:.3f}), tracing "
                   f"overhead {t50 - u50:+.3f} s")
        if self.w.name == "spans_batch":
            jobs = tracer.named("job")
            kids = [d for j in jobs for d in tracer.descendants(j)]
            build = sum(d["end"] - d["start"] for d in kids if d["name"] != "sink.noop_write")
            write = sum(d["end"] - d["start"] for d in kids if d["name"] == "sink.noop_write")
            out.append(f"  traced batch job: plan build {build / max(1, len(jobs)):.3f} s, "
                       f"noop write (execution) {write / max(1, len(jobs)):.3f} s")
        fixed, marg = m["plans.pipeline.fixed_s"], m["plans.pipeline.marginal_ms_per_doc"]
        n_job = self.w.job_docs if self.w.name == "spans_batch" else self.w.PER_FILE
        out.append(f"  plan build {m['plans.pipeline.build_s']:.3f} s; fit t(n) = "
                   f"{fixed:.3f} s + {marg:.4f} ms/doc x n over (docs, s) "
                   f"{[(n, round(t, 3)) for n, t in fit_points]}; fixed share "
                   f"at {n_job} docs/job {fixed / max(1e-9, fixed + marg * n_job / 1000.0):.3f}")
        return out

    def result(self, values: dict, key: str, attempted: int, failed: int,
               correct: bool) -> dict:
        spec = metric_spec(key)
        missing = sorted(set(spec) - set(values))
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {"correct": bool(correct), "attempted": int(max(1, attempted)),
                "failed": int(failed),
                "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in spec.items()}}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    harness.require_engine()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run = Run(args)
    try:
        result = run.traced() if args.trace else run.untraced()
    finally:
        run.shutdown()
        shutil.rmtree(run.run_dir, ignore_errors=True)
    print("\n".join(run.report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
