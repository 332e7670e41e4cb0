"""Traced run: the per-layer metrics of one workload.

A processor's self time is a difference between two prefix runs: the
chain runs as growing prefixes into the `noop` sink (read, + the parse
processor, + each later layer, + routing), each prefix several times in
rotation, and a layer's self time is the median of its prefix minus the
median of the prefix before it. `write.self_s` and `aggregate.self_s`
are the full operation minus the routed prefix (`aggregate.self_s` can
come out negative: `salted_count` prunes the captures it does not use).
Every prefix and operation runs inside a span whose id is its Spark job
group, so byte, record, task and GC totals come from the status store.

Which end-to-end number each layer should move, per workload (the
throughputs: seq_per_task_cpu_s, bounded, and the wall-clock seq_per_s
reported here):
- read.*: registry_resume (8 rescans); barely flagship_fanout.
- dissect.*: flagship_fanout and registry_resume, not grok_counts.
- grok.self_s: grok_counts only.
- filter.*, enrich.*, route.*, timestamp.*: all workloads.
- write.*: flagship_fanout and registry_resume; grok_counts writes nothing.
- aggregate.*, shuffle.*, task.max_over_median: grok_counts.
- checkpoint.*: registry_resume; driver_s and non_task.cpu_s move
  seq_per_s there but not seq_per_task_cpu_s.
- spark.*: everywhere; jvm_gc_s also peak_rss_mb.
- host.steal_s is the neighbours' load, not the program's: read
  seq_per_s against it.

flagship_fanout, the BASELINE job, runs the dissect and write layers in
one pass; BENCHMARK.json leaves it out so that a check's runs fit its
time, and registry_resume runs the same chain and write per chunk.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from beats_spark.checkpoint import CHUNK_COL, with_chunk
from beats_spark.fields import FLAGS_COL
from beats_spark.pipeline import Pipeline
from probes import Tracer, plan_fingerprint

PREFIX_ROUNDS = 3
LOCAL1_OPS = 3
# the single-thread baseline runs on this workload only, the cheapest
# at local[1] of those BENCHMARK.json lists: scaling_eff is reported as 0
# on the others, as is every layer a workload skips
SCALING_WORKLOAD = "grok_counts"
# layer each flagship-chain processor belongs to; consecutive processors
# of one layer form one prefix step
LAYER_OF = {
    "dissect": "dissect",
    "grok": "grok",
    "drop_event": "filter",
    "add_fields": "filter",
    "lookup": "enrich",
    "timestamp": "timestamp",
}
PARSE_FLAGS = ("dissect_parsing_error", "grok_parse_failure")
SINKS = ("errors", "warns", "team-core", "team-ingest", "team-search",
         "team-observability", "team-platform", "catchall")

_S = "s"
_B = "bytes"
_N = "count"


def prefix_steps(cfg: dict) -> list[tuple[str, object]]:
    """[(layer, transform)] for read, each processor layer, and routing."""
    procs = cfg["processors"]

    def upto(k: int, routing: bool = False):
        c = {"payload_field": cfg["payload_field"], "processors": procs[:k]}
        if routing:
            c["routing"] = cfg["routing"]
        return Pipeline(c).transform

    steps = [("read", upto(0))]
    for k, p in enumerate(procs, 1):
        layer = LAYER_OF[next(iter(p))]
        if steps[-1][0] == layer:
            steps[-1] = (layer, upto(k))
        else:
            steps.append((layer, upto(k)))
    steps.append(("route", upto(len(procs), routing=True)))
    return steps


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


class _RegistryMarks:
    """Opens a span per checkpoint phase and per chunk from the
    workload's marks."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.phase = self.chunk = None

    def __call__(self, kind: str) -> None:
        if self.chunk is not None:
            self.tracer.end(self.chunk)
            self.chunk = None
        if kind == "chunk":
            self.chunk = self.tracer.begin("chunk")
            return
        if self.phase is not None:
            self.tracer.end(self.phase)
            self.phase = None
        if kind != "done":
            self.phase = self.tracer.begin(kind)


def _count_files(root: str) -> int:
    return sum(
        f.endswith(".parquet") for _d, _s, files in os.walk(root) for f in files
    )


def traced(wl, set_up, start_session, seconds: float, deadline: float, record: dict):
    spark = set_up()
    tracer = Tracer(spark)

    # prefixes, in rotation so drift spreads over every layer
    steps = prefix_steps(wl.config())
    chunk_step = None
    if wl.name == "registry_resume":
        route = steps[-1][1]
        chunk_step = ("route@chunk", lambda df: route(
            with_chunk(df, wl.n_chunks).filter(F.col(CHUNK_COL) == 0)))
    timed = steps + ([chunk_step] if chunk_step else [])
    prefix_s: dict[str, list[float]] = {name: [] for name, _ in timed}
    for _ in range(PREFIX_ROUNDS):
        for name, fn in timed:
            with tracer.span(f"prefix.{name}"):
                t0 = time.perf_counter()
                _noop(fn(wl.read(spark)))
                prefix_s[name].append(time.perf_counter() - t0)
    med = {k: _med(v) for k, v in prefix_s.items()}

    # row counters of the routed frame (untimed)
    routed = steps[-1][1](wl.read(spark))
    failed_parse = F.coalesce(
        F.arrays_overlap(F.col(FLAGS_COL), F.array(*[F.lit(f) for f in PARSE_FLAGS])),
        F.lit(False),
    )
    by_sink = {
        r["sink"]: r
        for r in routed.groupBy("sink").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(failed_parse.cast("long")).alias("parse_failed"),
            F.sum(F.col("host_name").isNull().cast("long")).alias("miss"),
        ).collect()
    }
    fingerprint = plan_fingerprint(wl.plan_frame(spark))

    # full operations, alternating untraced and traced
    untraced_s, traced_s, op_spans, files, steal_s = [], [], [], [], []
    traced_cpu_s = []
    attempted = failed = 0
    spent = 0.0
    while (spent < seconds or not traced_s) and time.monotonic() < deadline:
        for traced_op in (False, True):
            span = tracer.begin("op") if traced_op else None
            if traced_op and wl.name == "registry_resume":
                wl.on_mark = _RegistryMarks(tracer)
            usage, ok, _error = wl.timed(spark)
            dt = usage.wall_s
            wl.on_mark = lambda kind: None
            if span is not None:
                tracer.end(span)
                op_spans.append(span)
                traced_s.append(dt)
                traced_cpu_s.append(usage.cpu_s)
                files.append(_count_files(wl.out_dir))
            else:
                untraced_s.append(dt)
                steal_s.append(usage.steal_s)
            attempted += 1
            failed += not ok
            wl.reset()
            spent += dt
    tracer.close_spans()

    # single-thread baseline: the same operation on the same input, in
    # the same (already warm) JVM
    local1_s = []
    if wl.name == SCALING_WORKLOAD:
        spark.stop()
        spark = start_session(1)
        for _ in range(LOCAL1_OPS):
            usage, ok, _error = wl.timed(spark)
            wl.reset()
            local1_s.append(usage.wall_s)
            attempted += 1
            failed += not ok
    record["spans"] = tracer.spans
    record["prefix_samples_s"] = prefix_s
    record["op_samples_s"] = {"untraced": untraced_s, "traced": traced_s, "local[1]": local1_s}

    def op_total(key: str) -> float:
        return _med(s[key] for s in op_spans)

    parse = steps[1][0]
    self_s = {
        name: med[name] - med[steps[i - 1][0]] if i else med[name]
        for i, (name, _) in enumerate(steps)
    }
    op_s = _med(traced_s)
    m: dict[str, tuple[float, str]] = {
        "read.self_s": (self_s["read"], _S),
        # Spark counts only part of a vectorized parquet read's bytes;
        # the records are exact
        "read.input_bytes": (op_total("input_bytes"), _B),
        "read.input_records": (op_total("input_records"), _N),
        "read.scans": (op_total("scans"), _N),
        "dissect.self_s": (self_s["dissect"] if parse == "dissect" else 0.0, _S),
        "grok.self_s": (self_s["grok"] if parse == "grok" else 0.0, _S),
        "timestamp.self_s": (self_s["timestamp"], _S),
        "parse.failed_rows": (sum(r["parse_failed"] for r in by_sink.values()), _N),
        **{k: (v, _N) for k, v in fingerprint.items()},
        "filter.self_s": (self_s["filter"], _S),
        "filter.rows_dropped": (wl.inputs.rows - sum(r["rows"] for r in by_sink.values()), _N),
        "enrich.self_s": (self_s["enrich"], _S),
        "enrich.miss_rows": (sum(r["miss"] for r in by_sink.values()), _N),
        "route.self_s": (self_s["route"], _S),
        "route.dlq_rows": (by_sink["dlq"]["rows"] if "dlq" in by_sink else 0, _N),
        **{f"route.rows.{s}": (by_sink[s]["rows"] if s in by_sink else 0, _N) for s in SINKS},
    }
    # the layers only some workloads exercise report 0 on the others
    write = aggregate = 0.0
    resume = 0.0
    ckpt = {k: 0.0 for k in ("run_s", "chunk_s.median", "chunk_s.max",
                             "driver_s", "result_s", "manifest_versions")}
    if wl.name == "flagship_fanout":
        write = op_s - med["route"]
    elif wl.name == "grok_counts":
        aggregate = op_s - med["route"]
    else:
        per_op = []
        chunks = [s for s in tracer.spans if s["name"] == "chunk"]
        for op in op_spans:
            kids = {s["name"]: s for s in tracer.spans if s["parent"] == op["id"]}
            runs = [kids["crash_run"], kids["resume"]]
            mine = [s for s in chunks if s["parent"] in {r["id"] for r in runs}]
            run_s = sum(_dur(r) for r in runs)
            per_op.append({
                "run_s": run_s,
                "resume_s": _dur(kids["resume"]),
                "chunk_s.max": max(_dur(c) for c in mine),
                "driver_s": run_s - sum(r["job_s"] for r in runs),
                "result_s": _dur(kids["result"]),
            })
        resume = _med(p.pop("resume_s") for p in per_op)
        ckpt.update({k: _med(p[k] for p in per_op) for k in per_op[0]})
        ckpt["chunk_s.median"] = _med(_dur(c) for c in chunks)
        ckpt["manifest_versions"] = wl.phases["manifest_versions"]
        write = ckpt["chunk_s.median"] - med["route@chunk"]
    m.update({
        "write.self_s": (write, _S),
        "write.output_bytes": (op_total("output_bytes"), _B),
        "write.files": (_med(files), _N),
        "write.rows": (op_total("output_records"), _N),
        "aggregate.self_s": (aggregate, _S),
        "shuffle.write_bytes": (op_total("shuffle_write_bytes"), _B),
        "shuffle.records": (op_total("shuffle_write_records"), _N),
        "task.max_over_median": (op_total("task_max_over_median"), "ratio"),
        **{f"checkpoint.{k}": (v, _N if k == "manifest_versions" else _S)
           for k, v in ckpt.items()},
        "spark.executor_run_s": (op_total("executor_run_s"), _S),
        "spark.executor_cpu_s": (op_total("executor_cpu_s"), _S),
        # planning, scheduling, commits, JIT and GC: the process tree's
        # CPU outside Spark tasks
        "non_task.cpu_s": (_med(c - s["executor_cpu_s"] for c, s in zip(traced_cpu_s, op_spans)), _S),
        "spark.jvm_gc_s": (op_total("jvm_gc_s"), _S),
        "spark.spill_bytes": (op_total("spill_bytes"), _B),
        "spark.jobs": (op_total("jobs"), _N),
        "spark.tasks": (op_total("tasks"), _N),
        "trace.overhead_frac": (1 - _med(untraced_s) / op_s, "frac"),
        # wall throughput: on a shared host it follows the neighbours'
        # load, so it has no bound (see README.md, Noise)
        "seq_per_s": (wl.inputs.rows / _med(untraced_s), "seq/s"),
        "host.steal_s": (_med(steal_s), _S),
        "resume_s": (resume, _S),
        # seq/s at local[4] over 4 x seq/s at local[1]
        "scaling_eff": (_med(local1_s) / (4 * _med(untraced_s)) if local1_s else 0.0, "ratio"),
        "failed_frac": (failed / attempted, "frac"),
    })
    return spark, attempted, failed, m
