#!/usr/bin/env python3
"""Log-pipeline benchmark for beats_spark on local[4].

    python3 logbench/run.py --workload flagship_fanout --seed 1 --seconds 6 --trace 0

Runs from the root of a source checkout. One client drives one workload
in a closed loop: the next operation starts when the last one has
finished. Every operation's output is checked against the DuckDB oracle
outside the timed window. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see layers.py).
Everything the run writes stays under `.logbench/` in the checkout; the
full record of each run (samples, spans, environment) is kept in
`.logbench/results/`.

Untraced run: set up 3 times (Spark session, input generation and
untimed operations to warm the JIT; the first set-up also starts the
JVM) and report their median as `setup_s`, then time operations at
local[4] for about `--seconds` of operation time (at least one).
`seq_per_task_cpu_s` divides the input rows by the CPU seconds of the
operation's Spark tasks, read from the status store: on a shared host
it moves far less with the neighbours' load than wall time does (see
README.md, Noise).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUPS = 3
# the heap is committed at start (-Xms = -Xmx), so the JVM resident set
# does not follow G1 resizing from one operation to the next
DRIVER_MEM = "2g"
# a run stops starting operations after this much wall time
WALL_LIMIT_S = 150.0


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=None,
                   help="input rows (default: the workload's own size)")
    p.add_argument("--plant-loss", action="store_true",
                   help="drop one row from a sink before each check (smoke test)")
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Size Spark for this box and keep its files in the checkout. Must
    run before the JVM starts."""
    for d in ("spark-local", "tmp", "duckdb_tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the launcher too: no perf-data file in /tmp, temp files
    # in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"


def start_session(work: str, cores: int):
    from beats_spark.session import get_spark

    return get_spark(
        app_name=f"logbench_local{cores}",
        master=f"local[{cores}]",
        # the same plan at every core count: same job, same input
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.debug.maxToStringFields": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        },
    )


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm() -> None:
    """Stop the SparkContext, if one is running, and wait for the JVM
    and its Python workers to exit."""
    from pyspark import SparkContext

    from probes import process_tree

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the workers exit once the JVM's end closes their sockets
    deadline = time.monotonic() + 30
    while any(_running(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def timed_ops(wl, spark, seconds: float, deadline: float) -> list[dict]:
    """Closed loop: time `wl.op` while the next operation, at the mean
    time of those before it, still ends within `seconds` of operation
    time (at least one), checking each output untimed. An operation
    longer than the window thus runs once in every run, not once or
    twice by chance.

    Each operation's Spark jobs run in a job group of their own, so that
    the CPU time of its tasks can be read back from the status store
    once the loop has ended."""
    from probes import PeakRss, Tracer

    tracer = Tracer(spark)
    samples: list[dict] = []
    spent = 0.0
    while (not samples or spent * (1 + 1 / len(samples)) <= seconds) and time.monotonic() < deadline:
        with PeakRss() as rss, tracer.span("op"):
            usage, ok, error = wl.timed(spark)
        wl.reset()
        spent += usage.wall_s
        samples.append({
            "op_s": usage.wall_s, "cpu_s": usage.cpu_s, "steal_s": usage.steal_s,
            "ok": ok, "error": error, "peak_rss_mb": rss.peak_mb,
            "seq_per_s": wl.inputs.rows / usage.wall_s, **wl.phases,
        })
    tracer.close_spans()
    for sample, span in zip(samples, tracer.spans):
        sample["task_cpu_s"] = span["executor_cpu_s"]
        sample["seq_per_task_cpu_s"] = wl.inputs.rows / span["executor_cpu_s"]
    return samples


def set_up(wl, work: str, spark=None, phases: list | None = None):
    """Session start, input generation and JIT warm-up; their seconds are
    appended to `phases`. The first set-up starts the JVM and the
    SparkContext; a later one opens a new session on them, so the JIT
    keeps what every earlier warm-up taught it."""
    from workloads import generate

    t0 = time.perf_counter()
    spark = start_session(work, CORES) if spark is None else spark.newSession()
    t1 = time.perf_counter()
    generate(spark, wl.inputs)
    t2 = time.perf_counter()
    wl.warm_up(spark)
    if phases is not None:
        phases.append({"session_s": t1 - t0, "generate_s": t2 - t1,
                       "warm_up_s": time.perf_counter() - t2})
    return spark


def untraced(wl, work: str, seconds: float, deadline: float, record: dict):
    from probes import plan_fingerprint

    setups, phases = [], []
    spark = None
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = set_up(wl, work, spark, phases)
        setups.append(time.perf_counter() - t0)
    record["setup_samples_s"] = setups
    record["setup_phases_s"] = phases
    ops = timed_ops(wl, spark, seconds, deadline)
    record["samples"] = ops
    record["plan"] = plan_fingerprint(wl.plan_frame(spark))
    failed = sum(not s["ok"] for s in ops)
    metrics = {
        "seq_per_task_cpu_s": (statistics.median(s["seq_per_task_cpu_s"] for s in ops), "seq/cpu-s"),
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (statistics.median(s["peak_rss_mb"] for s in ops), "MB"),
        "ok_frac": ((len(ops) - failed) / len(ops), "frac"),
    }
    return spark, len(ops), failed, metrics


def run(args: argparse.Namespace) -> dict:
    from workloads import WORKLOADS, Inputs, build_oracle, duckdb_connect

    started = time.monotonic()
    deadline = started + WALL_LIMIT_S
    base = os.path.join(ROOT, ".logbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    prepare_environment(work)
    record: dict = {"args": vars(args), "started_unix": time.time()}
    duck = duckdb_connect(work)
    try:
        cls = WORKLOADS[args.workload]
        inputs = Inputs(args.seed, args.rows or cls.rows, os.path.join(work, "input"))
        oracle = build_oracle(duck, inputs)
        record["oracle_s"] = oracle.setup_s
        wl = cls(inputs, oracle, work, duck, plant_loss=args.plant_loss)
        if args.trace:
            from layers import traced

            spark, attempted, failed, metrics = traced(
                wl,
                lambda: set_up(wl, work),
                lambda cores: start_session(work, cores),
                args.seconds, deadline, record,
            )
        else:
            spark, attempted, failed, metrics = untraced(wl, work, args.seconds, deadline, record)
        from probes import environment

        record["environment"] = environment(spark, ROOT, CORES)
    finally:
        duck.close()
        # also when set-up failed half way
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record["result"] = result
    record["wall_s"] = time.monotonic() - started
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(base, "results", name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return result


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    result = run(parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
