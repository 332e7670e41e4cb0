"""The benchmark's three log-pipeline workloads, their seeded inputs and
the DuckDB oracle every operation is checked against.

Inputs: the seed offsets the integer key fed to
`datagen.token_events_sql`, so Spark (which writes the input parquet)
and DuckDB (which computes the expected answer) build the same rows.

Each workload exposes one timed operation (`op`) that drives the
package's public entry points, an untimed `check` of what the operation
returned against the oracle, and `reset` to remove its output before the
next operation.
"""

from __future__ import annotations

import copy
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beats_spark.checkpoint import CheckpointedRunner
from beats_spark.datagen import token_events_sql
from beats_spark.flagship import (
    flagship_config,
    oracle_route_counts_sql,
    oracle_token_checksums_sql,
)
from beats_spark.pipeline import Pipeline
from beats_spark.sinks import write_fanout
from beats_spark.skew import salted_count
from probes import Meter, Usage

# keys of one seed: offset + 1 .. offset + rows; every intermediate of
# the token formulas stays below 2^63 while keys stay below 2^31
KEY_STRIDE = 1_000_000
INPUT_FILES = 8
# untimed operations in each set-up: the driver-side planning code takes
# about ten pipeline runs to reach its steady speed, and set-ups repeat
WARM_UP_OPS = 2

GROK_PATTERN = (
    "level=%{WORD:level} ts=%{TIMESTAMP_ISO8601:ts} caller=%{NOTSPACE:caller} "
    'msg="%{DATA:msg}" ip=%{IP:ip} seq=%{INT:seq:long}'
)

# per-sink (rows, sum n_tok, sum tokens, sum of per-row token hashes):
# the same columns as flagship.oracle_token_checksums_sql
_TOKEN_HASH_MOD = 1000000007
_OUTPUT_CHECKSUMS_SQL = f"""
SELECT sink, count(*),
       CAST(sum(n_tok) AS BIGINT),
       CAST(sum(list_sum(tokens)) AS BIGINT),
       CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), tokens),
                (acc, x) -> (acc * 31 + x) % {_TOKEN_HASH_MOD})) AS BIGINT)
FROM read_parquet('{{glob}}', hive_partitioning = true)
GROUP BY sink"""


@dataclass
class Inputs:
    seed: int
    rows: int
    path: str

    @property
    def offset(self) -> int:
        return (self.seed % 1000) * KEY_STRIDE


@dataclass
class Oracle:
    """DuckDB's expected answer for one input."""

    checksums: dict[str, tuple[int, ...]]
    counts: dict[tuple[str, str], int]
    setup_s: float = 0.0


def generate(spark: SparkSession, inputs: Inputs) -> None:
    """Write the seeded token table as the parquet input every workload
    reads (one process: the driver, through Spark)."""
    base = spark.range(
        inputs.offset + 1, inputs.offset + inputs.rows + 1, numPartitions=INPUT_FILES
    ).withColumnRenamed("id", "o_orderkey")
    base.createOrReplaceTempView("logbench_keys")
    spark.sql(token_events_sql("spark", "logbench_keys")).write.mode(
        "overwrite"
    ).parquet(inputs.path)


def duckdb_connect(work_dir: str):
    import duckdb

    con = duckdb.connect()
    # the oracle is built before the JVM starts, so it may use every core
    con.execute(f"SET threads TO {os.cpu_count() or 4}")
    con.execute(f"SET temp_directory = '{work_dir}/duckdb_tmp'")
    return con


def build_oracle(con, inputs: Inputs) -> Oracle:
    t0 = time.perf_counter()
    con.execute(
        "CREATE OR REPLACE VIEW orders AS SELECT CAST(range + "
        f"{inputs.offset + 1} AS BIGINT) AS o_orderkey FROM range({inputs.rows})"
    )
    checksums = {
        r[0]: tuple(int(v) for v in r[1:])
        for r in con.execute(oracle_token_checksums_sql()).fetchall()
    }
    counts = {
        (r[0], r[1]): int(r[2])
        for r in con.execute(oracle_route_counts_sql()).fetchall()
    }
    return Oracle(checksums, counts, time.perf_counter() - t0)


def token_checksums(df: DataFrame) -> dict[str, tuple[int, ...]]:
    """Spark twin of the per-sink checksum columns, for read-backs."""
    th = F.aggregate(
        "tokens",
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(_TOKEN_HASH_MOD),
    )
    tsum = F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x)
    rows = (
        df.groupBy("sink")
        .agg(F.count(F.lit(1)), F.sum("n_tok"), F.sum(tsum), F.sum(th))
        .collect()
    )
    return {r[0]: tuple(int(v) for v in r[1:]) for r in rows}


def _drop_one(checksums: dict[str, tuple[int, ...]]) -> dict[str, tuple[int, ...]]:
    """A one-row loss in the first sink, as a checker would see it."""
    out = dict(checksums)
    sink = sorted(out)[0]
    rows, *rest = out[sink]
    out[sink] = (rows - 1, *rest)
    return out


@dataclass
class Workload:
    """One closed-loop operation over the seeded input."""

    inputs: Inputs
    oracle: Oracle
    work_dir: str
    duck: object
    plant_loss: bool = False
    # per-operation phase times the traced run reads (name -> seconds)
    phases: dict[str, float] = field(default_factory=dict)

    name = ""
    rows = 0

    def config(self) -> dict:
        return flagship_config()

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.inputs.path)

    def routed(self, spark: SparkSession) -> DataFrame:
        return Pipeline(self.config()).transform(self.read(spark))

    def plan_frame(self, spark: SparkSession) -> DataFrame:
        """The frame whose executed plan the fingerprint counts."""
        return self.routed(spark)

    def op(self, spark: SparkSession):
        raise NotImplementedError

    def timed(self, spark: SparkSession) -> tuple[Usage, bool, str | None]:
        """One operation: its wall and CPU seconds, whether its output
        matched the oracle (checked after the clocks stop) and its
        error, if any. The caller resets."""
        meter = Meter()
        try:
            out = self.op(spark)
        except Exception as e:  # an operation that raises counts as failed
            return meter.read(), False, repr(e)
        usage = meter.read()
        return usage, self.check(out), None

    def check(self, observed) -> bool:
        raise NotImplementedError

    def reset(self) -> None:
        pass

    def warm_up(self, spark: SparkSession) -> None:
        """JIT warm-up: untimed, unchecked operations."""
        for _ in range(WARM_UP_OPS):
            self.op(spark)
            self.reset()

    @property
    def out_dir(self) -> str:
        return os.path.join(self.work_dir, f"out_{self.name}")


class FlagshipFanout(Workload):
    """The BASELINE job: the dissect chain, then the parquet fan-out
    write by sink. Dissect and the write are most of its time."""

    name = "flagship_fanout"
    rows = 60_000

    def op(self, spark):
        write_fanout(self.routed(spark), self.out_dir)
        return self.out_dir

    def check(self, out_dir) -> bool:
        glob = os.path.join(out_dir, "*", "*.parquet")
        got = {
            r[0]: tuple(int(v) for v in r[1:])
            for r in self.duck.execute(_OUTPUT_CHECKSUMS_SQL.format(glob=glob)).fetchall()
        }
        if self.plant_loss:
            got = _drop_one(got)
        return got == self.oracle.checksums

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


class GrokCounts(Workload):
    """The flagship chain with grok in place of dissect, ending in the
    salted per-(source, sink) count over the 40%-hot src-0 key. It runs
    neither dissect nor a write, so a change to either should not move
    it."""

    name = "grok_counts"
    rows = 40_000

    def config(self) -> dict:
        cfg = copy.deepcopy(flagship_config())
        cfg["processors"][0] = {
            "grok": {"field": "payload", "pattern": GROK_PATTERN, "target_prefix": ""}
        }
        return cfg

    def plan_frame(self, spark):
        return salted_count(self.routed(spark), ["source", "sink"])

    def op(self, spark):
        rows = self.plan_frame(spark).collect()
        return {(r["source"], r["sink"]): int(r["events"]) for r in rows}

    def check(self, counts) -> bool:
        if self.plant_loss:
            counts = dict(counts)
            key = sorted(counts)[0]
            counts[key] -= 1
        return counts == self.oracle.counts


class RegistryResume(Workload):
    """Checkpointed chunk jobs: a crash after 4 of 8 commits, the resume
    and the read-back. Every chunk rescans the whole input, so the read
    and checkpoint layers do most of their work here."""

    name = "registry_resume"
    rows = 10_000
    n_chunks = 8
    fail_after = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # called with "crash_run", "resume", "result" and "done" at the
        # phase boundaries, and with "chunk" just before each chunk's
        # jobs run; the traced run hooks it to open spans
        self.on_mark = lambda kind: None

    def _transform(self, df: DataFrame) -> DataFrame:
        self.on_mark("chunk")
        return Pipeline(self.config()).transform(df)

    def op(self, spark):
        runner = CheckpointedRunner(spark, self.out_dir, n_chunks=self.n_chunks, run_id="bench")
        inp = self.read(spark)
        t0 = time.perf_counter()
        self.on_mark("crash_run")
        first = runner.run(inp, self._transform, fail_after=self.fail_after)
        t1 = time.perf_counter()
        self.on_mark("resume")
        rest = runner.run(inp, self._transform)
        t2 = time.perf_counter()
        if len(first) != self.fail_after or len(first) + len(rest) != self.n_chunks:
            raise RuntimeError(f"resume committed {first} then {rest}")
        self.on_mark("result")
        sums = token_checksums(runner.result())
        self.on_mark("done")
        t3 = time.perf_counter()
        self.phases = {
            "crash_run_s": t1 - t0,
            "resume_s": t2 - t1,
            "result_s": t3 - t2,
            "manifest_versions": len(runner.versions()),
        }
        return sums

    def warm_up(self, spark):
        """Chunk jobs, their commits and the read-back: every path of an
        operation at a quarter of its cost."""
        runner = CheckpointedRunner(spark, self.out_dir, n_chunks=self.n_chunks, run_id="warm")
        runner.run(self.read(spark), self._transform, fail_after=WARM_UP_OPS)
        token_checksums(runner.result())
        self.reset()

    def check(self, sums) -> bool:
        if self.plant_loss:
            sums = _drop_one(sums)
        return sums == self.oracle.checksums

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (FlagshipFanout, GrokCounts, RegistryResume)}
