"""File layout of checkpoint chunk commits: plain commits write through
an AQE rebalance on the partition spec (one file per sink value for a
small chunk, a hot sink split at the advisory size), bucketed and
unpartitioned commits do not; the manifest Observation survives a
zero-row chunk; the fan-out write's counters are 0, not NULL, on zero
rows; a new attempt is numbered after the highest one on disk. Plans:
every chunk job of a run compiles the same whole-stage source, and the
read-back is one scan whose generated code does not depend on the
number of chunks."""

from __future__ import annotations

import os
import shutil
from collections import Counter

from pyspark.sql import functions as F

from beats_spark.checkpoint import CHUNK_COL, CheckpointedRunner
from beats_spark.sinks import write_fanout


def _chunk(spark, rows: int = 400, hot_share: int = 0):
    """`rows` rows over 8 input splits: sink `hot` takes `hot_share`
    tenths of them, the rest cycle over s0..s2."""
    return spark.range(0, rows, numPartitions=8).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < hot_share, F.lit("hot"))
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 3).cast("string")))
        .alias("sink"),
    )


def _entry(runner, chunk):
    return next(e for e in runner._entries() if e["chunk_id"] == chunk)


def _write_exchanges(spark, write) -> list[str]:
    """Descriptions of the Exchange nodes in the final plans of the SQL
    executions `write()` runs, read from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def ids():
        return {e.executionId() for e in conv.asJava(store.executionsList())}

    before = ids()
    write()
    return [
        n.desc()
        for eid in sorted(ids() - before)
        for n in conv.asJava(store.planGraph(eid).allNodes())
        if n.name() == "Exchange"
    ]


def test_zero_row_commit_keeps_observation(spark, tmp_path):
    """A chunk that is empty at run time (a filter no optimizer rule
    can fold) still commits with row_count 0 and zero metrics: the
    Observation sits above the rebalance, so AQE's empty-relation
    rewrite of the shuffle cannot drop it."""
    r = CheckpointedRunner(spark, str(tmp_path / "empty"), n_chunks=1)
    assert r.commit_chunk(_chunk(spark).filter(F.col("doc_id") < 0), 0) == 0
    e = _entry(r, 0)
    assert e["row_count"] == 0
    assert e["min_doc_id"] is None and e["max_doc_id"] is None
    assert e["metrics"] == {"events.published": 0, "events.dead_letter": 0}
    assert r.committed_chunks() == {0}


def test_small_chunk_writes_one_file_per_sink(spark, tmp_path):
    r = CheckpointedRunner(spark, str(tmp_path / "small"), n_chunks=1)
    df = _chunk(spark).withColumn(
        "sink", F.when(F.col("doc_id") % 50 == 0, "dlq").otherwise(F.col("sink"))
    )
    r.commit_chunk(df, 0)
    e = _entry(r, 0)
    per_sink = Counter(f["sink"] for f in e["files"])
    assert per_sink == {"s0": 1, "s1": 1, "s2": 1, "dlq": 1}
    assert sum(f["rows"] for f in e["files"]) == e["row_count"] == 400
    assert e["metrics"]["events.dead_letter"] == 8
    assert r.result().count() == 400


def test_only_plain_commits_rebalance(spark, tmp_path):
    """One rebalance Exchange on the spec for a plain commit; none for
    a bucketed commit (it lays out its own files) or an empty spec."""
    r = CheckpointedRunner(spark, str(tmp_path / "plans"), n_chunks=3)
    df = _chunk(spark)
    plain = _write_exchanges(spark, lambda: r.commit_chunk(df, 0))
    assert len(plain) == 1, plain
    assert "REBALANCE_PARTITIONS_BY_COL" in plain[0] and "sink#" in plain[0]
    bucketed = _write_exchanges(
        spark, lambda: r.commit_chunk(df, 1, bucket_key="doc_id", num_buckets=4)
    )
    assert bucketed == []
    unpartitioned = _write_exchanges(
        spark, lambda: r.commit_chunk(df, 2, partition_cols=())
    )
    assert unpartitioned == []
    assert _entry(r, 2)["partition_spec"] == []
    assert _entry(r, 1)["partition_spec"] == []


def test_hot_sink_split_at_advisory_size(spark, tmp_path):
    """With a small advisory partition size, AQE splits the 40%-hot
    sink over several writer tasks (files), and no row is lost."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    r = CheckpointedRunner(spark, str(tmp_path / "hot"), n_chunks=1)
    spark.conf.set(key, "16k")
    try:
        r.commit_chunk(_chunk(spark, rows=20000, hot_share=4), 0)
    finally:
        spark.conf.unset(key)
    e = _entry(r, 0)
    hot = [f for f in e["files"] if f["sink"] == "hot"]
    assert len(hot) > 1
    assert sum(f["rows"] for f in hot) == 8000
    assert sum(f["rows"] for f in e["files"]) == 20000


def test_write_fanout_zero_rows_counts_zero(spark, tmp_path):
    obs = write_fanout(
        _chunk(spark).filter(F.col("doc_id") < 0), str(tmp_path / "fan")
    )
    assert obs.get == {"events_published": 0, "events_dead_letter": 0}


def test_next_attempt_follows_the_highest(spark, tmp_path):
    """With attempts 1 and 3 on disk (2 removed by hand), the next
    commit lands in 4, not in 3 (1 + the count), and the files of 1 and
    3 stay as they were."""
    r = CheckpointedRunner(spark, str(tmp_path / "tries"), n_chunks=1)
    df = _chunk(spark)
    assert r.commit_chunk(df, 0, fail_before_commit=True) is None  # 1
    assert r.commit_chunk(df, 0, fail_before_commit=True) is None  # 2
    r.commit_chunk(df, 0)  # 3
    root = os.path.dirname(_entry(r, 0)["path"])
    shutil.rmtree(os.path.join(root, "__try=2"))

    def files():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(root)
            for f in fs
        }

    before = files()
    r.commit_chunk(df, 0)
    assert [os.path.basename(e["path"]) for e in r._entries()] == ["__try=3", "__try=4"]
    after = files()
    assert {p: after.get(p) for p in before} == before
    assert r.result().count() == 800


def _generated_code(df) -> list[str]:
    """The Java source of every whole-stage codegen subtree of `df`'s
    executed plan (the final adaptive plan once an action has run)."""
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    return [seq.apply(i)._2() for i in range(seq.size())]


def test_chunk_jobs_share_one_generated_plan(spark, tmp_path):
    """The chunk id never reaches the generated code: chunks 2 and 5 of
    one run execute string-equal whole-stage source (an int literal in
    the chunk filter would compile one class per chunk)."""
    parts = []

    def transform(part):
        parts.append(part)
        return part

    r = CheckpointedRunner(spark, str(tmp_path / "jobs"), n_chunks=8)
    assert r.run(_chunk(spark), transform) == list(range(8))
    code = []
    for chunk in (2, 5):
        rows = parts[chunk].collect()
        assert rows and {x[CHUNK_COL] for x in rows} == {chunk}
        code.append(_generated_code(parts[chunk]))
    assert code[0] and code[0] == code[1]


def test_result_reads_every_chunk_with_one_scan(spark, tmp_path):
    """result() over 2 and over 8 uniform chunks: one FileScan, chunk
    ids read from the attempt paths, string-equal generated code."""
    code = []
    for n in (2, 8):
        r = CheckpointedRunner(spark, str(tmp_path / f"n{n}"), n_chunks=n)
        r.run(_chunk(spark), lambda part: part)
        df = r.result()
        rows = df.collect()
        assert len(rows) == 400
        assert {x[CHUNK_COL] for x in rows} == set(range(n))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1, plan
        code.append(_generated_code(df))
    assert code[0] and code[0] == code[1]
