"""End-to-end: routing fan-out, per-sink counts vs a pure-Python oracle,
token-array row equality, checkpoint resume (test_registrar.py:454
restart-continue analog)."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from tests.harness import pin_file_order

from beats_spark.checkpoint import CheckpointedRunner
from beats_spark.datagen import load_token_events
from beats_spark.flagship import flagship_config, routed_frame
from beats_spark.pipeline import Pipeline
from beats_spark.sinks import sink_counts, write_fanout

SF = "/root/testdata/sf0.001"


def _python_oracle_counts(spark):
    """Dict-based reimplementation of the Go semantics (SURVEY.md §5)."""
    from beats_spark.datagen import lookup_rows

    lk = {r["source"]: r["team"] for r in lookup_rows()}
    rows = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey").collect()
    import re

    counts: dict[tuple[str, str], int] = {}
    pat = re.compile(
        r'^level=(.*?) ts=(.*?) caller=(.*?) msg="(.*)" ip=(.*?) seq=(.*)$', re.S
    )
    for r in rows:
        k = r.o_orderkey
        source = f"src-{0 if k % 10 < 4 else k % 10}"
        lvl_i = k % 20
        level = (
            "debug" if lvl_i < 8 else "info" if lvl_i < 16 else "warn" if lvl_i < 19 else "error"
        )
        n_tok = k % 97 + 3
        corrupt = k % 101 == 0
        if corrupt:
            sink = "dlq"
        else:
            if level == "debug":
                continue
            team = lk.get(source)
            if level == "error":
                sink = "errors"
            elif level == "warn" and n_tok >= 50:
                sink = "warns"
            elif team is not None:
                sink = f"team-{team}"
            elif source in ("src-4", "src-5"):
                sink = "bulk"
            else:
                sink = "catchall"
        counts[(source, sink)] = counts.get((source, sink), 0) + 1
    return counts


def test_fanout_counts_match_python_oracle(spark, tmp_path):
    out_dir = str(tmp_path / "fanout")
    routed = routed_frame(spark, SF)
    obs = write_fanout(routed, out_dir)
    got = {
        (r.source, r.sink): r.events for r in sink_counts(spark, out_dir).collect()
    }
    expected = _python_oracle_counts(spark)
    assert got == expected
    assert obs.get["events_published"] == sum(expected.values())
    shutil.rmtree(out_dir, ignore_errors=True)


def test_routed_rows_preserve_tokens(spark, tmp_path):
    """Per-row invariant (BASELINE input_hint): every routed row's
    tokens array equals the input row's exactly."""
    out_dir = str(tmp_path / "tok")
    write_fanout(routed_frame(spark, SF), out_dir)
    routed = spark.read.parquet(out_dir)
    src = load_token_events(spark, SF).select("doc_id", F.col("tokens").alias("tokens_in"))
    joined = routed.join(src, "doc_id", "inner")
    mismatches = joined.filter(F.col("tokens") != F.col("tokens_in")).count()
    assert mismatches == 0
    assert joined.count() == routed.count()
    shutil.rmtree(out_dir, ignore_errors=True)


def test_meta_never_reaches_sink(spark, tmp_path):
    out_dir = str(tmp_path / "meta")
    df = load_token_events(spark, SF)
    cfg = flagship_config()
    cfg["processors"].append(
        {"add_formatted_index": {"index": "forced-%{[source]}"}}
    )
    routed = Pipeline(cfg).transform(df)
    write_fanout(routed, out_dir)
    written = spark.read.parquet(out_dir)
    assert "_meta" not in written.columns
    assert not [c for c in written.columns if c.startswith("__")]
    # raw_index override took effect (index_support.go:157-203)
    sinks = {r.sink for r in written.select("sink").distinct().collect()}
    assert any(s.startswith("forced-src-") for s in sinks)
    shutil.rmtree(out_dir, ignore_errors=True)


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Crash after 3 of 8 chunks → rerun → identical counts to a clean
    run; manifest carries per-chunk lineage + metrics."""
    df = load_token_events(spark, SF)
    pipe = Pipeline(flagship_config())

    clean_dir = str(tmp_path / "clean")
    runner0 = CheckpointedRunner(spark, clean_dir, n_chunks=8)
    runner0.run(df, pipe.transform)
    clean = {
        (r.source, r.sink): r.events
        for r in runner0.result()
        .groupBy("source", "sink")
        .agg(F.count(F.lit(1)).alias("events"))
        .collect()
    }

    resume_dir = str(tmp_path / "resume")
    runner1 = CheckpointedRunner(spark, resume_dir, n_chunks=8)
    first = runner1.run(df, pipe.transform, fail_after=3)
    assert len(first) == 3
    assert runner1.committed_chunks() == set(first)
    second = runner1.run(df, pipe.transform)
    assert len(second) == 5
    assert set(first) | set(second) == set(range(8))
    resumed = {
        (r.source, r.sink): r.events
        for r in runner1.result()
        .groupBy("source", "sink")
        .agg(F.count(F.lit(1)).alias("events"))
        .collect()
    }
    assert resumed == clean
    # re-run again: nothing left to do (idempotent)
    assert runner1.run(df, pipe.transform) == []
    m = runner1.manifest()
    assert m.count() == 8
    row = m.orderBy("chunk_id").collect()[0]
    assert row.row_count > 0 and row.min_doc_id <= row.max_doc_id
    assert row.metrics["events.published"] == row.row_count


def _sink_counts(df):
    return {
        (r.source, r.sink): r.events
        for r in df.groupBy("source", "sink")
        .agg(F.count(F.lit(1)).alias("events"))
        .collect()
    }


def test_checkpoint_crash_between_write_and_commit(spark, tmp_path):
    """Verdict-r02 item 4: a crash AFTER a chunk's data files are fully
    on disk but BEFORE the manifest pointer moves must leave readers on
    exactly the old snapshot — the window the atomic manifest-pointer
    commit exists for."""
    import os

    df = load_token_events(spark, SF)
    pipe = Pipeline(flagship_config())
    out = str(tmp_path / "window")
    runner = CheckpointedRunner(spark, out, n_chunks=4)

    # commit 2 chunks cleanly, then crash in the window on the 3rd
    runner.run(df, pipe.transform, fail_after=2)
    snapshot_before = _sink_counts(runner.result())
    manifest_before = sorted(
        (r.chunk_id, r.row_count) for r in runner.manifest().collect()
    )
    runner.run(df, pipe.transform, fail_before_commit=1)

    # the orphaned attempt's parquet IS on disk...
    orphans = [
        p
        for p, _, files in os.walk(runner.data_dir)
        if "chunk=2" in p and any(f.endswith(".parquet") for f in files)
    ]
    assert orphans, "crash injection did not leave data files behind"
    # ...but readers see exactly the old state
    assert runner.committed_chunks() == {0, 1}
    assert _sink_counts(runner.result()) == snapshot_before
    assert (
        sorted((r.chunk_id, r.row_count) for r in runner.manifest().collect())
        == manifest_before
    )

    # rerun: a fresh attempt supersedes the orphan; final state matches
    # a clean run exactly (exactly-once despite the double write)
    runner.run(df, pipe.transform)
    clean_runner = CheckpointedRunner(spark, str(tmp_path / "clean2"), n_chunks=4)
    clean_runner.run(df, pipe.transform)
    assert _sink_counts(runner.result()) == _sink_counts(clean_runner.result())


def test_checkpoint_mid_chunk_crash_replay(spark, tmp_path):
    """A chunk that died MID-WRITE leaves a partial attempt directory
    that no manifest entry references; readers never resolve it, and
    the rerun's fresh attempt supersedes it (idempotent replay, not
    duplication)."""
    df = load_token_events(spark, SF)
    pipe = Pipeline(flagship_config())
    out = str(tmp_path / "crash")
    runner = CheckpointedRunner(spark, out, n_chunks=4)
    runner.run(df, pipe.transform, fail_after=2)

    # simulate a crash mid-chunk-2: garbage parquet in an attempt dir
    # WITHOUT a manifest entry
    from beats_spark.checkpoint import CHUNK_COL, with_chunk
    from beats_spark.sinks import SINK_COL, strip_internal
    from beats_spark.fields import ERROR_COL

    partial = with_chunk(df, 4).filter(F.col(CHUNK_COL) == 2).limit(7)
    garbage = pipe.transform(partial)
    strip_internal(garbage, keep=(ERROR_COL,)).write.partitionBy(
        SINK_COL
    ).mode("overwrite").parquet(f"{runner.data_dir}/{runner.run_id}/__chunk=2/__try=1")

    # resume: chunks 2 and 3 run into fresh attempts; the partial
    # attempt is never referenced
    runner.run(df, pipe.transform)
    resumed = _sink_counts(runner.result())
    clean_runner = CheckpointedRunner(spark, str(tmp_path / "clean3"), n_chunks=4)
    clean_runner.run(df, pipe.transform)
    assert resumed == _sink_counts(clean_runner.result())


def test_checkpoint_cleanup(spark, tmp_path):
    df = load_token_events(spark, SF)
    pipe = Pipeline(flagship_config())
    out = str(tmp_path / "gc")
    r1 = CheckpointedRunner(spark, out, n_chunks=2, run_id="run-a")
    r1.run(df, pipe.transform)
    r2 = CheckpointedRunner(spark, out, n_chunks=2, run_id="run-b")
    r2.run(df, pipe.transform)
    assert r2.manifest().count() == 4
    removed = r2.cleanup({"run-b"})
    assert removed == 2
    assert {r.run_id for r in r2.manifest().collect()} == {"run-b"}


def test_metrics_table(spark, tmp_path):
    from beats_spark.sinks import pipeline_metrics, write_metrics_table

    out_dir = str(tmp_path / "m_out")
    metrics_dir = str(tmp_path / "m_tbl")
    routed = routed_frame(spark, SF)
    obs = write_fanout(routed, out_dir)
    published = int(obs.get["events_published"])
    total = load_token_events(spark, SF).count()
    counters = pipeline_metrics(total, published)
    write_metrics_table(
        spark, metrics_dir, counters, per_sink=sink_counts(spark, out_dir)
    )
    m = {r.counter: r.value for r in spark.read.parquet(metrics_dir).collect()}
    assert m["events.total"] == total
    assert m["events.published"] == published
    assert m["events.filtered"] == total - published
    acked = [k for k in m if k.endswith(".events.acked")]
    assert sum(m[k] for k in acked) == published


def test_pipeline_selector_per_event(spark):
    """ES ingest-pipeline selector analog (client.go:425-442):
    @metadata.pipeline overrides (lowercased); otherwise the selector
    rules pick per-event; empty => NULL (no pipeline). The column rides
    next to `sink` as distinct per-event write metadata."""
    from beats_spark.routing import with_pipeline, with_sink

    df = spark.createDataFrame(
        [
            ("nginx", ("APP-Override",), 1),
            ("nginx", (None,), 2),
            ("mysql", (None,), 3),
            ("unknown", (None,), 4),
        ],
        "`service.name` string, _meta struct<pipeline:string>, n int",
    )
    cfg = {
        "rules": [
            {
                "sink": "pl-%{[service][name]}",
                "when": {"equals": {"service.name": "nginx"}},
            },
            {
                "sink": "%{[service][name]}",
                "mappings": {"mysql": "PL-DB"},
            },
        ],
    }
    routed = with_pipeline(with_sink(df, {"default": "events"}), cfg)
    rows = {r.n: (r.sink, r.pipeline) for r in routed.collect()}
    assert rows[1] == ("events", "app-override")  # meta override, lowercased
    assert rows[2] == ("events", "pl-nginx")      # rule 1 (when matched)
    assert rows[3] == ("events", "pl-db")         # rule 2 via mappings
    assert rows[4] == ("events", None)            # mappings miss, no default


def test_time_travel_snapshots(spark, tmp_path):
    """Iceberg snapshot-read analog: every chunk commit is a published
    version; result(version=v) reads the table as of that commit, and
    a v-file orphaned by a crash before the pointer swap is NOT a
    published snapshot."""
    import json
    import os

    import pytest

    df = load_token_events(spark, SF)
    pipe = Pipeline(flagship_config())
    out = str(tmp_path / "tt")
    runner = CheckpointedRunner(spark, out, n_chunks=4)
    runner.run(df, pipe.transform)
    assert runner.versions() == [1, 2, 3, 4]
    counts = [runner.result(version=v).count() for v in runner.versions()]
    assert all(a < b for a, b in zip(counts, counts[1:]))  # grows per commit
    assert counts[-1] == runner.result().count()
    assert runner.manifest(version=2).count() == 2

    # orphan from a crashed commit: file exists, pointer never moved
    orphan = os.path.join(out, "manifest", "v-00000099.json")
    with open(orphan, "w") as fh:
        json.dump([], fh)
    assert runner.versions() == [1, 2, 3, 4]
    with pytest.raises(ValueError):
        runner.result(version=99)
    with pytest.raises(ValueError):
        runner.result(version=0)


def test_compaction_atomic_and_resume_safe(spark, tmp_path):
    """Iceberg rewrite-files analog: chunks fold into one compacted
    snapshot with identical rows; resume still sees all chunks done; a
    crash between the compacted data write and the pointer swap leaves
    readers on the uncompacted snapshot; time travel keeps the old one."""
    import pytest

    df = load_token_events(spark, SF)
    pipe = Pipeline(flagship_config())
    out = str(tmp_path / "compact")
    runner = CheckpointedRunner(spark, out, n_chunks=4)
    runner.run(df, pipe.transform)

    def counts(frame):
        return {
            (r.source, r.sink): r.events
            for r in frame.groupBy("source", "sink")
            .agg(F.count(F.lit(1)).alias("events"))
            .collect()
        }

    before = counts(runner.result())
    v_before = runner.versions()[-1]

    # crash injected between data write and pointer swap: commit fails,
    # readers keep the uncompacted snapshot
    real_commit = runner._commit
    runner._commit = lambda entries: (_ for _ in ()).throw(OSError("crash"))
    with pytest.raises(OSError):
        runner.compact()
    assert runner.versions()[-1] == v_before
    assert counts(runner.result()) == before
    runner._commit = real_commit

    assert runner.compact() == 4
    assert counts(runner.result()) == before
    assert runner.committed_chunks() == set(range(4))
    assert runner.run(df, pipe.transform) == []  # resume: nothing to do
    # compacting a compacted run is a no-op
    assert runner.compact() == 0
    # time travel still reads the pre-compaction snapshot
    assert counts(runner.result(version=v_before)) == before


def test_incremental_dedup_exactly_once_across_crash(spark, tmp_path):
    """Cross-chunk content dedup composed with the checkpointed runner:
    a run that crashes between the data write and the manifest commit
    and then resumes must produce EXACTLY the corpus of an
    uninterrupted run — no duplicate texts, no lost texts, same
    representatives (training/dedup.py incremental_dedup)."""
    from beats_spark.checkpoint import CheckpointedRunner
    from beats_spark.training.dedup import incremental_dedup

    # 60 docs, 20 distinct texts, duplicates scattered across chunks
    docs = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), (F.col("id") % 20).cast("string")).alias("text"),
    )
    sink = lambda d: d.withColumn("sink", F.lit("corpus"))  # noqa: E731

    clean = CheckpointedRunner(spark, str(tmp_path / "clean"), n_chunks=4)
    clean.run(docs, incremental_dedup(clean, sink))
    a = sorted((r.text, r.doc_id) for r in clean.result().collect())

    crashy = CheckpointedRunner(spark, str(tmp_path / "crashy"), n_chunks=4)
    # crash AFTER chunk 3 of 4 wrote its data but BEFORE its commit
    crashy.run(docs, incremental_dedup(crashy, sink), fail_before_commit=3)
    assert len(crashy.committed_chunks()) == 2
    # resume: replays the uncommitted chunk against the committed snapshot
    resumed = CheckpointedRunner(spark, str(tmp_path / "crashy"), n_chunks=4)
    resumed.run(docs, incremental_dedup(resumed, sink))
    b = sorted((r.text, r.doc_id) for r in resumed.result().collect())

    assert a == b  # identical corpus, identical representatives
    texts = [t for t, _ in a]
    assert sorted(set(texts)) == sorted(texts)  # unique
    assert set(texts) == {f"text-{i}" for i in range(20)}  # complete

    # compaction folds only non-empty chunks; zero-row commit records
    # survive so every chunk stays 'done' and the corpus is unchanged
    assert resumed.compact() >= 1
    assert resumed.committed_chunks() == {0, 1, 2, 3}
    c = sorted((r.text, r.doc_id) for r in resumed.result().collect())
    assert c == a


def test_manifest_file_pruning_reads_fewer_files(spark, tmp_path):
    """Iceberg read-path analog (VERDICT r03 item 3): commit records
    per-file footer stats (doc_id min/max + sink partition); a bounded
    result() read resolves FEWER distinct data files than the full
    snapshot while the residual-filtered rows are identical."""
    df = load_token_events(spark, SF)
    pipe = Pipeline(flagship_config())
    runner = CheckpointedRunner(spark, str(tmp_path / "pruned"), n_chunks=8)
    runner.run(df, pipe.transform)

    # every committed entry carries per-file stats
    entries = [e for e in runner._entries() if e["row_count"] > 0]
    assert entries and all(e.get("files") for e in entries)
    for e in entries:
        assert sum(f["rows"] for f in e["files"]) == e["row_count"]

    ids = sorted(r.doc_id for r in df.select("doc_id").distinct().collect())
    lo, hi = ids[0], ids[len(ids) // 10]  # a narrow range

    full = runner.result()
    pruned = runner.result(doc_id_min=lo, doc_id_max=hi)
    n_full = full.select(F.input_file_name()).distinct().count()
    n_pruned = pruned.select(F.input_file_name()).distinct().count()
    assert n_pruned < n_full, (n_pruned, n_full)

    # residual filter on the pruned read == the same filter on the full read
    pred = (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)

    def counts(frame):
        return {
            (r.sink, r.doc_id): r.n
            for r in frame.filter(pred)
            .groupBy("sink", "doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    assert counts(pruned) == counts(full)
    # the sink partition column survives the leaf-file read
    assert "sink" in pruned.columns

    # sink pruning composes
    one_sink = sorted({f["sink"] for e in entries for f in e["files"]})[0]
    by_sink = runner.result(sinks={one_sink})
    assert {r.sink for r in by_sink.select("sink").distinct().collect()} == {one_sink}

    # pruning to an empty set yields an empty, well-shaped frame
    nothing = runner.result(sinks={"no-such-sink"})
    assert nothing.count() == 0 and "sink" in nothing.columns


def test_streaming_incremental_dedup_exactly_once_kill_restart(spark, tmp_path):
    """VERDICT r03 item 7 — the streaming twin of
    test_incremental_dedup_exactly_once_across_crash: readStream →
    foreachBatch committing through the manifest with cross-batch
    content anti-join (streaming.run_stream_dedup). Killed in BOTH
    crash windows — (a) after a manifest commit but before the
    streaming checkpoint advances (the replayed batch must be skipped
    by the committed_chunks guard, not double-committed) and (b) after
    a batch's data files land but before its manifest commit (the
    replay must supersede the orphan attempt) — then restarted on the
    same checkpoint. Final corpus must be IDENTICAL to an
    uninterrupted run: same texts, same representatives."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from beats_spark.streaming import run_stream_dedup

    # 4 flat parquet files => 4 micro-batches under maxFilesPerTrigger=1;
    # 80 docs, 25 distinct texts, duplicates within and across batches
    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        ids = list(range(i * 20, i * 20 + 20))
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": [f"text-{d % 25}" for d in ids],
                }
            ),
            str(src / f"f{i:02d}.parquet"),
        )
    pin_file_order(str(src))
    schema = "doc_id long, text string"
    sink = lambda d: d.withColumn("sink", F.lit("corpus"))  # noqa: E731

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    def corpus(runner):
        return sorted((r.text, r.doc_id) for r in runner.result().collect())

    # --- uninterrupted reference run
    clean = CheckpointedRunner(spark, str(tmp_path / "clean"))
    q = run_stream_dedup(stream(), clean, str(tmp_path / "ckpt-clean"), transform=sink)
    q.awaitTermination(120)
    a = corpus(clean)
    assert sorted({t for t, _ in a}) == sorted(f"text-{i}" for i in range(25))
    assert len(a) == 25  # one representative per distinct text

    # --- crash window (a): die right after batch 1's manifest commit,
    # before the streaming checkpoint records it
    out2, ck2 = str(tmp_path / "crashy"), str(tmp_path / "ckpt-crashy")
    crashy = CheckpointedRunner(spark, out2)
    q2 = run_stream_dedup(
        stream(), crashy, ck2, transform=sink, crash_after_commits=2
    )
    with pytest.raises(Exception, match="injected crash after manifest commit"):
        q2.awaitTermination(120)
    assert crashy.committed_chunks() == {0, 1}

    # --- restart into crash window (b): batch 2's data files land but
    # the process dies before the manifest pointer moves
    class CrashBeforeCommit(CheckpointedRunner):
        def commit_chunk(self, out, chunk, fail_before_commit=False):
            if chunk == 2:
                super().commit_chunk(out, chunk, fail_before_commit=True)
                raise RuntimeError("injected crash before manifest commit")
            return super().commit_chunk(out, chunk, fail_before_commit)

    q3 = run_stream_dedup(
        stream(), CrashBeforeCommit(spark, out2), ck2, transform=sink
    )
    with pytest.raises(Exception, match="before manifest commit"):
        q3.awaitTermination(120)
    resumed = CheckpointedRunner(spark, out2)
    assert resumed.committed_chunks() == {0, 1}  # batch 2's attempt is orphaned
    # the orphan attempt dir exists on disk but is invisible to readers
    import os

    assert os.path.isdir(os.path.join(resumed.data_dir, "run-0", "__chunk=2", "__try=1"))

    # --- final restart drains to completion
    q4 = run_stream_dedup(stream(), resumed, ck2, transform=sink)
    q4.awaitTermination(120)
    assert resumed.committed_chunks() == {0, 1, 2, 3}
    assert corpus(resumed) == a  # identical corpus, identical representatives


def test_checkpoint_schema_evolution_across_chunks(spark, tmp_path):
    """A later chunk may carry NEW columns (pipeline config evolved
    mid-ingest): result() unions by name with NULLs for pre-evolution
    chunks, compact() preserves the merged schema, and time travel to
    the pre-evolution snapshot still shows the ORIGINAL schema — the
    Iceberg add-column semantics on the manifest sink."""
    out = str(tmp_path / "evo")
    runner = CheckpointedRunner(spark, out, n_chunks=2, run_id="evo")
    v0 = spark.createDataFrame(
        [(1, "a", "es"), (2, "b", "es")], "doc_id long, text string, sink string"
    )
    v1 = spark.createDataFrame(
        [(3, "c", "en", "es"), (4, "d", "de", "es")],
        "doc_id long, text string, lang string, sink string",
    )
    runner.commit_chunk(v0, 0)
    pre = runner._current_version()[0]
    runner.commit_chunk(v1, 1)

    got = runner.result()
    assert set(got.columns) >= {"doc_id", "text", "lang"}
    rows = {r.doc_id: r.lang for r in got.collect()}
    assert rows == {1: None, 2: None, 3: "en", 4: "de"}

    old = runner.result(version=pre)
    assert "lang" not in old.columns
    assert {r.doc_id for r in old.collect()} == {1, 2}

    assert runner.compact() == 2
    compacted = {r.doc_id: r.lang for r in runner.result().collect()}
    assert compacted == rows


def test_result_latest_upsert_semantics(spark, tmp_path):
    """Merge-on-read: a later chunk re-emitting a doc_id supersedes the
    earlier row; untouched rows survive; time travel to the
    pre-correction snapshot still shows the original text."""
    out = str(tmp_path / "mor")
    runner = CheckpointedRunner(spark, out, n_chunks=2, run_id="mor")
    c0 = spark.createDataFrame(
        [(1, "orig-1", "es"), (2, "orig-2", "es")],
        "doc_id long, text string, sink string",
    )
    c1 = spark.createDataFrame(
        [(2, "fixed-2", "es"), (3, "new-3", "es")],
        "doc_id long, text string, sink string",
    )
    runner.commit_chunk(c0, 0)
    pre = runner._current_version()[0]
    runner.commit_chunk(c1, 1)

    latest = {r.doc_id: r.text for r in runner.result_latest().collect()}
    assert latest == {1: "orig-1", 2: "fixed-2", 3: "new-3"}
    # plain result keeps both versions of doc 2 (the audit trail)
    assert runner.result().count() == 4
    old = {r.doc_id: r.text for r in runner.result_latest(version=pre).collect()}
    assert old == {1: "orig-1", 2: "orig-2"}

    # tombstone: a later chunk marks doc 1 deleted — it vanishes from
    # the latest view, stays in result() and in older snapshots
    c2 = spark.createDataFrame(
        [(1, None, "es", True)],
        "doc_id long, text string, sink string, is_deleted boolean",
    )
    runner.commit_chunk(c2, 2)
    after = {
        r.doc_id: r.text
        for r in runner.result_latest(deleted_col="is_deleted").collect()
    }
    assert after == {2: "fixed-2", 3: "new-3"}
    assert runner.result().count() == 5  # history intact until GC

    # advice-r04 #2: a misspelled tombstone column on the LATEST view
    # must raise, not silently materialize a "clean" run that still
    # carries the tombstoned keys
    with pytest.raises(ValueError, match="is_delted"):
        runner.result_latest(deleted_col="is_delted")
    # explicit time travel to a pre-evolution snapshot (no tombstone
    # column existed yet) legitimately skips the filter
    pre_tt = {
        r.doc_id: r.text
        for r in runner.result_latest(
            version=pre, deleted_col="is_deleted"
        ).collect()
    }
    assert pre_tt == {1: "orig-1", 2: "orig-2"}


def test_materialize_latest_physically_erases(spark, tmp_path):
    """The full takedown path: tombstone -> materialize the latest view
    into a fresh run -> GC. After GC the deleted document's text (and
    the superseded old version of a corrected one) is gone from EVERY
    byte on disk, not just filtered at read time."""
    import subprocess

    out = str(tmp_path / "erase")
    runner = CheckpointedRunner(spark, out, n_chunks=2, run_id="raw")
    c0 = spark.createDataFrame(
        [(1, "SECRET-REMOVE-ME", "es"), (2, "OLD-VERSION", "es")],
        "doc_id long, text string, sink string",
    )
    c1 = spark.createDataFrame(
        [(2, "new-version", "es", False), (1, None, "es", True)],
        "doc_id long, text string, sink string, is_deleted boolean",
    )
    runner.commit_chunk(c0, 0)
    runner.commit_chunk(c1, 1)

    clean = runner.materialize_latest("clean", deleted_col="is_deleted")
    got = {r.doc_id: r.text for r in clean.result().collect()}
    assert got == {2: "new-version"}
    assert "is_deleted" not in clean.result().columns

    # pre-GC: the old snapshot (and its bytes) still exist — crash-safe
    hits = subprocess.run(
        ["grep", "-r", "-l", "SECRET-REMOVE-ME", out], capture_output=True
    )
    assert hits.returncode == 0, "history must survive until cleanup"

    assert clean.cleanup({"clean"}) == 2
    for needle in ("SECRET-REMOVE-ME", "OLD-VERSION"):
        hits = subprocess.run(
            ["grep", "-r", "-l", needle, out], capture_output=True
        )
        assert hits.returncode != 0, f"{needle} still on disk"
    # the clean run still reads correctly after GC
    assert {r.doc_id: r.text for r in clean.result().collect()} == {2: "new-version"}


def test_result_latest_bucketed_zero_exchange(spark, tmp_path):
    """Verdict-r04 item 5: chunks committed bucketed on the upsert key
    merge with ZERO Exchange — the co-bucketed SMJ anti-join cascade
    replaces the windowed per-key shuffle. Differential twin: the same
    data committed plain and read via the windowed result_latest DOES
    exchange. Tombstones, the misspelled-column guard, crash
    injection, and fresh-session table re-registration all hold on
    the bucketed path."""
    out = str(tmp_path / "morb")
    r = CheckpointedRunner(spark, out, n_chunks=3, run_id="morb")
    c0 = spark.createDataFrame(
        [(1, "orig-1", "es"), (2, "orig-2", "es")],
        "doc_id long, text string, sink string",
    )
    c1 = spark.createDataFrame(
        [(2, "fixed-2", "es"), (3, "new-3", "es")],
        "doc_id long, text string, sink string",
    )
    c2 = spark.createDataFrame(
        [(1, None, "es", True)],
        "doc_id long, text string, sink string, is_deleted boolean",
    )
    # crash injection: data lands, pointer does not move, reader blind
    assert r.commit_chunk(c0, 0, fail_before_commit=True,
                          bucket_key="doc_id", num_buckets=4) is None
    r.commit_chunk(c0, 0, bucket_key="doc_id", num_buckets=4)
    r.commit_chunk(c1, 1, bucket_key="doc_id", num_buckets=4)
    r.commit_chunk(c2, 2, bucket_key="doc_id", num_buckets=4)

    latest = r.result_latest_bucketed(deleted_col="is_deleted")
    assert {x.doc_id: x.text for x in latest.collect()} == {
        2: "fixed-2", 3: "new-3",
    }
    plan = latest._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan and "LeftAnti" in plan

    # misspelled tombstone column raises (same guard as the windowed path)
    with pytest.raises(ValueError, match="is_delted"):
        r.result_latest_bucketed(deleted_col="is_delted")

    # fresh session simulation: drop catalog tables, read re-registers
    for t in spark.catalog.listTables():
        if t.name.startswith("bs_mor_morb"):
            spark.sql(f"DROP TABLE {t.name}")
    again = r.result_latest_bucketed(deleted_col="is_deleted")
    assert {x.doc_id: x.text for x in again.collect()} == {
        2: "fixed-2", 3: "new-3",
    }
    assert "Exchange" not in again._jdf.queryExecution().executedPlan().toString()

    # differential twin: plain commits + windowed read PAYS the exchange
    rp = CheckpointedRunner(spark, str(tmp_path / "morp"), n_chunks=3, run_id="morp")
    rp.commit_chunk(c0, 0)
    rp.commit_chunk(c1, 1)
    w = rp.result_latest()
    assert "Exchange" in w._jdf.queryExecution().executedPlan().toString()

    # mixed layout rejected
    rm = CheckpointedRunner(spark, str(tmp_path / "morm"), n_chunks=2, run_id="morm")
    rm.commit_chunk(c0, 0, bucket_key="doc_id", num_buckets=4)
    rm.commit_chunk(c1, 1)
    with pytest.raises(ValueError, match="not committed bucketed"):
        rm.result_latest_bucketed()


def test_materialize_latest_uses_bucketed_path(spark, tmp_path):
    """materialize_latest over all-bucketed chunks resolves winners via
    the exchange-free cascade and still erases physically after GC."""
    import subprocess

    out = str(tmp_path / "erase_b")
    r = CheckpointedRunner(spark, out, n_chunks=2, run_id="rawb")
    c0 = spark.createDataFrame(
        [(1, "SECRET-B", "es"), (2, "OLD-B", "es")],
        "doc_id long, text string, sink string",
    )
    c1 = spark.createDataFrame(
        [(2, "new-b", "es", False), (1, None, "es", True)],
        "doc_id long, text string, sink string, is_deleted boolean",
    )
    r.commit_chunk(c0, 0, bucket_key="doc_id", num_buckets=4)
    r.commit_chunk(c1, 1, bucket_key="doc_id", num_buckets=4)
    clean = r.materialize_latest("cleanb", deleted_col="is_deleted")
    assert {x.doc_id: x.text for x in clean.result().collect()} == {2: "new-b"}
    assert clean.cleanup({"cleanb"}) == 2
    for needle in ("SECRET-B", "OLD-B"):
        hits = subprocess.run(["grep", "-r", "-l", needle, out], capture_output=True)
        assert hits.returncode != 0, needle


def test_bucketed_tables_unique_per_data_dir_and_gc(spark, tmp_path):
    """Review-r5 fixes: (a) two runners with sanitization-colliding
    run_ids under different data dirs get DISTINCT catalog tables;
    (b) cleanup() drops the run's bucketed tables including orphans
    from crashed attempts; (c) a mid-run bucket-count change makes
    materialize_latest fall back to the windowed merge instead of
    hard-failing the takedown path."""
    from beats_spark.checkpoint import _bucket_table_prefix

    c = spark.createDataFrame([(1, "A", "es")], "doc_id long, text string, sink string")
    c2 = spark.createDataFrame([(1, "B", "es")], "doc_id long, text string, sink string")

    r1 = CheckpointedRunner(spark, str(tmp_path / "d1"), n_chunks=1, run_id="job-1")
    r2 = CheckpointedRunner(spark, str(tmp_path / "d2"), n_chunks=1, run_id="job_1")
    r1.commit_chunk(c, 0, bucket_key="doc_id", num_buckets=2)
    r2.commit_chunk(c2, 0, bucket_key="doc_id", num_buckets=2)
    assert r1.result_latest_bucketed().collect()[0].text == "A"
    assert r2.result_latest_bucketed().collect()[0].text == "B"

    # orphan attempt table + committed table both GC'd with the run
    r1.commit_chunk(c, 0, fail_before_commit=True,
                    bucket_key="doc_id", num_buckets=2)
    pfx = _bucket_table_prefix(r1.data_dir, "job-1")
    assert len([t for t in spark.catalog.listTables()
                if t.name.startswith(pfx)]) >= 2
    r1.cleanup(set())
    assert not [t for t in spark.catalog.listTables()
                if t.name.startswith(pfx)]

    # mixed num_buckets -> windowed fallback, takedown still completes
    r3 = CheckpointedRunner(spark, str(tmp_path / "d3"), n_chunks=2, run_id="mix")
    r3.commit_chunk(c, 0, bucket_key="doc_id", num_buckets=2)
    r3.commit_chunk(c2, 1, bucket_key="doc_id", num_buckets=4)
    out = r3.materialize_latest("mclean")
    assert {x.text for x in out.result().collect()} == {"B"}


def test_partition_spec_evolution_and_multi_column_stats(spark, tmp_path):
    """Iceberg read-path deltas (verdict-r04 missing #3): per-file
    stats beyond doc_id (stat_cols -> col_bounds pruning) and
    partition-spec evolution (chunk 0 partitioned by sink, chunk 1 by
    lang; both coexist in one run, partition pruning consults each
    file's own spec)."""
    import os

    out = str(tmp_path / "specev")
    r = CheckpointedRunner(
        spark, out, n_chunks=2, run_id="ev", stat_cols=("n_tok",)
    )
    c0 = spark.createDataFrame(
        [(1, "a", "es", "en", 5), (2, "b", "bulk", "de", 50)],
        "doc_id long, text string, sink string, lang string, n_tok long",
    )
    c1 = spark.createDataFrame(
        [(3, "c", "es", "en", 500), (4, "d", "es", "fr", 7)],
        "doc_id long, text string, sink string, lang string, n_tok long",
    )
    r.commit_chunk(c0, 0)                               # default: sink=
    r.commit_chunk(c1, 1, partition_cols=("lang",))     # evolved spec
    m = {e["chunk_id"]: e for e in r._entries()}
    assert m[0]["partition_spec"] == ["sink"]
    assert m[1]["partition_spec"] == ["lang"]
    # both specs materialized on disk and read back whole
    assert any("lang=fr" in p for p, _, _ in os.walk(r.data_dir))
    assert {x.doc_id for x in r.result().collect()} == {1, 2, 3, 4}

    # per-file n_tok stats recorded and usable for pruning
    files = m[0]["files"] + m[1]["files"]
    assert all("n_tok" in f["cols"] for f in files)
    big = r.result(col_bounds={"n_tok": (100, None)})
    # pruning is a safe superset; residual filter gives the exact rows
    assert {x.doc_id for x in big.filter("n_tok >= 100").collect()} == {3}
    pruned_paths = {
        f["path"] for f in files
        if not (f["cols"]["n_tok"]["max"] is not None
                and f["cols"]["n_tok"]["max"] < 100)
    }
    assert len(pruned_paths) < len(files)  # something was prunable

    # partition pruning under the evolved spec: lang=fr only
    fr = r.result(part_filters={"lang": {"fr"}})
    assert {x.doc_id for x in fr.filter("lang = 'fr'").collect()} == {4}
    # chunk-0 files (sink= spec, no lang segment) are kept — safe superset
    assert {x.doc_id for x in fr.collect()} >= {4}


def test_compact_zorder_clusters_files(spark, tmp_path):
    """OPTIMIZE ZORDER analog: compact(zorder_cols=...) rewrites the
    run clustered on the Morton curve of the listed dims, so the
    compacted files' footer stats (the same stat_cols -> col_bounds
    machinery) prune on EITHER dimension; row set, resume, and time
    travel are untouched — it is a layout-only rewrite."""
    out = str(tmp_path / "zcomp")
    r = CheckpointedRunner(
        spark, out, n_chunks=4, run_id="z", stat_cols=("u", "t")
    )
    base = spark.range(4000).selectExpr(
        "id AS doc_id",
        "'es' AS sink",
        "id % 97 AS u",
        "id * 37 % 50021 AS t",
    )
    for i in range(4):
        r.commit_chunk(base.filter(F.col("doc_id") % 4 == i), i)
    before = {x.doc_id for x in r.result().collect()}
    v_before = r.versions()[-1]

    assert r.compact(zorder_cols=("u", "t"), zorder_files=8) == 4
    assert {x.doc_id for x in r.result().collect()} == before
    assert {x.doc_id for x in r.result(version=v_before).collect()} == before

    entry = [e for e in r._entries() if e["chunk_id"] == -1][0]
    files = entry["files"]
    assert len(files) == 8

    def overlapping(col, lo, hi):
        return sum(
            1
            for f in files
            if f["cols"][col]["min"] is None
            or (f["cols"][col]["min"] <= hi and f["cols"][col]["max"] >= lo)
        )

    # a 1/8 slice of either dimension must skip files — rectangles,
    # not stripes (the pre-compaction chunk layout keeps full-domain
    # bounds in EVERY file: 8/8). <=5 not <=4: repartitionByRange
    # samples its boundaries, so the marginal file jitters by run.
    assert overlapping("t", 0, 50021 // 8) <= 5
    assert overlapping("u", 0, 97 // 8) <= 5
    # and the col_bounds read path consumes those stats unchanged
    got = {
        x.doc_id
        for x in r.result(col_bounds={"t": (0, 50021 // 8)})
        .filter(F.col("t") <= 50021 // 8)
        .collect()
    }
    assert got == {d for d in before if d * 37 % 50021 <= 50021 // 8}
