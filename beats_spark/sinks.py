"""Fan-out sink writer + pipeline metrics.

Reference:
- outputs write batches per selected index/topic (SURVEY.md §2.8-2.9);
  we land per-sink tables in ONE pass with
  `df.write.partitionBy("sink")` — no per-sink job, no extra shuffle
  (the write is append-only per partition directory, Iceberg-style
  layout `out_dir/sink=<name>/`).
- `@metadata` never reaches the sink (libbeat/beat/event.go Meta is
  consumed by outputs): internal columns (_meta/_error/_flags/__*) are
  stripped, except the dead-letter sink keeps _error for triage.
- per-sink counters (libbeat/outputs/metrics.go:93-110 events.acked)
  and pipeline counters (publisher/pipeline/monitoring.go:80-116)
  become a metrics table + an `observe` on the main pass.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from beats_spark.fields import ERROR_COL
from beats_spark.processors.base import is_internal
from beats_spark.routing import with_sink

SINK_COL = "sink"


def strip_internal(df: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    drop = [c for c in df.columns if is_internal(c) and c not in keep]
    return df.drop(*drop) if drop else df


def dead_letter_count() -> Column:
    """Rows routed to the dead-letter sink; 0, not NULL, on zero rows
    (a `sum` over no rows is NULL)."""
    return F.count_if(F.col(SINK_COL) == "dlq")


def route(df: DataFrame, routing: dict[str, Any]) -> DataFrame:
    """Attach the sink column (pure projection)."""
    return with_sink(df, routing, SINK_COL)


def write_fanout(
    routed: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
    keep_error_col: bool = True,
    extra_partition_cols: list[str] | None = None,
) -> Observation:
    """One-pass fan-out write partitioned by sink.

    Returns the Observation carrying pipeline counters
    (events.total/published analogs) measured on the exact rows
    written — no second scan.
    """
    obs = Observation("pipeline")
    keep = (ERROR_COL,) if keep_error_col else ()
    out = strip_internal(routed, keep=keep)
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("events_published"),
        dead_letter_count().alias("events_dead_letter"),
    )
    parts = (extra_partition_cols or []) + [SINK_COL]
    out.write.partitionBy(*parts).mode(mode).parquet(out_dir)
    return obs


def sink_counts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-(source, sink) landed counts — the events.acked-per-sink
    analog, computed from what actually hit disk (partition pruning
    makes this a metadata-light scan of one column)."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("source", SINK_COL)
        .agg(F.count(F.lit(1)).alias("events"))
    )


def pipeline_metrics(
    input_total: int, published: int, filtered: int | None = None
) -> dict[str, int]:
    """monitoring.go:80-116 counter set for the run manifest."""
    return {
        "events.total": input_total,
        "events.published": published,
        "events.filtered": (input_total - published) if filtered is None else filtered,
        "events.failed": 0,
        "events.dropped": 0,
    }


def write_metrics_table(
    spark: SparkSession,
    out_dir: str,
    counters: dict[str, int],
    per_sink: DataFrame | None = None,
    run_id: str = "run-0",
) -> None:
    """The monitoring endpoint analog: one parquet table holding the
    pipeline counters (monitoring.go:80-116) and, when given, the
    per-(source, sink) acked counts (outputs/metrics.go:93-110) under
    counter names `output.<source>.<sink>.events.acked`."""
    rows = [(run_id, k, int(v)) for k, v in counters.items()]
    if per_sink is not None:
        for r in per_sink.collect():
            rows.append(
                (run_id, f"output.{r['source']}.{r[SINK_COL]}.events.acked", int(r["events"]))
            )
    spark.createDataFrame(
        rows, "run_id string, counter string, value long"
    ).coalesce(1).write.mode("append").parquet(out_dir)
