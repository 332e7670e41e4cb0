"""Output family (SURVEY.md §2.9): codecs + file/console/kafka/discard
sinks on top of the fan-out writer (sinks.py holds the primary
per-sink-table path; these are the alternate wire formats).

- codec json (outputs/codec/json/json.go:53-67): event → one JSON
  line. `F.to_json(struct(*))` — pretty/escape_html off by default like
  the reference.
- codec format (outputs/codec/format/): event format string → line.
- file output (fileout/file.go:117-167): NDJSON lines per sink dir —
  the reference's golden-output sink, used by our tests the same way.
- console (console/console.go:46): codec lines to stdout (driver).
- kafka (kafka/kafka.go:37): df.write.format("kafka") with the topic
  column from routing and key from a format string; partitioning via
  hash keys mirrors partition.go:64-112 (hash mode). Gated behind the
  kafka connector being on the classpath.
- discard (discard/discard.go:31): noop sink (format "noop").
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.routing import format_string_col
from beats_spark.sinks import SINK_COL, strip_internal


def codec_json(df: DataFrame, escape_html: bool = False) -> Column:
    """Event → JSON line (codec/json). NULL fields dropped like
    structform's omitempty behavior."""
    body = F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns]), {"ignoreNullFields": "true"})
    if escape_html:
        for ch, esc in (("<", "\\u003c"), (">", "\\u003e"), ("&", "\\u0026")):
            body = F.replace(body, F.lit(ch), F.lit(esc))
    return body


def codec_format(df: DataFrame, fmt: str) -> Column:
    """Event format-string codec (codec/format)."""
    return format_string_col(df, fmt)


def write_file_ndjson(
    df: DataFrame,
    path: str,
    per_sink: bool = True,
    mode: str = "overwrite",
) -> None:
    """File output: NDJSON lines, one directory per sink when routed.
    Spark's json writer IS newline-delimited JSON — same bytes the
    reference's file output emits (minus rotation, which Spark's
    file-per-task layout replaces)."""
    out = strip_internal(df)
    writer = out.write.mode(mode)
    if per_sink and SINK_COL in out.columns:
        writer = writer.partitionBy(SINK_COL)
    writer.json(path)


# --- kafka partitioning (partition.go:64-112, 225-278) -----------------------

_FNV_OFFSET, _FNV_PRIME = 2166136261, 16777619
_U32 = 4294967296


def _fnv1a_fold(bytes_arr: Column, init: Column) -> Column:
    """FNV-1a 32 fold over an array<long> of byte values."""
    return F.aggregate(
        bytes_arr,
        init,
        lambda acc, b: F.pmod(acc.bitwiseXOR(b) * F.lit(_FNV_PRIME), F.lit(_U32)),
    )


def _utf8_bytes(col: Column) -> Column:
    """array<long> of the UTF-8 bytes of a string column. Empty string
    ⇒ empty array (NOT sequence(1,0), which Spark evaluates as the
    DESCENDING [1,0]) so the FNV fold of "" returns the offset basis,
    matching the reference's zero-iteration hash.Write."""
    hx = F.hex(F.encode(col.cast("string"), "utf-8"))
    n = (F.length(hx) / 2).cast("int")
    return F.when(n > 0, F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.conv(F.substring(hx, i * 2 - 1, 2), 16, 10).cast("long"),
    )).otherwise(F.array().cast("array<long>"))


def _int_le_bytes(col: Column, width: int = 8) -> Column:
    """array<long> of the `width` little-endian bytes of an integer
    column — binary.Write(LittleEndian) in HashFieldValue writes the
    value's NATIVE width (int32 ⇒ 4 bytes, int16 ⇒ 2, int8 ⇒ 1), so
    the byte count must follow the column type, not a fixed 8."""
    return F.array(
        *[
            F.shiftright(col.cast("long"), i * 8).bitwiseAND(F.lit(255)).cast("long")
            for i in range(width)
        ]
    )


_INT_WIDTHS = {"tinyint": 1, "smallint": 2, "int": 4, "bigint": 8}


def kafka_partition_column(
    df: DataFrame,
    num_partitions: int,
    mode: str = "hash",
    hash_fields: list[str] | None = None,
    key_col: str | None = None,
    group_events: int = 1,
) -> Column:
    """Per-event partition id, the outputs/kafka/partition.go modes:

    - hash (default): FNV-1a 32 over the configured `hash` fields
      (strings as UTF-8 bytes, integers as native-width little-endian
      bytes — HashFieldValue), else over the message key; partition =
      (hash & 0x7FFFFFFF) % n (Hash2Partition). Null key/field rows
      get a spread pseudo-random partition like the reference's
      rand fallback. Documented divergence: float fields hash Spark's
      string rendering of the value, not Go strconv.FormatFloat('g',
      bitSize=32) — configs hashing float fields should cast to
      int/string upstream for cross-engine stability.
    - random: a new pseudo-random partition every `group_events` rows.
      The reference draws from each producer's RNG; the batch analog
      derives it from the row group id (deterministic ⇒ testable).
    - round_robin: increments every `group_events` rows; the reference
      counter is per producer, the batch analog is per task (same
      even-spread contract).
    """
    if mode == "hash":
        if hash_fields:
            h: Column = F.lit(_FNV_OFFSET).cast("long")
            for f in hash_fields:
                dt = dict(df.dtypes).get(f)
                col = F.col(f"`{f}`")
                if dt in _INT_WIDTHS:
                    h = _fnv1a_fold(_int_le_bytes(col, _INT_WIDTHS[dt]), h)
                else:
                    h = _fnv1a_fold(_utf8_bytes(col), h)
        elif key_col is not None:
            kc = F.col(f"`{key_col}`")
            h = _fnv1a_fold(_utf8_bytes(kc), F.lit(_FNV_OFFSET).cast("long"))
            h = F.when(kc.isNotNull(), h).otherwise(
                F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(_U32))
            )
        else:
            h = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(_U32))
        # a NULL field/key propagates NULL through the fold — fall back
        # to the spread pseudo-random partition (the reference's
        # rand-on-hash-failure path, partition.go makeFieldsHashPartitioner)
        h = F.coalesce(
            h, F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(_U32))
        )
        return F.pmod(h.bitwiseAND(F.lit(0x7FFFFFFF)), F.lit(num_partitions)).cast(
            "int"
        )
    grp = F.floor(F.monotonically_increasing_id() / F.lit(group_events))
    if mode == "random":
        return F.pmod(F.xxhash64(grp), F.lit(num_partitions)).cast("int")
    if mode == "round_robin":
        return F.pmod(grp, F.lit(num_partitions)).cast("int")
    raise ValueError(f"unknown kafka partition mode {mode!r}")


def write_kafka(
    df: DataFrame,
    bootstrap_servers: str,
    topic_col: str = SINK_COL,
    key_format: str | None = None,
    partition_keys: list[str] | None = None,
    num_partitions: int | None = None,
    partition_mode: str = "hash",
) -> None:
    """Kafka output. topic from the routing column (client.go:226-246),
    key from an event format string (config.go:58); when
    partition_keys+num_partitions are set, an explicit `partition`
    column carries the reference partitioner's exact assignment
    (kafka_partition_column — FNV-1a over the fields, Hash2Partition),
    which the kafka sink honors over its own partitioner.
    Requires the spark-sql-kafka connector on the classpath."""
    out = df
    cols = [
        F.col(topic_col).alias("topic"),
        codec_json(strip_internal(out)).alias("value"),
    ]
    if partition_keys and num_partitions:
        cols.append(
            kafka_partition_column(
                out, num_partitions, mode=partition_mode, hash_fields=partition_keys
            ).alias("partition")
        )
    if key_format:
        cols.append(format_string_col(out, key_format).alias("key"))
    (
        out.select(*cols)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .save()
    )


def write_discard(df: DataFrame) -> None:
    """Null output: materialize without persisting (noop sink)."""
    df.write.format("noop").mode("overwrite").save()
