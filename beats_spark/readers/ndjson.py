"""NDJSON + container-log readers (libbeat/reader/readjson/).

- ndjson (json.go, 256 LoC): parse JSON lines, merge keys into fields,
  optional `@timestamp` and document-id extraction, keep_original,
  add_error_key on failure.
- container (docker_json.go): Docker JSON-file / CRI log lines →
  (message, stream, @timestamp), stdout/stderr filter.

Both are native `from_json` / regexp paths — a json line scan over
100 TB stays entirely in the JVM.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beats_spark.fields import put_fields
from beats_spark.processors.shape import _set_error


def parse_ndjson(
    df: DataFrame,
    schema: str,
    line_col: str = "message",
    cfg: dict[str, Any] | None = None,
) -> DataFrame:
    """json.go semantics: parse `line_col` with `schema` (DDL), merge
    keys at root. keys_under_root/overwrite_keys via target="";
    message_key extracts a sub-field as the new message."""
    cfg = cfg or {}
    line = F.col(line_col)
    parsed = F.from_json(line, schema)
    tmp = "__nd__"
    df = df.withColumn(tmp, parsed)
    ptype = df.schema[tmp].dataType
    subs = ptype.fieldNames()  # type: ignore[union-attr]
    df = put_fields(df, {sub: F.col(tmp).getField(sub) for sub in subs})
    if cfg.get("add_error_key", True):
        # from_json PERMISSIVE yields a struct of NULLs on bad input;
        # detect true parse failure via get_json_object on the root
        bad = line.isNotNull() & F.get_json_object(line, "$").isNull()
        df = _set_error(df, bad, "ndjson: json parse error")
    if cfg.get("document_id"):
        doc = F.get_json_object(line, "$." + cfg["document_id"])
        df = put_fields(df, {"@metadata._id": doc})
    if not cfg.get("keep_original", False):
        df = df.drop(line_col)
    return df.drop(tmp)


_CRI_RE = r"^(\S+) (stdout|stderr) ([PF]) (.*)$"

_DOCKER_SCHEMA = "struct<log:string, stream:string, time:string>"


def parse_container(
    df: DataFrame, line_col: str = "message", stream: str = "all", fmt: str = "auto"
) -> DataFrame:
    """docker_json.go: auto-detect Docker JSON-file vs CRI format."""
    line = F.col(line_col)
    docker = F.from_json(line, _DOCKER_SCHEMA)
    is_docker = docker.isNotNull() & docker.getField("log").isNotNull()
    if fmt == "docker":
        use_docker = F.lit(True)
    elif fmt == "cri":
        use_docker = F.lit(False)
    else:
        use_docker = is_docker
    cri_msg = F.regexp_extract(line, _CRI_RE, 4)
    out_msg = F.when(use_docker, docker.getField("log")).otherwise(cri_msg)
    # docker log lines keep their trailing newline; strip like the reader
    out_msg = F.regexp_replace(out_msg, r"\n$", "")
    out_stream = F.when(use_docker, docker.getField("stream")).otherwise(
        F.nullif(F.regexp_extract(line, _CRI_RE, 2), F.lit(""))
    )
    out_time = F.when(use_docker, docker.getField("time")).otherwise(
        F.nullif(F.regexp_extract(line, _CRI_RE, 1), F.lit(""))
    )
    # derive stream/time BEFORE replacing the line column — the
    # expressions reference it by name
    df = put_fields(
        df, {"stream": out_stream, "@timestamp": F.try_to_timestamp(out_time)}
    )
    df = df.withColumn(line_col, out_msg)
    if stream != "all":
        df = df.filter(F.col("stream") == stream)
    return df
