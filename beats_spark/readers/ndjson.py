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

from beats_spark.fields import materialize, put_fields
from beats_spark.processors.shape import _set_error
from beats_spark.regex import capture, capture_array


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
    """docker_json.go: auto-detect Docker JSON-file vs CRI format. The
    CRI capture array and the Docker struct come out of one Generate
    (`fields.materialize`), so each is parsed once per line."""
    line = F.col(line_col)
    df = materialize(df, {"__cri__": capture_array(line, _CRI_RE, 4),
                          "__docker__": F.from_json(line, _DOCKER_SCHEMA)})
    cri, docker = F.col("__cri__"), F.col("__docker__")
    if fmt == "docker":
        use_docker = F.lit(True)
    elif fmt == "cri":
        use_docker = F.lit(False)
    else:
        use_docker = docker.isNotNull() & docker.getField("log").isNotNull()
    # a line that is neither format keeps an empty message
    cri_msg = F.when(line.isNotNull(), F.coalesce(capture(cri, 3), F.lit("")))
    out_msg = F.when(use_docker, docker.getField("log")).otherwise(cri_msg)
    # docker log lines keep their trailing newline; strip like the reader
    out_msg = F.regexp_replace(out_msg, r"\n$", "")
    out_stream = F.when(use_docker, docker.getField("stream")).otherwise(capture(cri, 1))
    out_time = F.when(use_docker, docker.getField("time")).otherwise(capture(cri, 0))
    df = put_fields(
        df, {"stream": out_stream, "@timestamp": F.try_to_timestamp(out_time)}
    )
    df = df.withColumn(line_col, out_msg).drop("__cri__", "__docker__")
    if stream != "all":
        df = df.filter(F.col("stream") == stream)
    return df
