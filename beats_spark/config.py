"""filebeat.yml-style config loader → Pipeline.

Accepts the reference's YAML shapes (a filebeat user can bring their
config) and normalizes them into the engine's pipeline dict:

    filebeat.inputs:
      - type: log
        include_lines: ['^ERR']
        exclude_lines: ['^DBG']
    processors:
      - dissect:
          tokenizer: "%{key1} %{key2}"
          field: message
      - drop_event:
          when:
            equals: { level: debug }
    output.elasticsearch:
      index: "logs-default"
      indices:
        - index: "errors"
          when: { equals: { level: error } }
        - index: "team-%{[team]}"
          when: { has_fields: ["team"] }
          mappings: { a: b }

`output.elasticsearch.indices` / `output.kafka.topics` rules map to the
routing selector (same fields: index|topic, when, mappings, default).
Unsupported output types raise with the supported list.
"""

from __future__ import annotations

from typing import Any

from beats_spark.pipeline import Pipeline


def _routing_from_output(cfg: dict[str, Any]) -> dict[str, Any] | None:
    out = cfg.get("output") or {}
    # also accept flattened "output.elasticsearch" style keys
    for k in list(cfg):
        if isinstance(k, str) and k.startswith("output."):
            out[k[len("output.") :]] = cfg[k]
    if not out:
        return None
    if len(out) != 1:
        raise ValueError(
            "exactly one output may be configured (libbeat/beat/beat.go:144)"
        )
    kind, body = next(iter(out.items()))
    body = body or {}
    if kind in ("elasticsearch", "es"):
        rule_key, default_key = "index", "index"
        rules_key = "indices"
    elif kind == "kafka":
        rule_key, default_key = "topic", "topic"
        rules_key = "topics"
    elif kind in ("file", "console", "discard"):
        rule_key, default_key = "sink", "sink"
        rules_key = "sinks"
    else:
        raise ValueError(
            f"unsupported output type {kind!r} (supported: elasticsearch, "
            "kafka, file, console, discard)"
        )
    rules = []
    for r in body.get(rules_key) or []:
        rules.append(
            {
                "sink": r.get(rule_key) or r.get("sink"),
                "when": r.get("when"),
                "mappings": r.get("mappings"),
            }
        )
    routing: dict[str, Any] = {
        "rules": rules,
        "default": body.get(default_key) or body.get("default"),
        "lowercase": True,
    }
    if body.get("non_indexable_policy", {}).get("dead_letter_index"):
        routing["dead_letter"] = body["non_indexable_policy"][
            "dead_letter_index"
        ].get("index", "dlq")
    elif body.get("dead_letter"):
        routing["dead_letter"] = body["dead_letter"]
    # ES ingest-pipeline selector (elasticsearch.go buildPipelineSelector:
    # Key "pipeline", MultiKey "pipelines", SelectorLowerCase)
    if kind in ("elasticsearch", "es") and (
        body.get("pipeline") or body.get("pipelines")
    ):
        prules = [
            {
                "sink": r.get("pipeline") or r.get("sink"),
                "when": r.get("when"),
                "mappings": r.get("mappings"),
            }
            for r in body.get("pipelines") or []
        ]
        routing["pipeline"] = {
            "rules": prules,
            "default": body.get("pipeline"),
            "lowercase": True,
        }
    return routing


def pipeline_config_from_dict(cfg: dict[str, Any]) -> dict[str, Any]:
    inputs = cfg.get("filebeat", {}).get("inputs") or cfg.get(
        "filebeat.inputs"
    ) or cfg.get("inputs") or []
    readers = []
    for inp in inputs:
        readers.append(
            {
                "paths": inp.get("paths") or [],
                "encoding": inp.get("encoding", "utf-8"),
                "line_terminator": inp.get("line_terminator", "auto"),
                "max_bytes": inp.get("max_bytes"),
                "multiline": inp.get("multiline"),
                "include_lines": inp.get("include_lines") or [],
                "exclude_lines": inp.get("exclude_lines") or [],
                # filestream-style ordered parser chain
                # (libbeat/reader/parser/parser.go:145-199)
                "parsers": inp.get("parsers") or [],
                # per-input constant enrichment (input config `fields`,
                # `fields_under_root`, `tags` — filebeat/input/log/config.go)
                "fields": inp.get("fields") or {},
                "fields_under_root": bool(inp.get("fields_under_root", False)),
                "tags": inp.get("tags") or [],
            }
        )
    # include/exclude_lines are strictly per-input in the reference
    # (filebeat/input/log/config.go): each reader-backed `inputs` entry
    # (has paths) carries its own copy, applied inside read_input —
    # unioning those at pipeline level would re-apply input B's
    # excludes to input A's lines. Only path-less input entries (the
    # pre-read-frame mode, where read_input never runs) promote their
    # filters to pipeline level, alongside explicit top-level keys.
    include = list(cfg.get("include_lines") or [])
    exclude = list(cfg.get("exclude_lines") or [])
    for inp, rd in zip(inputs, readers):
        if not rd["paths"]:
            include.extend(inp.get("include_lines") or [])
            exclude.extend(inp.get("exclude_lines") or [])
    out: dict[str, Any] = {
        "payload_field": cfg.get("payload_field", "message"),
        "include_lines": include,
        "exclude_lines": exclude,
        "processors": cfg.get("processors") or [],
        "inputs": readers,
    }
    routing = _routing_from_output(cfg)
    if routing:
        out["routing"] = routing
    return out


def read_input(spark, input_cfg: dict[str, Any]):
    """Drive the line reader (+ parser chain + per-input enrichment)
    from one normalized `inputs` entry: the harvester half of a
    filebeat.yml. Returns a (source, offset, message, ...) frame ready
    for Pipeline.transform.

    Parser chain: the legacy `multiline:` block, or the filestream
    `parsers:` list applied in configured order
    (libbeat/reader/parser/parser.go:145-199) — supported entries:
    multiline, ndjson, container. Per-input `fields` (under `fields.`
    unless fields_under_root) and `tags` are added to every event
    (filebeat/input/log/config.go)."""
    from pyspark.sql import functions as F

    from beats_spark.fields import put_fields
    from beats_spark.readers.lines import read_lines
    from beats_spark.readers.multiline import merge_lines
    from beats_spark.readers.ndjson import parse_container, parse_ndjson

    paths = input_cfg.get("paths") or []
    if not paths:
        raise ValueError("input has no paths")
    parsers = list(input_cfg.get("parsers") or [])
    if input_cfg.get("multiline"):
        parsers.append({"multiline": input_cfg["multiline"]})
    # include/exclude_lines filter the MESSAGE AFTER the reader chain —
    # with multiline configured the reference drops whole merged events
    # whose first line matches, never individual continuation lines
    # (harvester.go:428 filters the post-reader-chain text; the reader
    # chain is log_file → ... → multiline, harvester.go:644-700)
    include = input_cfg.get("include_lines") or None
    exclude = input_cfg.get("exclude_lines") or None
    df = read_lines(
        spark,
        paths,
        encoding=input_cfg.get("encoding", "utf-8"),
        max_bytes=input_cfg.get("max_bytes"),
        include_lines=None if parsers else include,
        exclude_lines=None if parsers else exclude,
        line_terminator=input_cfg.get("line_terminator", "auto"),
    )
    cols_before_parsers = set(df.columns)
    ran_decoder = False
    for p in parsers:
        (kind, body), = p.items()
        body = body or {}
        if kind in ("ndjson", "container"):
            ran_decoder = True
        if kind == "multiline":
            df = merge_lines(df, body).withColumnRenamed("first_offset", "offset")
        elif kind == "ndjson":
            schema = body.get("schema")
            if schema is None:
                raise ValueError("ndjson parser needs `schema` (DDL) in config")
            df = parse_ndjson(df, schema, cfg=body)
        elif kind == "container":
            df = parse_container(
                df,
                stream=body.get("stream", "all"),
                fmt=body.get("format", "auto"),
            )
        else:
            raise ValueError(f"unsupported parser {kind!r}")
    # empty messages never become events (harvester.go:428 IsEmpty —
    # checked on the post-reader-chain content, before line filters).
    # Message.IsEmpty (libbeat/reader/message.go:44-56) is Content
    # empty AND Fields empty: when a decoding parser (ndjson/container)
    # ran, rows whose message is empty but whose decoded fields are
    # non-null stay (ADVICE r03).
    # ndjson may merge `message` away (keep_original=false): the
    # reference then filters the decoded event's remaining text, which
    # has no column here — skip rather than resolve a dropped column.
    if "message" in df.columns:
        keep = F.length("message") > 0
        decoded = [
            c
            for c in df.columns
            if c not in cols_before_parsers and not c.startswith("_")
        ]
        if ran_decoder and decoded:
            has_fields = F.col(decoded[0]).isNotNull()
            for c in decoded[1:]:
                has_fields = has_fields | F.col(c).isNotNull()
            keep = F.coalesce(keep, F.lit(False)) | has_fields
        df = df.filter(keep)
        if parsers and (include or exclude):
            from beats_spark.readers.lines import line_keep_predicate

            df = df.filter(
                line_keep_predicate(
                    F.col("message"), include=include, exclude=exclude
                )
            )
    fields = input_cfg.get("fields") or {}
    under_root = bool(input_cfg.get("fields_under_root", False))
    df = put_fields(
        df, {(k if under_root else f"fields.{k}"): F.lit(v) for k, v in fields.items()}
    )
    tags = input_cfg.get("tags") or []
    if tags:
        from beats_spark.processors.shape import AddTags

        df = AddTags({"tags": list(tags)}).apply(df)
    return df


def load_yaml(path_or_text: str) -> Pipeline:
    """Build a Pipeline from a filebeat-style YAML file or YAML text."""
    import os

    import yaml

    if os.path.exists(path_or_text):
        with open(path_or_text) as f:
            raw = yaml.safe_load(f)
    else:
        raw = yaml.safe_load(path_or_text)
    return Pipeline(pipeline_config_from_dict(raw or {}))
