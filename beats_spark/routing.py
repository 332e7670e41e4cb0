"""Routing: event format strings + outil.Selector → a `sink` column.

Reference:
- format strings `%{[field][sub]}` / `%{+yyyy.MM.dd}` (libbeat/common/fmtstr/)
  used for index/topic names and message keys.
- `outil.Selector` (libbeat/outputs/outil/select.go:107-177 build,
  :260-335 single rule, :337-399 eval): ordered rule list, each rule an
  event format string with optional `when` condition and `mappings`
  lookup; first rule producing a non-empty value wins; `default`
  fallback; optional lowercase.
- `@metadata.raw_index` overrides everything
  (libbeat/idxmgmt/index_support.go:157-203).
- dead-letter: rows whose `_error` column is non-null route to the
  configured dead_letter sink (elasticsearch/dead_letter_index.go:33-56).

Spark mapping: ONE `F.when`-chain producing the `sink` column — pure
projection, constant-folded by Catalyst (the reference constant-folds
selectors itself, select.go:195-207). Fan-out writes then partition by
this column (sinks.py), so routing adds zero shuffles.

Missing-field semantics: a format string referencing an absent/NULL
field yields NULL (concat null-propagation) ⇒ the rule "produces no
value" and evaluation falls through to the next rule — exactly
select.go:351-360.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import compile_condition
from beats_spark.fields import ERROR_COL, field_col

_FMT_RE = re.compile(r"%\{([^}]+)\}")

# Joda-ish tokens used by beats index names → Spark datetime pattern are
# compatible for the common cases (yyyy, MM, dd, HH, mm, ss, w).


def format_string_col(df: DataFrame, fmt: str) -> Column:
    """Compile an event format string to a Column (NULL when any
    referenced field is missing/NULL — caller treats as no-value)."""
    parts: list[Column] = []
    pos = 0
    for m in _FMT_RE.finditer(fmt):
        if m.start() > pos:
            parts.append(F.lit(fmt[pos : m.start()]))
        ref = m.group(1)
        if ref.startswith("+"):
            ts = field_col(df, "@timestamp")
            if ts is None:
                parts.append(F.lit(None).cast("string"))
            else:
                parts.append(F.date_format(ts, ref[1:]))
        else:
            path = ".".join(re.findall(r"\[([^\]]+)\]", ref)) or ref
            col = field_col(df, path)
            parts.append(
                F.lit(None).cast("string") if col is None else col.cast("string")
            )
        pos = m.end()
    if pos < len(fmt):
        parts.append(F.lit(fmt[pos:]))
    if not parts:
        return F.lit("")
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def _rule_value(df: DataFrame, rule: dict[str, Any]) -> Column:
    """One selector rule → value-or-NULL Column (select.go:260-335)."""
    raw = format_string_col(df, str(rule["sink"]))
    if rule.get("mappings"):
        mapping = rule["mappings"]
        items: list[Column] = []
        for k, v in mapping.items():
            items.extend([F.lit(str(k)), F.lit(str(v))])
        mapped = F.element_at(F.create_map(*items), raw)
        # outil: mappings miss ⇒ no value (fall through), unless the
        # mapping table has a default via `default` on the rule
        raw = mapped
    val = F.when(raw == "", F.lit(None)).otherwise(raw)
    if rule.get("when") is not None:
        val = F.when(compile_condition(df, rule["when"]), val)
    return val


def _selector(df: DataFrame, head: Column | None, cfg: dict[str, Any]) -> Column:
    """First non-NULL of the override `head`, each rule and the default
    (a coalesce is the ordered when-chain, select.go:337-399), then the
    optional lowercase. NULL when there is nothing to select from."""
    chain = [] if head is None else [head]
    chain += [_rule_value(df, rule) for rule in cfg.get("rules", [])]
    if cfg.get("default") is not None:
        chain.append(format_string_col(df, str(cfg["default"])))
    if not chain:
        expr = F.lit(None).cast("string")
    else:
        expr = F.coalesce(*chain) if len(chain) > 1 else chain[0]
    return F.lower(expr) if cfg.get("lowercase", True) else expr


def sink_column(df: DataFrame, routing: dict[str, Any]) -> Column:
    """Compile a routing config into the `sink` Column.

    routing = {
      "rules": [ {"sink": fmt, "when": cond?, "mappings": {..}?}, ... ],
      "default": "name",
      "dead_letter": "dlq",       # rows with non-null _error
      "lowercase": True,
    }
    """
    expr = _selector(df, field_col(df, "@metadata.raw_index"), routing)
    dead = routing.get("dead_letter")
    if dead is not None and ERROR_COL in df.columns:
        expr = F.when(F.col(ERROR_COL).isNotNull(), F.lit(dead)).otherwise(expr)
    return expr


def with_sink(df: DataFrame, routing: dict[str, Any], col_name: str = "sink") -> DataFrame:
    return df.withColumn(col_name, sink_column(df, routing))


def pipeline_column(df: DataFrame, cfg: dict[str, Any]) -> Column:
    """Per-event ES ingest-pipeline selection — getPipeline
    (libbeat/outputs/elasticsearch/client.go:425-442): a
    `@metadata.pipeline` value overrides (lowercased, per
    events.FieldMetaPipeline handling); otherwise the configured
    outil.Selector (built with SelectorLowerCase,
    elasticsearch.go:158-166); empty/missing ⇒ NULL = no pipeline.

    cfg = {"rules": [...], "default": "name"?, "lowercase": True} —
    same rule grammar as sink_column. Divergence note: the reference
    skips the selector whenever event.Meta is a non-nil map even if it
    lacks the pipeline key; a columnar row has no nil-map distinction,
    so here a NULL @metadata.pipeline falls through to the selector.
    """
    meta_p = field_col(df, "@metadata.pipeline")
    head = None if meta_p is None else F.lower(meta_p.cast("string"))
    expr = _selector(df, head, cfg)
    return F.when(expr == "", F.lit(None)).otherwise(expr)


def with_pipeline(
    df: DataFrame, cfg: dict[str, Any], col_name: str = "pipeline"
) -> DataFrame:
    """Second selector-compiled routing column next to `sink`: the
    per-sink writer emits it as bulk-request metadata (the BulkMeta
    `Pipeline` field, client.go:402-407)."""
    return df.withColumn(col_name, pipeline_column(df, cfg))
