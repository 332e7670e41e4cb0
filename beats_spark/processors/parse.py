"""Parse/transform processors (SURVEY.md §2.3).

Native Column expressions wherever the semantics allow; the only
Arrow/pandas-UDF paths are dissect's exotic-modifier fallback
(dissect.py) and gzip decompression — matching the BASELINE rule
(vectorized pandas/Arrow UDFs, never per-row Python).
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.dissect import (
    Tokenizer,
    cast_dissect_type,
    make_dissect_udf,
    make_trimmer,
)
from beats_spark.fields import (
    add_flag,
    drop_field,
    field_col,
    field_type,
    materialize,
    put_fields,
)
from beats_spark.processors.base import Processor, register
from beats_spark.processors.shape import _set_error
from beats_spark.regex import capture_array


@register
class Dissect(Processor):
    """libbeat/processors/dissect/processor.go:40,75-126.

    Config: tokenizer, field (default "message"), target_prefix
    (default "dissect"; "" = root), ignore_failure, overwrite_keys,
    trim_values, trim_chars.

    Strategy (dissect.py): tokenizer compiles to ONE anchored Java
    regex evaluated JVM-side, once per row for all keys, when eligible;
    otherwise an Arrow-batched pandas UDF returning
    map<string,string>. Failure appends
    `dissect_parsing_error` to the flags column (processor.go:106-117)
    and, unless ignore_failure, sets the error column.
    """

    name = "dissect"

    def __init__(self, cfg: dict[str, Any]):
        super().__init__(cfg)
        self.tok = Tokenizer(
            cfg.get("tokenizer", ""),
            make_trimmer(cfg.get("trim_values", "none"), cfg.get("trim_chars", " ")),
        )
        self.field = cfg.get("field", "message")
        tp = cfg.get("target_prefix", "dissect")
        self.prefix = (tp + ".") if tp else ""

    def apply(self, df: DataFrame) -> DataFrame:
        src = field_col(df, self.field)
        if src is None:
            return _set_error(df, F.lit(True), f"dissect: missing field {self.field}")
        convert = self.tok.wants_convert
        if self.tok.native_compilable:
            # materialize the capture array in a Generate, then write
            # every key in ONE batched projection of array reads: a
            # Filter on a key (drop_event) stays above the Generate, so
            # the plan evaluates the pattern once per row; a per-key
            # withField chain cannot re-inline quadratically; and an
            # in-place overwrite of the source field (target_prefix "")
            # cannot poison later keys or the failure flag (same fix as
            # Grok / put_fields)
            df = materialize(df, {"__dissect_arr__": self.tok.capture_array(src)})
            matched, values = self.tok.native_values(
                F.col("__dissect_arr__"), convert, self.tok.trimmer
            )
            df = put_fields(
                df, {self.prefix + key: expr for key, expr in values.items()}
            )
        else:
            udf = make_dissect_udf(self.tok)
            mcol = "__dissect_map__"
            df = df.withColumn(mcol, udf(src.cast("string")))
            # materialize matched BEFORE dropping the map — `matched` is
            # an expression over mcol, and add_flag/_set_error below would
            # otherwise reference a dropped column (AnalysisException)
            df = df.withColumn("__dissect_matched__", F.col(mcol).isNotNull())
            matched = F.col("__dissect_matched__")
            writes: dict[str, Any] = {}
            for key in self.tok.static_keys:
                expr = F.element_at(F.col(mcol), key)
                if convert:
                    expr = cast_dissect_type(expr, self.tok.key_type(key))
                writes[self.prefix + key] = expr
            df = put_fields(df, writes)
            if self.tok.has_dynamic_keys:
                # dynamic keys can't become static columns: keep the map
                df = df.withColumn("__dissect_dynamic__", F.col(mcol))
            df = df.drop(mcol)
        failed = ~F.coalesce(matched, F.lit(False))
        df = add_flag(df, "dissect_parsing_error", failed)
        if not self.cfg.get("ignore_failure", False):
            df = _set_error(df, failed, "dissect: unable to tokenize field")
        return df.drop("__dissect_matched__", "__dissect_arr__")


@register
class DecodeJsonFields(Processor):
    """actions/decode_json_fields.go:70,103-183 — parse JSON string
    fields. Static-schema engine: `schema` (DDL) per field SHOULD be
    given in config (`schemas: {field: ddl}`); without it the schema is
    inferred from ONE sampled row (a compile-time driver action per
    field), so keys absent from the sampled row are silently dropped
    for every row — fine for homogeneous machine logs, wrong for
    heterogeneous fields. The fallback emits a UserWarning.
    document_id extraction → @metadata._id (json.go docid analog)."""

    name = "decode_json_fields"

    def apply(self, df: DataFrame) -> DataFrame:
        import warnings

        fields = self.cfg.get("fields", [])
        target = self.cfg.get("target")  # None ⇒ in-place under field name
        schemas: dict[str, str] = dict(self.cfg.get("schemas") or {})
        for f in fields:
            col = field_col(df, f)
            if col is None:
                continue
            ddl = schemas.get(f)
            if ddl is None:
                warnings.warn(
                    f"decode_json_fields: no schema for {f!r}; inferring from "
                    "one sampled row — keys missing from that row are dropped "
                    "for ALL rows. Pass schemas={...} for heterogeneous data.",
                    UserWarning,
                    stacklevel=2,
                )
                sample = (
                    df.select(col.alias("v")).filter(F.col("v").isNotNull()).limit(1).collect()
                )
                if not sample:
                    continue
                ddl_row = df.sparkSession.range(1).select(
                    F.schema_of_json(F.lit(sample[0].v)).alias("s")
                ).collect()
                ddl = ddl_row[0].s
            parsed = F.from_json(col, ddl)
            dest = f if target is None else (target if target != "" else None)
            if target == "":
                # merge keys at root (overwrite_keys)
                tmp = "__json__"
                df = df.withColumn(tmp, parsed)
                ptype = df.schema[tmp].dataType
                if isinstance(ptype, T.StructType):
                    df = put_fields(
                        df, {sub: F.col(tmp).getField(sub) for sub in ptype.fieldNames()}
                    )
                df = df.drop(tmp)
            else:
                df = put_fields(df, {dest: parsed})
            if self.cfg.get("document_id"):
                doc = F.get_json_object(col, "$." + self.cfg["document_id"])
                df = put_fields(df, {"@metadata._id": doc})
            if self.cfg.get("add_error_key", False):
                df = _set_error(
                    df, col.isNotNull() & parsed.isNull(), "decode_json_fields: parse error"
                )
        return df


@register
class DecodeCsvFields(Processor):
    """decode_csv_fields/decode_csv_fields.go:59,101 — CSV-parse a
    string field into array<string>. Native: from_csv needs a fixed
    arity, so we split with a quote-aware regex (RFC4180 commas outside
    quotes) then strip quotes — JVM-side throughout."""

    name = "decode_csv_fields"

    def apply(self, df: DataFrame) -> DataFrame:
        sep = self.cfg.get("separator", ",")
        for src, dst in (self.cfg.get("fields") or {}).items():
            col = field_col(df, src)
            if col is None:
                if not self.cfg.get("ignore_missing", False) and self.cfg.get(
                    "fail_on_error", True
                ):
                    df = _set_error(df, F.lit(True), f"decode_csv_fields: missing {src}")
                continue
            # split on sep not inside double quotes (lookahead: even number
            # of quotes remaining), then unquote + unescape "" → "
            pat = re.escape(sep) + r'(?=(?:[^"]*"[^"]*")*[^"]*$)'
            arr = F.split(col, pat)
            unq = F.transform(
                arr,
                lambda x: F.when(
                    # (?s): quoted cells may span lines (e.g. postgres
                    # csvlog multi-line messages)
                    x.rlike(r'(?s)^".*"$'),
                    F.regexp_replace(
                        F.substring(x, 2, F.length(x) - 2), '""', '"'
                    ),
                ).otherwise(x),
            )
            df = put_fields(df, {dst: unq})
        return df


@register
class DecodeBase64Field(Processor):
    """actions/decode_base64_field.go:76 — base64-decode from→to."""

    name = "decode_base64_field"

    def apply(self, df: DataFrame) -> DataFrame:
        spec = self.cfg.get("field") or {}
        col = field_col(df, spec.get("from", ""))
        if col is None:
            if not self.cfg.get("ignore_missing", False) and self.cfg.get(
                "fail_on_error", True
            ):
                return _set_error(df, F.lit(True), "decode_base64_field: missing field")
            return df
        decoded = F.unbase64(col).cast("string")
        return put_fields(df, {spec.get("to", spec["from"]): decoded})


@register
class DecompressGzipField(Processor):
    """actions/decompress_gzip_field.go:69 — gunzip a binary/string
    field. Arrow-batched pandas UDF (zlib has no Column equivalent)."""

    name = "decompress_gzip_field"

    def apply(self, df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from beats_spark._pickle import ensure_udf_portable

        ensure_udf_portable()

        def _gunzip(s):
            import gzip as _gz

            def one(v):
                if v is None:
                    return None
                try:
                    return _gz.decompress(bytes(v)).decode("utf-8", "replace")
                except Exception:
                    return None

            return s.map(one)

        _gunzip.__annotations__ = {"s": pd.Series, "return": pd.Series}
        udf = pandas_udf(_gunzip, "string")
        spec = self.cfg.get("field") or {}
        col = field_col(df, spec.get("from", ""))
        if col is None:
            return df
        return put_fields(df, {spec.get("to", spec["from"]): udf(col.cast("binary"))})


@register
class DecodeXml(Processor):
    """decode_xml/decode_xml.go:62,88 — XML string → struct. Spark 4
    has native from_xml; `schema` (DDL) given in config or inferred
    from one sampled row via schema_of_xml."""

    name = "decode_xml"

    def apply(self, df: DataFrame) -> DataFrame:
        field = self.cfg.get("field", "message")
        col = field_col(df, field)
        if col is None:
            return df
        ddl = self.cfg.get("schema")
        if ddl is None:
            sample = (
                df.select(col.alias("v")).filter(F.col("v").isNotNull()).limit(1).collect()
            )
            if not sample:
                return df
            ddl = (
                df.sparkSession.range(1)
                .select(F.schema_of_xml(F.lit(sample[0].v)).alias("s"))
                .collect()[0]
                .s
            )
        parsed = F.from_xml(col, ddl)
        target = self.cfg.get("target_field", field)
        df = put_fields(df, {target: parsed})
        if not self.cfg.get("ignore_failure", False):
            # PERMISSIVE mode yields an all-null struct on bad input;
            # flag when nothing parsed out of a non-null source
            # (approximation: a valid doc matching zero schema fields
            # also flags — documented divergence)
            inner = field_type(df.schema, target)
            if isinstance(inner, T.StructType):
                tcol = field_col(df, target)
                all_null = F.lit(True)
                for fname in inner.fieldNames():
                    all_null = all_null & tcol.getField(fname).isNull()
                df = _set_error(
                    df, col.isNotNull() & all_null, "decode_xml: parse error"
                )
        return df


@register
class UrlDecode(Processor):
    """urldecode/urldecode.go:51 — percent-decode from→to."""

    name = "urldecode"

    def apply(self, df: DataFrame) -> DataFrame:
        for spec in self.cfg.get("fields", []):
            col = field_col(df, spec["from"])
            if col is None:
                continue
            decoded = F.url_decode(F.regexp_replace(col, r"\+", "%20"))
            df = put_fields(df, {spec.get("to", spec["from"]): decoded})
        return df


@register
class KV(Processor):
    """Key-value splitter — the ES ingest `kv` processor / Logstash kv
    filter analog. Not a Beats processor itself, but module ingest
    pipelines the golden replays target run it server-side (the auditd
    module is built on it: field_split with a negative lookahead,
    value_split with a lookbehind — `module/auditd/log/ingest/
    pipeline.yml:24-33`), so the engine carries the analog.

    Config: `field`, `target_field` (default: `field`), `field_split`
    (Java regex, String.split semantics), `value_split` (Java regex,
    first-occurrence split like ES's split(regex, 2)), optional
    `include_keys` / `exclude_keys`, `prefix`, `ignore_missing`.

    Output is a `map<string,string>` column at `target_field` — the
    Spark-typed analog of ES writing dynamic keys under the target
    object (a struct can't carry run-time key sets). Duplicate keys
    resolve last-wins via spark.sql.mapKeyDedupPolicy=LAST_WIN
    (session.py); ES accumulates arrays instead — documented
    divergence.

    The split itself is the native `str_to_map` expression (same Java
    String.split semantics: pair split by `field_split`, each pair by
    `value_split` limit 2) — measured 3× faster than the equivalent
    split+transform+map_from_entries HOF chain, whose lambdas evaluate
    interpreted outside codegen. Pairs without a value separator are
    dropped (ES kv ignores them too) by a map_filter pass over the
    already-built (small) map. Scale note: Catalyst re-inlines the map
    build once per downstream `getItem` consumer — fan out many
    extractions behind a `.repartition()`/`persist()` barrier, or
    accept the per-consumer rebuild when avoiding a shuffle matters
    more (see PLANS.md q42)."""

    name = "kv"

    def apply(self, df: DataFrame) -> DataFrame:
        cfg = self.cfg
        src = field_col(df, cfg["field"])
        if src is None:
            if cfg.get("ignore_missing", False):
                return df
            raise ValueError(f"kv: missing field {cfg['field']!r}")
        fs = F.lit(cfg["field_split"])
        vs = F.lit(cfg["value_split"])
        prefix = cfg.get("prefix", "")
        m = F.map_filter(
            F.str_to_map(src, fs, vs),
            lambda k, v: v.isNotNull() & (F.length(k) > 0),
        )
        # include/exclude match the ORIGINAL key (ES kv filters before
        # prefixing)
        include = cfg.get("include_keys")
        if include:
            m = F.map_filter(m, lambda k, v: k.isin(*include))
        for key in cfg.get("exclude_keys") or []:
            m = F.map_filter(m, lambda k, v: k != key)
        if prefix:
            m = F.transform_keys(m, lambda k, v: F.concat(F.lit(prefix), k))
        out = F.when(src.isNotNull(), m)
        return put_fields(df, {cfg.get("target_field", cfg["field"]): out})


@register
class DecodeDuration(Processor):
    """decode_duration/decode_duration.go:33,48 — Go duration string
    ("1h2m3.5s") → numeric in `format` unit (milliseconds|seconds|
    minutes|hours). Native regex battery."""

    name = "decode_duration"

    _UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

    def apply(self, df: DataFrame) -> DataFrame:
        col = field_col(df, self.cfg["field"])
        if col is None:
            return df
        secs: Column = F.lit(0.0)
        for unit, mult in self._UNITS.items():
            u = unit.replace("µ", "µ")
            num = F.regexp_extract(col, rf"(\d+(?:\.\d+)?){re.escape(u)}(?![a-z])", 1)
            secs = secs + F.coalesce(num.try_cast("double"), F.lit(0.0)) * F.lit(mult)
        fmt = self.cfg.get("format", "milliseconds")
        div = {"milliseconds": 1e-3, "seconds": 1.0, "minutes": 60.0, "hours": 3600.0}[fmt]
        out = F.when(col.rlike(r"^-?(\d+(\.\d+)?(ns|us|µs|ms|s|m|h))+$"), secs / F.lit(div))
        sign = F.when(col.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
        return put_fields(df, {self.cfg["field"]: out * sign})


# Go reference layouts → Spark datetime patterns for the timestamp
# processor (timestamp/timestamp.go:129-152 tries layouts in order;
# the named constants are Go stdlib time package layouts).
_GO_LAYOUTS = {
    "2006-01-02T15:04:05Z07:00": "yyyy-MM-dd'T'HH:mm:ssXXX",  # RFC3339
    "2006-01-02T15:04:05.999999999Z07:00": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "2006-01-02T15:04:05": "yyyy-MM-dd'T'HH:mm:ss",
    "2006-01-02 15:04:05": "yyyy-MM-dd HH:mm:ss",
    "2006-01-02 15:04:05.999999": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "2006-01-02": "yyyy-MM-dd",
    "2006/01/02 15:04:05": "yyyy/MM/dd HH:mm:ss",
    "01/02/2006 15:04:05": "MM/dd/yyyy HH:mm:ss",
    "01/02/2006": "MM/dd/yyyy",
    "Jan _2 15:04:05": "MMM d HH:mm:ss",  # time.Stamp
    "Jan _2 15:04:05.000": "MMM d HH:mm:ss.SSS",  # time.StampMilli
    # weekday-prefixed layouts: Spark 3+'s parser rejects EEE for
    # PARSING, and the weekday is redundant — the processor strips it
    # (see _STRIP_WEEKDAY) and parses the remainder
    "Mon Jan _2 15:04:05 2006": "MMM d HH:mm:ss yyyy",  # ANSIC
    "Mon Jan _2 15:04:05 MST 2006": "MMM d HH:mm:ss zzz yyyy",  # UnixDate
    "Mon, 02 Jan 2006 15:04:05 MST": "dd MMM yyyy HH:mm:ss zzz",  # RFC1123
    "Mon, 02 Jan 2006 15:04:05 -0700": "dd MMM yyyy HH:mm:ss Z",  # RFC1123Z
    "02 Jan 06 15:04 MST": "dd MMM yy HH:mm zzz",  # RFC822
    "02 Jan 06 15:04 -0700": "dd MMM yy HH:mm Z",  # RFC822Z
    "Monday, 02-Jan-06 15:04:05 MST": "dd-MMM-yy HH:mm:ss zzz",  # RFC850
    "3:04PM": "h:mma",  # Kitchen
}

# Go layouts whose leading weekday must be stripped before parsing
_STRIP_WEEKDAY = {
    "Mon Jan _2 15:04:05 2006",
    "Mon Jan _2 15:04:05 MST 2006",
    "Mon, 02 Jan 2006 15:04:05 MST",
    "Mon, 02 Jan 2006 15:04:05 -0700",
    "Monday, 02-Jan-06 15:04:05 MST",
}


@register
class Timestamp(Processor):
    """timestamp/timestamp.go:37,87-152 — parse a string field into
    @timestamp by trying `layouts` in order; `UNIX`/`UNIX_MS` accepted.
    Spark: F.coalesce(to_timestamp(fmt_i)...) — one projection, layouts
    tried with try semantics natively."""

    name = "timestamp"

    def apply(self, df: DataFrame) -> DataFrame:
        col = field_col(df, self.cfg["field"])
        if col is None:
            return df
        tz = self.cfg.get("timezone", "UTC")
        attempts: list[Column] = []
        for layout in self.cfg.get("layouts", ["2006-01-02T15:04:05Z07:00"]):
            if layout == "UNIX":
                attempts.append(
                    F.to_timestamp(F.from_unixtime(col.try_cast("double").cast("long")))
                )
            elif layout == "UNIX_MS":
                attempts.append(
                    (col.try_cast("double") / 1000).cast("timestamp")
                )
            else:
                fmt = _GO_LAYOUTS.get(layout, layout)  # allow raw Java patterns
                src = col
                if layout in _STRIP_WEEKDAY:
                    src = F.regexp_replace(src, r"^[A-Za-z]{3,9},?\s+", "")
                if "_2" in layout:
                    # Go _2 = space-padded day ("Jan  2"); Java 'd'
                    # wants single separators
                    src = F.regexp_replace(src, " +", " ")
                parsed = F.try_to_timestamp(src, F.lit(fmt))
                if tz not in ("UTC", "Etc/UTC") and "X" not in fmt and "Z" not in fmt:
                    parsed = F.to_utc_timestamp(parsed, tz)
                attempts.append(parsed)
        parsed_all = F.coalesce(*attempts) if len(attempts) > 1 else attempts[0]
        target = self.cfg.get("target_field", "@timestamp")
        if self.cfg.get("ignore_failure", False):
            existing = field_col(df, target)
            if existing is not None:
                parsed_all = F.coalesce(parsed_all, existing)
        else:
            df = _set_error(
                df, col.isNotNull() & parsed_all.isNull(), "timestamp: parse failure"
            )
        return put_fields(df, {target: parsed_all})


_CONVERT_TYPES = {
    "string": "string",
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "ip": "string",
}

_IP_RE = (
    r"^((\d{1,3}\.){3}\d{1,3}|([0-9a-fA-F]{0,4}:){2,7}[0-9a-fA-F]{0,4}(%\w+)?)$"
)


@register
class Convert(Processor):
    """convert/convert.go:41,74-99 — cast fields with optional
    rename/copy. Rollback-on-error (convert.go:82-96) is unnecessary
    here: expressions are pure; fail_on_error instead surfaces the error
    column and leaves the original value in place."""

    name = "convert"

    def apply(self, df: DataFrame) -> DataFrame:
        mode = self.cfg.get("mode", "copy")
        for spec in self.cfg.get("fields", []):
            col = field_col(df, spec["from"])
            if col is None:
                if not self.cfg.get("ignore_missing", False) and self.cfg.get(
                    "fail_on_error", True
                ):
                    df = _set_error(df, F.lit(True), f"convert: missing {spec['from']}")
                continue
            typ = spec.get("type")
            if typ is None:
                out = col
            elif typ == "ip":
                out = F.when(col.cast("string").rlike(_IP_RE), col.cast("string"))
            elif typ == "boolean":
                s = F.lower(col.cast("string"))
                out = F.when(s.isin("true", "t", "1"), F.lit(True)).when(
                    s.isin("false", "f", "0"), F.lit(False)
                )
            else:
                out = col.try_cast(_CONVERT_TYPES[typ])
            if self.cfg.get("fail_on_error", True):
                df = _set_error(
                    df, col.isNotNull() & out.isNull(), f"convert: unable to convert {spec['from']}"
                )
            to = spec.get("to", spec["from"])
            df = put_fields(df, {to: out})
            if mode == "rename" and to != spec["from"]:
                df = drop_field(df, spec["from"])
        return df


# RFC5424 then RFC3164 (libbeat/reader/syslog/: rfc5424_gen.go,
# rfc3164_gen.go — ~4000 LoC of generated ragel collapse into two
# regexes), each with its captures in group order; RFC5424 wins
_SYSLOG = [
    (
        r"^<(\d{1,3})>(\d) "  # pri, version
        r"(\S+) (\S+) (\S+) (\S+) (\S+) "  # ts host app procid msgid
        r"(-|(?:\[.*?\])+)"  # structured data
        r"(?: (.*))?$",  # msg
        [("priority", "int"), ("version", "int"), ("timestamp", None),
         ("hostname", None), ("appname", None), ("procid", None),
         ("msgid", None), ("sd", None), ("message", None)],
    ),
    (
        r"^(?:<(\d{1,3})>)?"  # pri
        r"([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "  # timestamp
        r"([^ :\[]+) "  # hostname
        r"([^ :\[]+?)(?:\[(\d+)\])?: "  # tag[pid]:
        r"(.*)$",  # content
        [("priority", "int"), ("timestamp", None), ("hostname", None),
         ("appname", None), ("procid", None), ("message", None)],
    ),
]


@register
class Syslog(Processor):
    """syslog/syslog.go:79,141 — parse `field` (default message) as
    RFC3164/RFC5424, auto-detected; failure → error + flag. Both
    patterns share grok's match-once path (`grok.first_match`);
    priority → severity = pri % 8, facility = pri // 8."""

    name = "syslog"

    def apply(self, df: DataFrame) -> DataFrame:
        col = field_col(df, self.cfg.get("field", "message"))
        if col is None:
            return df
        from beats_spark.grok import first_match  # grok imports this package

        parsed = [(capture_array(col, rx, len(caps)), caps) for rx, caps in _SYSLOG]
        orig_msg = field_col(df, "message")
        df, arrs, matched, v = first_match(df, parsed)
        pri, ts_raw = v["priority"], v["timestamp"]
        sd = F.when(v["sd"] != "-", v["sd"])
        # keys and values are groups 1 and 2 of ONE pair pattern, so the
        # two arrays always have the same length (a `word="` inside a
        # value, or a value with no closing quote, is not a pair)
        sd_pair = F.lit(r'(\w+)="([^"]*)"')
        writes = {
            "log.syslog.priority": pri,
            "log.syslog.severity.code": pri % 8,
            "log.syslog.facility.code": (pri / 8).cast("int"),
            **{f"log.syslog.{k}": v[k] for k in ("hostname", "appname", "procid", "msgid")},
            "log.syslog.version": v["version"],
            "log.syslog.sd_raw": sd,
            # structured-data params as map<string,string> (rfc5424
            # SD-PARAM; every element's params, flattened)
            "log.syslog.sd": F.map_from_arrays(
                F.regexp_extract_all(sd, sd_pair, 1),
                F.regexp_extract_all(sd, sd_pair, 2),
            ),
            "syslog.timestamp_raw": ts_raw,
        }
        # parse the timestamp: 5424 carries ISO8601; 3164 is BSD
        # time.Stamp, year-less — the reference derives the year from
        # now (syslog/message.go:101-110); `default_year` pins it for
        # deterministic tests/backfills
        year = self.cfg.get("default_year")
        year_c = (
            F.lit(int(year)).cast("string")
            if year is not None
            else F.year(F.current_date()).cast("string")
        )
        bsd = F.try_to_timestamp(
            F.concat(year_c, F.lit(" "), F.regexp_replace(ts_raw, " +", " ")),
            F.lit("yyyy MMM d HH:mm:ss"),
        )
        iso = F.coalesce(
            F.try_to_timestamp(ts_raw, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
            F.try_to_timestamp(ts_raw, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
            F.try_to_timestamp(ts_raw, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
            F.try_to_timestamp(ts_raw, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        )
        parsed_ts = F.when(ts_raw.rlike(r"^\d{4}-"), iso).otherwise(
            F.when(ts_raw.isNotNull(), bsd)
        )
        writes["log.syslog.timestamp"] = parsed_ts
        if orig_msg is None:
            orig_msg = F.lit(None).cast("string")
        writes["message"] = F.coalesce(v["message"], orig_msg)
        # overwrites its paths (unlike grok, no coalesce with old values)
        df = put_fields(df, writes)
        df = add_flag(df, "syslog_parsing_error", ~matched)
        if not self.cfg.get("ignore_failure", False):
            df = _set_error(df, ~matched, "syslog: parse failure")
        return df.drop(*arrs)


@register
class Script(Processor):
    """script/processor.go:35-53 — user JS per event. The Spark-native
    escape hatch is a user-supplied vectorized function instead:
    cfg['pandas_fn'] : Callable[[pd.DataFrame], pd.DataFrame] applied
    via mapInPandas with an explicit output schema (cfg['schema'])."""

    name = "script"

    def apply(self, df: DataFrame) -> DataFrame:
        fn = self.cfg.get("pandas_fn")
        schema = self.cfg.get("schema")
        if fn is None or schema is None:
            raise NotImplementedError(
                "script: supply pandas_fn + schema (the goja JS engine is "
                "deliberately not reproduced — see README.md 'Migrating "
                "script: processors' for the JS→vectorized-pandas recipe)"
            )
        from beats_spark._pickle import ensure_udf_portable

        ensure_udf_portable()

        def gen(batches):
            for b in batches:
                yield fn(b)

        return df.mapInPandas(gen, schema)
