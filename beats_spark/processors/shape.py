"""Field-shaping processors (SURVEY.md §2.4) — pure column transforms.

Each docstring cites the reference implementation under
/root/reference/libbeat/processors/ it reproduces. All are native
Column expressions (whole-stage codegen); no Python UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.fields import (
    FLAGS_COL,
    _path_tree,
    _prune,
    add_flag,
    drop_field,
    field_col,
    field_type,
    has_field,
    put_fields,
)
from beats_spark.processors.base import Processor, is_internal, register


def _set_error(df: DataFrame, cond: Column, msg: Column | str) -> DataFrame:
    """SetErrorWithOption analog (libbeat/beat/event.go:303-316): record
    error.message instead of aborting the chain."""
    from beats_spark.fields import ERROR_COL

    msg_c = F.lit(msg) if isinstance(msg, str) else msg
    prev = F.col(ERROR_COL) if ERROR_COL in df.columns else F.lit(None).cast("string")
    return df.withColumn(ERROR_COL, F.when(cond, msg_c).otherwise(prev))


@register
class DropEvent(Processor):
    """actions/drop_event.go:31-46 — drop the whole event (always
    when-gated in practice; bare drop_event drops everything)."""

    name = "drop_event"
    drops_rows = True

    def apply_when(self, df: DataFrame, cond: Column | None) -> DataFrame:
        if cond is None:
            return df.filter(F.lit(False))
        return df.filter(~F.coalesce(cond, F.lit(False)))


@register
class DropFields(Processor):
    """actions/drop_fields.go:44,93 — delete fields; @timestamp/type
    protected; ignore_missing (always effectively true on static schema)."""

    name = "drop_fields"
    PROTECTED = {"@timestamp", "type"}

    def apply(self, df: DataFrame) -> DataFrame:
        for f in self.cfg.get("fields", []):
            if f in self.PROTECTED:
                raise ValueError(f"drop_fields: {f} is protected")
            df = drop_field(df, f)
        return df


@register
class IncludeFields(Processor):
    """actions/include_fields.go:54-91 — keep listed + mandatory fields
    (@timestamp, type) + pipeline-internal columns."""

    name = "include_fields"

    def apply(self, df: DataFrame) -> DataFrame:
        want = [w for w in self.cfg.get("fields", []) if has_field(df.schema, w)]
        # a path under another listed path adds nothing: the whole stays
        want = [w for w in want if not any(w.startswith(o + ".") for o in want)]
        keep = [c for c in df.columns if is_internal(c) or c in self.PRESERVE]
        cols = [F.col(f"`{c}`") for c in keep]
        for top, node in _path_tree(df.schema, dict.fromkeys(want, True)).items():
            if top not in keep:
                col = F.col(f"`{top}`")
                cols.append(col if node is True else _prune(col, node).alias(top))
        return df.select(*cols)

    PRESERVE = {"@timestamp", "type"}


@register
class AddFields(Processor):
    """actions/addfields/add_fields.go:64-81 — DeepUpdate a constant map
    under `target` (default "fields"); add_fields with target "" writes
    at root. Overwrite flag ⇒ DeepUpdate vs NoOverwrite ⇒ coalesce."""

    name = "add_fields"

    def apply(self, df: DataFrame) -> DataFrame:
        target = self.cfg.get("target", "fields")
        overwrite = bool(self.cfg.get("overwrite", True))
        writes = {}
        for k, v in (self.cfg.get("fields") or {}).items():
            path = f"{target}.{k}" if target else k
            val = F.lit(v)
            if not overwrite:
                existing = field_col(df, path)
                if existing is not None:
                    val = F.coalesce(existing, val)
            writes[path] = val
        return put_fields(df, writes)


@register
class AddLabels(Processor):
    """actions/add_labels.go:36 — flattened constant labels under
    `labels.*`."""

    name = "add_labels"

    def apply(self, df: DataFrame) -> DataFrame:
        def flatten(prefix, m, out):
            for k, v in m.items():
                key = f"{prefix}.{k}" if prefix else k
                if isinstance(v, dict):
                    flatten(key, v, out)
                elif isinstance(v, list):
                    out[key] = ",".join(str(x) for x in v)
                else:
                    out[key] = v

        flat: dict = {}
        flatten("", self.cfg.get("labels") or {}, flat)
        return put_fields(df, {f"labels.{k}": F.lit(v) for k, v in flat.items()})


@register
class AddTags(Processor):
    """actions/add_tags.go:38,77 — append constant tags (dedup'd,
    mapstr.AddTagsWithKey) to `target` array (default `tags`)."""

    name = "add_tags"

    def apply(self, df: DataFrame) -> DataFrame:
        target = self.cfg.get("target", "tags")
        tags = [F.lit(t) for t in self.cfg.get("tags", [])]
        existing = field_col(df, target)
        base = (
            F.coalesce(existing, F.array().cast("array<string>"))
            if existing is not None
            else F.array().cast("array<string>")
        )
        return put_fields(df, {target: F.array_union(base, F.array(*tags))})


@register
class CopyFields(Processor):
    """actions/copy_fields.go:45,71 — copy from→to; fails when target
    exists (we overwrite + record error when fail_on_error)."""

    name = "copy_fields"

    def apply(self, df: DataFrame) -> DataFrame:
        for pair in self.cfg.get("fields", []):
            src = field_col(df, pair["from"])
            if src is None:
                if not self.cfg.get("ignore_missing", False) and self.cfg.get(
                    "fail_on_error", True
                ):
                    df = _set_error(
                        df, F.lit(True), f"copy_fields: missing {pair['from']}"
                    )
                continue
            df = put_fields(df, {pair["to"]: src})
        return df


@register
class Rename(Processor):
    """actions/rename.go:51,76 — move a field (copy + delete source)."""

    name = "rename"

    def apply(self, df: DataFrame) -> DataFrame:
        for pair in self.cfg.get("fields", []):
            src = field_col(df, pair["from"])
            if src is None:
                if not self.cfg.get("ignore_missing", False) and self.cfg.get(
                    "fail_on_error", True
                ):
                    df = _set_error(df, F.lit(True), f"rename: missing {pair['from']}")
                continue
            df = put_fields(df, {pair["to"]: src})
            df = drop_field(df, pair["from"])
        return df


@register
class MoveFields(Processor):
    """move_fields/move_fields.go:34,52 — re-nest selected fields under
    a new prefix."""

    name = "move_fields"

    def apply(self, df: DataFrame) -> DataFrame:
        to = self.cfg.get("to", "")
        fields = self.cfg.get("fields", [])
        for f in fields:
            src = field_col(df, f)
            if src is None:
                if not self.cfg.get("ignore_missing", True):
                    df = _set_error(df, F.lit(True), f"move_fields: missing {f}")
                continue
            leaf = f.split(".")[-1]
            dest = f"{to}{leaf}" if to.endswith(".") or not to else f"{to}.{leaf}"
            df = put_fields(df, {dest: src})
            df = drop_field(df, f)
        return df


@register
class TruncateFields(Processor):
    """actions/truncate_fields.go:53,84 — truncate string fields to
    max_characters (native substring) or max_bytes (byte-precise via
    binary slice + lossy re-decode); sets `truncated` flag."""

    name = "truncate_fields"

    def apply(self, df: DataFrame) -> DataFrame:
        max_chars = self.cfg.get("max_characters")
        max_bytes = self.cfg.get("max_bytes")
        if (max_chars is None) == (max_bytes is None):
            raise ValueError("truncate_fields: exactly one of max_bytes/max_characters")
        for f in self.cfg.get("fields", []):
            col = field_col(df, f)
            if col is None:
                continue
            if max_chars is not None:
                trunc_cond = F.length(col) > max_chars
                new = F.when(trunc_cond, F.substring(col, 1, int(max_chars))).otherwise(col)
            else:
                blen = F.octet_length(col)
                trunc_cond = blen > max_bytes
                # byte-slice then drop a trailing partial UTF-8 sequence the
                # way Go's byte truncation would keep raw bytes; we re-decode
                # lossily (documented divergence: Go keeps invalid bytes)
                sliced = F.substring(col.cast("binary"), 1, int(max_bytes))
                new = F.when(trunc_cond, sliced.cast("string")).otherwise(col)
            # flag BEFORE overwriting: the condition reads the original value
            df = add_flag(df, "truncated", trunc_cond)
            df = put_fields(df, {f: new})
        return df


@register
class Replace(Processor):
    """actions/replace.go:59,84 — regex replace within string fields."""

    name = "replace"

    def apply(self, df: DataFrame) -> DataFrame:
        for item in self.cfg.get("fields", []):
            col = field_col(df, item["field"])
            if col is None:
                if not self.cfg.get("ignore_missing", False) and self.cfg.get(
                    "fail_on_error", True
                ):
                    df = _set_error(
                        df, F.lit(True), f"replace: missing {item['field']}"
                    )
                continue
            new = F.regexp_replace(col, item["pattern"], item["replacement"])
            df = put_fields(df, {item["field"]: new})
        return df


class _AlterCase(Processor):
    """actions/lowercase.go / uppercase.go via alterFieldProcessor:91 —
    alters field NAMES; `alter_full_field` + values variants also change
    the value. Static schema ⇒ name change = select-with-alias."""

    fn = staticmethod(F.lower)
    pyfn = staticmethod(str.lower)

    def apply(self, df: DataFrame) -> DataFrame:
        targets = set(self.cfg.get("fields", []))
        values = set(self.cfg.get("values", []))
        for f in list(targets):
            if f in df.columns:
                new_name = self.pyfn(f)
                if new_name != f:
                    df = df.withColumnRenamed(f, new_name)
        for f in values:
            col = field_col(df, f)
            if col is not None and isinstance(field_type(df.schema, f), T.StringType):
                df = put_fields(df, {f: self.fn(col)})
        return df


@register
class Lowercase(_AlterCase):
    name = "lowercase"
    fn = staticmethod(F.lower)
    pyfn = staticmethod(str.lower)


@register
class Uppercase(_AlterCase):
    name = "uppercase"
    fn = staticmethod(F.upper)
    pyfn = staticmethod(str.upper)


@register
class Append(Processor):
    """actions/append.go:49,77 — append values of `fields` + literal
    `values` to `target_field` array; allow_duplicate=false dedups."""

    name = "append"

    def apply(self, df: DataFrame) -> DataFrame:
        target = self.cfg["target_field"]
        parts: list[Column] = []
        existing = field_col(df, target)
        if existing is not None:
            et = field_type(df.schema, target)
            parts.append(
                F.coalesce(
                    existing if isinstance(et, T.ArrayType) else F.array(existing),
                    F.array().cast("array<string>"),
                )
            )
        for f in self.cfg.get("fields", []):
            c = field_col(df, f)
            if c is None:
                continue
            ft = field_type(df.schema, f)
            c = c if isinstance(ft, T.ArrayType) else F.array(c)
            if self.cfg.get("ignore_empty_values", False):
                c = F.filter(c, lambda x: x.isNotNull() & (x.cast("string") != ""))
            parts.append(c.cast("array<string>"))
        vals = [F.lit(v) for v in self.cfg.get("values", [])]
        if vals:
            parts.append(F.array(*vals).cast("array<string>"))
        if not parts:
            return df
        out = parts[0]
        for p in parts[1:]:
            out = F.concat(out, F.coalesce(p, F.array().cast("array<string>")))
        if not self.cfg.get("allow_duplicate", True):
            out = F.array_distinct(out)
        return put_fields(df, {target: out})


@register
class ExtractField(Processor):
    """actions/extract_field.go:41,76 — split `field` by `separator`,
    take `index`, write to `target`."""

    name = "extract_field"

    def apply(self, df: DataFrame) -> DataFrame:
        col = field_col(df, self.cfg["field"])
        if col is None:
            return _set_error(df, F.lit(True), f"extract_field: missing {self.cfg['field']}")
        import re as _re

        parts = F.split(col, _re.escape(self.cfg["separator"]))
        idx = int(self.cfg["index"])
        val = parts.getItem(idx)
        df = put_fields(df, {self.cfg["target"]: val})
        return _set_error(
            df, F.size(parts) <= idx, "extract_field: index out of range"
        )


@register
class ExtractArray(Processor):
    """extract_array/extract_array.go:63,117 — map array positions to
    named fields."""

    name = "extract_array"

    def apply(self, df: DataFrame) -> DataFrame:
        col = field_col(df, self.cfg["field"])
        if col is None:
            if self.cfg.get("ignore_missing", False):
                return df
            return _set_error(df, F.lit(True), f"extract_array: missing {self.cfg['field']}")
        mappings = self.cfg.get("mappings") or {}
        return put_fields(
            df, {t: F.element_at(col, int(pos) + 1) for t, pos in mappings.items()}
        )


@register
class DetectMimeType(Processor):
    """actions/detect_mime_type.go:32,53 — magic-byte sniff, implemented
    natively as a prefix-match when-chain (no UDF)."""

    name = "detect_mime_type"

    # bytes ⇒ hex-match on the binary cast (UTF-8 string casting mangles
    # invalid bytes like 0x89/0xFF/0x1F, so real binary columns would
    # always fall through to text/plain — round-2 ADVICE); str ⇒ prefix
    # match on the string cast (text formats)
    MAGIC: list[tuple[bytes | str, str]] = [
        ("%PDF-", "application/pdf"),
        (b"\x89PNG\r\n\x1a\n", "image/png"),
        (b"GIF87a", "image/gif"),
        (b"GIF89a", "image/gif"),
        (b"\xff\xd8\xff", "image/jpeg"),
        (b"PK\x03\x04", "application/zip"),
        (b"\x1f\x8b", "application/gzip"),
        (b"BM", "image/bmp"),
        (b"OggS", "audio/ogg"),
        (b"ID3", "audio/mpeg"),
        (b"RIFF", "audio/wav"),
        ("<?xml", "text/xml; charset=utf-8"),
        ("{", "application/json"),
        ("[", "application/json"),
    ]

    def apply(self, df: DataFrame) -> DataFrame:
        col = field_col(df, self.cfg["field"])
        if col is None:
            return df
        b = col.cast("binary")
        s = col.cast("string")
        expr: Column = F.lit("text/plain; charset=utf-8")
        for sig, mime in reversed(self.MAGIC):
            if isinstance(sig, bytes):
                m = F.hex(F.substring(b, 1, len(sig))) == sig.hex().upper()
            else:
                m = s.startswith(sig)
            expr = F.when(m, F.lit(mime)).otherwise(expr)
        expr = F.when(b.isNull() | (F.length(b) == 0), F.lit(None)).otherwise(expr)
        return put_fields(df, {self.cfg["target"]: expr})


@register
class AddId(Processor):
    """add_id/add_id.go:32,64 — random ES-style id (uuid stand-in) into
    target_field (default @metadata._id)."""

    name = "add_id"

    def apply(self, df: DataFrame) -> DataFrame:
        target = self.cfg.get("target_field", "@metadata._id")
        return put_fields(df, {target: F.expr("uuid()")})


@register
class AddLocale(Processor):
    """add_locale/add_locale.go:55,88 — event.timezone (session tz)."""

    name = "add_locale"

    def apply(self, df: DataFrame) -> DataFrame:
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
        return put_fields(df, {"event.timezone": F.lit(tz)})


@register
class Now(Processor):
    """now/now.go:44,65 — wall-clock timestamp into target field."""

    name = "now"

    def apply(self, df: DataFrame) -> DataFrame:
        return put_fields(df, {self.cfg.get("field", "now"): F.current_timestamp()})


@register
class AddFormattedIndex(Processor):
    """add_formatted_index/add_formatted_index.go:33,61 — event-format
    string → @metadata.raw_index (forces the output sink)."""

    name = "add_formatted_index"

    def apply(self, df: DataFrame) -> DataFrame:
        from beats_spark.routing import format_string_col

        index = format_string_col(df, self.cfg["index"])
        return put_fields(df, {"@metadata.raw_index": index})


@register
class AddDataStream(Processor):
    """add_data_stream/add_data_stream.go:68 — data_stream.* fields +
    @metadata.raw_index = type-dataset-namespace."""

    name = "add_data_stream"

    def apply(self, df: DataFrame) -> DataFrame:
        ds = self.cfg.get("data_stream") or {}
        typ = ds.get("type", "logs")
        dataset = ds.get("dataset", "generic")
        ns = ds.get("namespace", "default")
        return put_fields(
            df,
            {
                "data_stream.type": F.lit(typ),
                "data_stream.dataset": F.lit(dataset),
                "data_stream.namespace": F.lit(ns),
                "@metadata.raw_index": F.lit(f"{typ}-{dataset}-{ns}"),
            },
        )
