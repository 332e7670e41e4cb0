"""Dot-notation field access over a fixed-schema DataFrame.

The reference event model is a schemaless nested map addressed with
dot-notation (`libbeat/beat/event.go:84-104` GetValue/PutValue,
mapstr.M). Our events are rows with a static schema; dotted paths
navigate struct columns instead. Beats' "missing key" maps to either
(a) the path not existing in the schema — decided at *compile* time —
or (b) a NULL at run time (e.g. an enrich miss). Both must behave as
"missing" for conditions (missing ⇒ false, see conditions.py).

Reserved namespaces (`event.go:67-82`): `@timestamp` is a plain
timestamp column; `@metadata.*` lives in the `_meta` struct column and
is dropped before any sink write (sinks/writer.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_COL = "_meta"  # @metadata analog: routing-only, never emitted
ERROR_COL = "_error"  # error.message analog (event.go:303-316)
FLAGS_COL = "_flags"  # log.flags analog (beat.FlagField), array<string>


def _navigate(dtype: T.DataType, parts: list[str]) -> T.DataType | None:
    """Walk a dotted path through nested structs; None if absent."""
    cur = dtype
    for p in parts:
        if not isinstance(cur, T.StructType):
            return None
        try:
            cur = cur[p].dataType
        except KeyError:
            return None
    return cur


def field_type(schema: T.StructType, path: str) -> T.DataType | None:
    """Data type at `path`, or None when the schema lacks it."""
    if path.startswith("@metadata."):
        path = META_COL + path[len("@metadata") :]
    if path == "@timestamp":
        path = "@timestamp"
    parts = path.split(".")
    # longest-prefix match on top-level names that contain dots
    for cut in range(len(parts), 0, -1):
        top = ".".join(parts[:cut])
        if top in schema.fieldNames():
            return _navigate(schema[top].dataType, parts[cut:])
    return None


def has_field(schema: T.StructType, path: str) -> bool:
    return field_type(schema, path) is not None


def field_col(df: DataFrame, path: str) -> Column | None:
    """Column for a dotted path, or None when absent from the schema."""
    if path.startswith("@metadata."):
        path = META_COL + path[len("@metadata") :]
    parts = path.split(".")
    for cut in range(len(parts), 0, -1):
        top = ".".join(parts[:cut])
        if top in df.columns:
            if field_type(df.schema, path) is None:
                return None
            col = F.col(f"`{top}`")
            for p in parts[cut:]:
                col = col.getField(p)
            return col
    return None


def _put_nested(
    col: Column | None, dtype: T.DataType | None, parts: list[str], value: Column
) -> Column:
    """Set `parts` under struct `col` (None = absent), creating missing
    intermediate structs (withField can't create them itself)."""
    p = parts[0]
    is_struct = isinstance(dtype, T.StructType)
    if len(parts) == 1:
        inner = value
    else:
        sub_dt = (
            dtype[p].dataType if is_struct and p in dtype.fieldNames() else None
        )
        sub_col = (
            col.getField(p)
            if col is not None and is_struct and p in dtype.fieldNames()
            else None
        )
        if not isinstance(sub_dt, T.StructType):
            sub_col, sub_dt = None, None  # overwrite non-struct intermediary
        inner = _put_nested(sub_col, sub_dt, parts[1:], value)
    if col is None or not is_struct:
        return F.struct(inner.alias(p))
    return col.withField(f"`{p}`", inner)


def put_field(df: DataFrame, path: str, value: Column) -> DataFrame:
    """PutValue analog (`event.go:240-253`): create or overwrite; nested
    paths go through struct columns, creating intermediates as needed.
    A non-struct intermediary is overwritten with a struct (Beats would
    error TryToExpandObject — documented divergence)."""
    if path.startswith("@metadata."):
        path = META_COL + path[len("@metadata") :]
    parts = path.split(".")
    if len(parts) == 1 or ".".join(parts) in df.columns:
        return df.withColumn(path, value)
    top = parts[0]
    if top in df.columns:
        dt = df.schema[top].dataType
        col = F.col(f"`{top}`") if isinstance(dt, T.StructType) else None
        return df.withColumn(top, _put_nested(col, dt, parts[1:], value))
    return df.withColumn(top, _put_nested(None, None, parts[1:], value))


def _path_tree(paths: dict[str, Column]) -> dict:
    """{'a.b': v, 'a.c.d': w} → {'a': {'b': v, 'c': {'d': w}}}. A path
    that is both leaf and prefix keeps the later entry (put_field's
    overwrite-non-struct-intermediary divergence, applied in order)."""
    root: dict = {}
    for path, v in paths.items():
        node = root
        parts = path.split(".")
        for p in parts[:-1]:
            if not isinstance(node.get(p), dict):
                node[p] = {}
            node = node[p]
        node[parts[-1]] = v
    return root


def _merge_nested(col: Column | None, dtype, tree: dict) -> Column:
    """Rebuild a struct with `tree`'s values merged in — every existing
    field referenced exactly ONCE (getField), so the expression stays
    LINEAR in total field count. A withField chain (one put_field per
    path) makes each deep write re-reference the whole prior chain:
    with ~30 nested writes per grok stage the optimizer chews minutes
    on the re-inlined tree (haproxy module lesson — 144s optimizer
    pass collapsed to <2s by this merge)."""
    out = []
    is_struct = isinstance(dtype, T.StructType)
    existing = dtype.fieldNames() if is_struct else []
    tree = dict(tree)
    for n in existing:
        if n in tree:
            node = tree.pop(n)
            if isinstance(node, dict):
                sub_dt = dtype[n].dataType
                if isinstance(sub_dt, T.StructType):
                    out.append(
                        _merge_nested(col.getField(n), sub_dt, node).alias(n)
                    )
                else:
                    out.append(_merge_nested(None, None, node).alias(n))
            else:
                out.append(node.alias(n))
        else:
            out.append(col.getField(n).alias(n))
    for n, node in tree.items():
        out.append(
            (_merge_nested(None, None, node) if isinstance(node, dict) else node)
            .alias(n)
        )
    return F.struct(*out)


def put_fields(df: DataFrame, values: dict[str, Column]) -> DataFrame:
    """Batch put_field: write MANY dotted paths in one projection, each
    top-level struct rebuilt once. Semantics match sequential put_field
    calls (create-or-overwrite, intermediates created, non-struct
    intermediaries overwritten) as long as no path is a prefix of
    another top-level column write."""
    flat: dict[str, Column] = {}
    nested: dict[str, dict[str, Column]] = {}
    for path, v in values.items():
        if path.startswith("@metadata."):
            path = META_COL + path[len("@metadata") :]
        parts = path.split(".")
        if len(parts) == 1 or path in df.columns:
            flat[path] = v
        else:
            nested.setdefault(parts[0], {})[".".join(parts[1:])] = v
    out: dict[str, Column] = dict(flat)
    for top, sub in nested.items():
        dt = df.schema[top].dataType if top in df.columns else None
        if isinstance(dt, T.StructType):
            out[top] = _merge_nested(F.col(f"`{top}`"), dt, _path_tree(sub))
        else:
            out[top] = _merge_nested(None, None, _path_tree(sub))
    return df.withColumns(out)


def materialize(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """Add `cols` as computed columns that Catalyst cannot re-inline.

    `withColumn` is a plain projection: a Filter pushed below it, or a
    second projection collapsed into it, gets a copy of the aliased
    expression at every reference. Here the columns come out of ONE
    `Generate` that emits exactly one row per input row (inline of a
    one-element array of structs). A Filter moves below a Generate only
    when it reads none of the generator's output, so filters on these
    columns stay above it and read the attribute, while filters on input
    columns (include_lines, a checkpoint chunk filter) still run before
    the columns are computed. The Generate stays in whole-stage codegen."""
    row = F.struct(*[c.alias(n) for n, c in cols.items()])
    return df.select("*", F.inline(F.array(row)))


def drop_field(df: DataFrame, path: str) -> DataFrame:
    """Delete analog (`event.go:268-276`); no-op when absent."""
    if not has_field(df.schema, path):
        return df
    parts = path.split(".")
    if path in df.columns or len(parts) == 1:
        return df.drop(path)
    top = parts[0]
    if top in df.columns and isinstance(df.schema[top].dataType, T.StructType):
        col = F.col(f"`{top}`").dropFields("`" + "`.`".join(parts[1:]) + "`")
        return df.withColumn(top, col)
    return df


def ensure_flags(df: DataFrame) -> DataFrame:
    """Make sure the log.flags analog column exists (array<string>)."""
    if FLAGS_COL not in df.columns:
        return df.withColumn(FLAGS_COL, F.lit(None).cast(T.ArrayType(T.StringType())))
    return df


def add_flag(df: DataFrame, flag: str, cond: Column | None = None) -> DataFrame:
    """AddTagsWithKey analog (mapstr, dedup'd append) gated on `cond`."""
    df = ensure_flags(df)
    appended = F.array_union(F.coalesce(F.col(FLAGS_COL), F.array()), F.array(F.lit(flag)))
    new = appended if cond is None else F.when(cond, appended).otherwise(F.col(FLAGS_COL))
    return df.withColumn(FLAGS_COL, new)
