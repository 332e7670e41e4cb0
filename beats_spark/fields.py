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
is dropped before any sink write (`sinks.strip_internal`).

Every read, write and delete resolves its path with `_resolve`, and
every write goes through `put_fields`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_COL = "_meta"  # @metadata analog: routing-only, never emitted
ERROR_COL = "_error"  # error.message analog (event.go:303-316)
FLAGS_COL = "_flags"  # log.flags analog (beat.FlagField), array<string>


def _resolve(schema: T.StructType, path: str) -> tuple[str, list[str]]:
    """The one dotted-path rule: `path` → (top-level column, struct path
    under it). `@metadata.x` lives in `_meta`; otherwise the longest
    top-level name the path starts with wins (names may hold dots:
    `source.ip`, `log.file`); with none, the first segment."""
    if path.startswith("@metadata."):
        return META_COL, path[len("@metadata.") :].split(".")
    parts = path.split(".")
    names = set(schema.fieldNames())
    for cut in range(len(parts), 0, -1):
        top = ".".join(parts[:cut])
        if top in names:
            return top, parts[cut:]
    return parts[0], parts[1:]


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
    top, rest = _resolve(schema, path)
    return _navigate(schema, [top, *rest])


def has_field(schema: T.StructType, path: str) -> bool:
    return field_type(schema, path) is not None


def field_col(df: DataFrame, path: str) -> Column | None:
    """GetValue analog (`event.go:84-104`): the column at a dotted path,
    or None when absent from the schema."""
    top, rest = _resolve(df.schema, path)
    if _navigate(df.schema, [top, *rest]) is None:
        return None
    col = F.col(f"`{top}`")
    for p in rest:
        col = col.getField(p)
    return col


def _path_tree(schema: T.StructType, paths: dict) -> dict:
    """{'a.b': v, 'a.c.d': w} → {'a': {'b': v, 'c': {'d': w}}}, keyed by
    resolved top-level column. Where one path is a prefix of another
    the later entry wins, as sequential writes would."""
    root: dict = {}
    for path, v in paths.items():
        top, rest = _resolve(schema, path)
        parts = [top, *rest]
        node = root
        for p in parts[:-1]:
            if not isinstance(node.get(p), dict):
                node[p] = {}
            node = node[p]
        node[parts[-1]] = v
    return root


def _merge_nested(col: Column, dtype: T.DataType | None, tree: dict) -> Column:
    """Rebuild struct `col` (of type `dtype`; not a struct = absent) with
    `tree`'s values merged in — every existing field referenced exactly
    ONCE (getField), so the expression stays LINEAR in total field
    count. A withField chain (one write per path) makes each deep write
    re-reference the whole prior chain: with ~30 nested writes per grok
    stage the optimizer chews minutes on the re-inlined tree (haproxy
    module lesson — 144s optimizer pass collapsed to <2s by this
    merge). A NULL struct comes back as a struct of its NULL fields
    plus the new values."""
    names = dtype.fieldNames() if isinstance(dtype, T.StructType) else []
    out = []
    for n in names + [n for n in tree if n not in names]:
        node = tree.get(n)
        if isinstance(node, dict):
            sub = dtype[n].dataType if n in names else None
            node = _merge_nested(col.getField(n), sub, node)
        elif node is None:
            node = col.getField(n)
        out.append(node.alias(n))
    return F.struct(*out)


def put_fields(df: DataFrame, values: dict[str, Column]) -> DataFrame:
    """PutValue analog (`event.go:240-253`) and the only field writer:
    create or overwrite every dotted path in `values` in ONE projection,
    each top-level struct rebuilt once. Missing or NULL intermediate
    structs are created; a non-struct intermediary is overwritten with
    a struct (Beats would error TryToExpandObject — documented
    divergence). Every value is computed from `df` as it was before
    the batch, so a write that reads an earlier one's target needs a
    call of its own."""
    out: dict[str, Column] = {}
    for top, node in _path_tree(df.schema, values).items():
        if isinstance(node, dict):
            node = _merge_nested(F.col(f"`{top}`"), _navigate(df.schema, [top]), node)
        out[top] = node
    return df.withColumns(out)


def _prune(col: Column, node) -> Column:
    """`col` cut down to the leaves of a `_path_tree` (True keeps the
    whole value)."""
    if node is True:
        return col
    return F.struct(*[_prune(col.getField(n), sub).alias(n) for n, sub in node.items()])


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
    top, rest = _resolve(df.schema, path)
    if _navigate(df.schema, [top, *rest]) is None:
        return df
    # dropFields cannot empty a struct, and Parquet cannot store one
    # (Beats keeps `{}`): a struct whose only field goes is deleted too
    while rest and len(_navigate(df.schema, [top, *rest[:-1]]).fieldNames()) == 1:
        rest = rest[:-1]
    if not rest:
        return df.drop(top)
    return df.withColumn(top, F.col(f"`{top}`").dropFields("`" + "`.`".join(rest) + "`"))


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
