"""Dotted-path field layer (`beats_spark.fields`): one path rule for
every read, write and delete — `@metadata.` → `_meta`, else the longest
top-level name, else the first segment — and `put_fields` as the only
writer (libbeat/beat/event.go GetValue/PutValue/Delete/HasKey)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.fields import drop_field, field_col, has_field, put_fields
from beats_spark.processors import compile_one
from beats_spark.processors.base import is_internal

NESTED = "n int, a struct<b:struct<c:int,d:int>,e:int>"
SCHEMAS = {
    "flat": ("n int, x string", [(1, "old")]),
    "nested": (NESTED, [(1, ((1, 2), 3))]),
    "null_parent": (NESTED, [(1, None)]),
    "dotted_leaf": ("n int, `source.ip` string", [(1, "10.0.0.1")]),
    "dotted_struct": (
        "n int, `log.file` struct<line:int,path:string>",
        [(1, (5, "/var/log/x.log"))],
    ),
    "meta": ("n int, _meta struct<x:string,y:string>", [(1, ("mx", "my"))]),
}
PATHS = ["x", "a.b", "a.b.c", "@metadata.x", "log.file.line", "source.ip"]


def _frame(spark, shape):
    ddl, rows = SCHEMAS[shape]
    return spark.createDataFrame(rows, ddl)


def _leaves(schema: T.StructType, internal: bool = True) -> set[str]:
    """Every leaf path of `schema`, `_meta` fields spelled `@metadata.*`."""
    out: set[str] = set()

    def walk(prefix: str, dt: T.DataType) -> None:
        if isinstance(dt, T.StructType) and dt.fields:
            for f in dt.fields:
                walk(f"{prefix}.{f.name}", f.dataType)
        else:
            out.add(prefix)

    for f in schema.fields:
        if internal or not is_internal(f.name):
            walk("@metadata" if f.name == "_meta" else f.name, f.dataType)
    return out


def _read(df, paths):
    cols = [field_col(df, p).alias(str(i)) for i, p in enumerate(paths)]
    return dict(zip(paths, df.select(*cols).collect()[0]))


@pytest.fixture(scope="module")
def originals(spark):
    """shape → {leaf path: value} of its one input row."""
    out = {}
    for shape in SCHEMAS:
        df = _frame(spark, shape)
        out[shape] = _read(df, sorted(_leaves(df.schema)))
    return out


@pytest.mark.parametrize("path", PATHS)
@pytest.mark.parametrize("shape", sorted(SCHEMAS))
def test_put_read_drop_include_round_trip(spark, originals, shape, path):
    df = _frame(spark, shape)
    out = put_fields(df, {path: F.lit(7)})
    # leaves on, under or above the written path change; the rest stay
    untouched = {
        p: v
        for p, v in originals[shape].items()
        if p != path and not p.startswith(path + ".") and not path.startswith(p + ".")
    }
    assert _read(out, [path, *untouched]) == {path: 7, **untouched}
    gone = drop_field(out, path)
    assert not has_field(gone.schema, path)
    assert _leaves(gone.schema) == _leaves(out.schema) - {path}
    kept = compile_one({"include_fields": {"fields": [path]}})(out)
    assert _leaves(kept.schema, internal=False) == (
        set() if path.startswith("@metadata.") else {path}
    )


def test_include_fields_keeps_listed_leaves_at_any_depth(spark):
    df = _frame(spark, "nested")
    out = compile_one({"include_fields": {"fields": ["a.b.c", "a.e", "nope.x"]}})(df)
    assert _leaves(out.schema) == {"a.b.c", "a.e"}
    assert out.collect()[0].a.asDict(recursive=True) == {"b": {"c": 1}, "e": 3}
    # a path under another listed path adds nothing: the whole stays
    out = compile_one({"include_fields": {"fields": ["a.b.c", "a"]}})(df)
    assert _leaves(out.schema) == _leaves(df.schema) - {"n"}


# --- one case per defect of the copied path rules ---------------------------


def test_write_under_null_parent_creates_it(spark):
    """A nested write under a NULL struct used to stay NULL (withField on
    a NULL struct is NULL): the write was lost."""
    df = _frame(spark, "null_parent")
    out = compile_one({"add_fields": {"target": "a.b", "fields": {"c": 2}}})(df)
    assert out.collect()[0].a.asDict(recursive=True) == {
        "b": {"c": 2, "d": None},
        "e": None,
    }


def test_drop_fields_deletes_metadata_path(spark):
    """`@metadata.x` was reported present but never mapped to `_meta`
    on delete, so drop_fields did nothing."""
    df = _frame(spark, "meta")
    out = compile_one({"drop_fields": {"fields": ["@metadata.x"]}})(df)
    assert not has_field(out.schema, "@metadata.x")
    assert out.collect()[0]._meta.asDict() == {"y": "my"}


def test_include_fields_nested_below_one_level(spark):
    """include_fields split only one level: `a.b.c` raised FIELD_NOT_FOUND."""
    df = _frame(spark, "nested")
    out = compile_one({"include_fields": {"fields": ["a.b.c"]}})(df)
    assert out.collect()[0].a.asDict(recursive=True) == {"b": {"c": 1}}


def test_dotted_struct_column_write_and_delete(spark):
    """`log.file.line` read from the `log.file` column but was written to a
    new `log` struct and its delete was a no-op."""
    df = _frame(spark, "dotted_struct")
    out = put_fields(df, {"log.file.line": F.lit(9)})
    assert out.columns == df.columns
    assert _read(out, ["log.file.line", "log.file.path"]) == {
        "log.file.line": 9,
        "log.file.path": "/var/log/x.log",
    }
    gone = drop_field(out, "log.file.line")
    assert not has_field(gone.schema, "log.file.line")
    assert _read(gone, ["log.file.path"]) == {"log.file.path": "/var/log/x.log"}


@pytest.mark.parametrize(
    "order, expect",
    [
        (("a.b", "a"), {"a": 2}),
        (("a", "a.b"), {"a.b": 1}),
    ],
)
def test_batch_prefix_paths_later_entry_wins(spark, order, expect):
    """As sequential writes: of two batch paths where one is a prefix of
    the other, the later one wins."""
    df = _frame(spark, "flat")
    value = {"a.b": F.lit(1), "a": F.lit(2)}
    out = put_fields(df, {p: value[p] for p in order})
    assert _read(out, list(expect)) == expect
    assert has_field(out.schema, "a.b") == ("a.b" in expect)
