"""Dissect kernel vs the reference golden corpus
(libbeat/processors/dissect/testdata/dissect_tests.json, loaded from the
read-only reference checkout at test time), plus native-regex path
equivalence on Spark."""

import json
import os

import pytest
from pyspark.sql import functions as F

from beats_spark.dissect import Tokenizer, TokenizerError, make_dissect_udf, make_trimmer
from tests.harness import GOLDEN_ABSENT

CORPUS = "/root/reference/libbeat/processors/dissect/testdata/dissect_tests.json"


def load_cases():
    if not os.path.exists(CORPUS):
        return []
    with open(CORPUS) as f:
        return [c for c in json.load(f) if not c.get("skip")]


CASES = load_cases()


def golden_params(cases):
    """One param per corpus case, or one skipped placeholder that
    states why when the corpus is absent."""
    if not os.path.exists(CORPUS):
        reason = f"{GOLDEN_ABSENT}: dissect_tests.json"
        return [pytest.param(None, id="corpus", marks=pytest.mark.skip(reason=reason))]
    return [pytest.param(c, id=c["name"][:60]) for c in cases]


@pytest.mark.parametrize("case", golden_params(CASES))
def test_golden_corpus_python_kernel(case):
    tok = Tokenizer(case["tok"])
    out = tok.dissect(case["msg"])
    if case.get("fail"):
        assert out is None, f"expected failure, got {out}"
    else:
        assert out == case["expected"]


def test_append_ordinal():
    tok = Tokenizer("%{+key/2} %{+key/1}")
    assert tok.dissect("hello world") == {"key": "world hello"}


def test_append_join_uses_previous_delimiter():
    tok = Tokenizer("%{+key}-%{+key}")
    assert tok.dissect("hello-world") == {"key": "hello-world"}


def test_named_skip_and_indirect():
    tok = Tokenizer("%{?key} %{&key}")
    assert tok.dissect("hello world") == {"hello": "world"}


def test_pointer_and_indirect():
    tok = Tokenizer("%{*key} %{&key}")
    assert tok.dissect("hello world") == {"hello": "world"}


def test_greedy_padding():
    tok = Tokenizer("%{a->} %{b}")
    assert tok.dissect("x      y") == {"a": "x", "b": "y"}


def test_fixed_length():
    tok = Tokenizer("%{a#4}%{b}")
    assert tok.dissect("abcdrest") == {"a": "abcd", "b": "rest"}


def test_empty_string_fails():
    tok = Tokenizer("%{a} %{b}")
    assert tok.dissect("") is None


def test_trailing_junk_ignored():
    tok = Tokenizer("%{a} END")
    assert tok.dissect("x ENDzzz") == {"a": "x"}


def test_trim_all():
    tok = Tokenizer("%{a},%{b}", trimmer=make_trimmer("all"))
    assert tok.dissect("  x  ,  y  ") == {"a": "x", "b": "y"}


def test_convert_types():
    tok = Tokenizer("%{n|long} %{f|double} %{b|boolean} %{x|integer}")
    out = tok.dissect_converted("42 1.5 true 0x1F")
    assert out == {"n": 42, "f": 1.5, "b": True, "x": 31}


def test_convert_failure_keeps_raw():
    tok = Tokenizer("%{n|long}")
    assert tok.dissect_converted("notanum") == {"n": "notanum"}


def test_missing_indirect_reference_rejected():
    with pytest.raises(TokenizerError):
        Tokenizer("%{&key}")


# ---- Spark native path ≡ Python kernel -------------------------------------


NATIVE_CASES = [c for c in CASES if Tokenizer(c["tok"]).native_compilable]


@pytest.mark.parametrize("case", golden_params(NATIVE_CASES))
def test_native_regex_matches_kernel(spark, case):
    tok = Tokenizer(case["tok"])
    df = spark.createDataFrame([(case["msg"],)], "msg string")
    matched, values = tok.native_exprs(F.col("msg"), convert=False)
    row = df.select(
        matched.alias("_m"), *[v.alias(f"k{i}") for i, v in enumerate(values.values())]
    ).first()
    expected = tok.dissect(case["msg"])
    if case.get("fail"):
        assert not row["_m"]
    else:
        assert row["_m"], f"native regex failed to match: {tok.regex()}"
        got = {k: row[f"k{i}"] for i, k in enumerate(values.keys())}
        assert got == expected == case["expected"]


def test_fallback_udf_matches_kernel(spark):
    tok = Tokenizer("%{*key} %{&key} %{rest#4}%{tail}")
    assert not tok.native_compilable
    udf = make_dissect_udf(tok)
    df = spark.createDataFrame([("hello world abcdtail",), ("nope",)], "msg string")
    rows = df.select(udf(F.col("msg")).alias("m")).collect()
    assert rows[0]["m"] == tok.dissect("hello world abcdtail")
    assert rows[1]["m"] is None


def test_fixed_length_final_field_native(spark):
    """%{a} %{b#4} — final fixed field compiles natively and requires
    exact remaining length (dissect.go:166-171)."""
    from pyspark.sql import functions as F

    tok = Tokenizer("%{a} %{b#4}")
    assert tok.native_compilable
    df = spark.createDataFrame(
        [("go 1234",), ("go 12345",), ("go 123",)], "payload string"
    )
    matched, vals = tok.native_exprs(F.col("payload"), convert=False)
    rows = df.select(
        F.when(matched, vals["b"]).alias("b"), matched.alias("ok")
    ).collect()
    assert (rows[0].b, rows[0].ok) == ("1234", True)
    assert rows[1].ok is False  # extra char ⇒ no fit
    assert rows[2].ok is False  # too short
    # kernel agrees
    assert tok.dissect("go 1234") == {"a": "go", "b": "1234"}
    assert tok.dissect("go 12345") is None
    assert tok.dissect("go 123") is None


def test_fixed_length_middle_field_kernel_path():
    """Middle fixed field stays on the kernel path (unverified skip)."""
    tok = Tokenizer("%{a#2}-%{b}")
    assert not tok.native_compilable
    assert tok.dissect("xy-rest") == {"a": "xy", "b": "rest"}
    # Go does not verify the delimiter after a fixed field: it skips
    assert tok.dissect("xyZrest") == {"a": "xy", "b": "rest"}


def test_processor_udf_fallback_full_chain(spark):
    """Regression (round-2 ADVICE): the Dissect *processor* on the UDF
    fallback path used to drop __dissect_map__ before add_flag/_set_error
    referenced `matched` through it → UNRESOLVED_COLUMN. Exercise the
    whole processor (flags + error columns) with a non-native tokenizer."""
    from beats_spark.fields import ERROR_COL, FLAGS_COL
    from beats_spark.processors.parse import Dissect

    df = spark.createDataFrame([("ab-rest",), ("x",)], "message string")
    out = Dissect({"tokenizer": "%{a#2}-%{b}", "target_prefix": ""}).apply(df)
    rows = {r["message"]: r for r in out.collect()}
    assert rows["ab-rest"]["a"] == "ab" and rows["ab-rest"]["b"] == "rest"
    assert rows["ab-rest"][ERROR_COL] is None
    assert "dissect_parsing_error" not in (rows["ab-rest"][FLAGS_COL] or [])
    assert rows["x"][ERROR_COL] is not None
    assert "dissect_parsing_error" in rows["x"][FLAGS_COL]


def test_processor_pointer_tokenizer_chain(spark):
    """Pointer/indirect tokenizers (dynamic keys) through the processor:
    static columns absent, __dissect_dynamic__ map retained, flags OK."""
    from beats_spark.processors.parse import Dissect

    df = spark.createDataFrame([("hello world",)], "message string")
    out = Dissect({"tokenizer": "%{*key} %{&key}", "target_prefix": ""}).apply(df)
    row = out.collect()[0]
    assert row["__dissect_dynamic__"] == {"hello": "world"}
