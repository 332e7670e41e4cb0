"""Reader-chain tests: multiline sessionization (multiline_test.go
patterns), ndjson, container."""

from __future__ import annotations

from pyspark.sql import functions as F

from beats_spark.readers.multiline import merge_lines
from beats_spark.readers.ndjson import parse_container, parse_ndjson


def _lines(spark, rows):
    return spark.createDataFrame(
        [(f, i, s) for (f, i, s) in rows], "source string, offset long, message string"
    )


JAVA_TRACE = [
    ("f1", 0, "Exception in thread \"main\" java.lang.NullPointerException"),
    ("f1", 1, "        at com.example.myproject.Book.getTitle(Book.java:16)"),
    ("f1", 2, "        at com.example.myproject.Author.getBookTitles(Author.java:25)"),
    ("f1", 3, "normal line"),
    ("f1", 4, "Exception two"),
    ("f1", 5, "        at com.example.x(X.java:1)"),
    ("f2", 0, "solo line"),
]


def test_multiline_pattern_after_negate(spark):
    """Classic java stack trace: pattern '^[[:space:]]+at' lines are
    continuations (negate=false, match=after)."""
    df = _lines(spark, JAVA_TRACE)
    out = merge_lines(
        df, {"type": "pattern", "pattern": r"^\s+at ", "match": "after"}
    )
    msgs = sorted(
        (r.source, r.message) for r in out.collect()
    )
    f1 = [m for s, m in msgs if s == "f1"]
    assert len(f1) == 3
    assert f1[0].startswith("Exception in thread")
    assert f1[0].count("\n") == 2
    assert f1[1] == "Exception two\n        at com.example.x(X.java:1)"
    assert f1[2] == "normal line"
    assert [m for s, m in msgs if s == "f2"] == ["solo line"]


def test_multiline_count(spark):
    rows = [("f", i, f"l{i}") for i in range(7)]
    out = merge_lines(_lines(spark, rows), {"type": "count", "count": 3})
    msgs = sorted(r.message for r in out.collect())
    assert msgs == ["l0\nl1\nl2", "l3\nl4\nl5", "l6"]


def test_multiline_while_pattern(spark):
    rows = [
        ("f", 0, "{x"),
        ("f", 1, "{y"),
        ("f", 2, "plain"),
        ("f", 3, "{z"),
    ]
    out = merge_lines(
        _lines(spark, rows), {"type": "while_pattern", "pattern": r"^\{"}
    )
    msgs = sorted(r.message for r in out.collect())
    assert msgs == ["plain", "{x\n{y", "{z"]


def test_multiline_max_lines(spark):
    rows = [("f", 0, "start")] + [("f", i, f"  at {i}") for i in range(1, 6)]
    out = merge_lines(
        _lines(spark, rows),
        {"type": "pattern", "pattern": r"^\s+at", "match": "after", "max_lines": 3},
    )
    assert out.count() == 2  # 6 lines split into 3+3


def test_ndjson(spark):
    df = spark.createDataFrame(
        [('{"level": "err", "n": 3}',), ("not json",)], "message string"
    )
    out = parse_ndjson(df, "struct<level:string, n:int>", cfg={"keep_original": True})
    rows = out.orderBy(F.col("level").asc_nulls_last()).collect()
    assert (rows[0].level, rows[0].n) == ("err", 3)
    assert rows[1].level is None and rows[1]._error is not None


def test_container_docker_and_cri(spark):
    df = spark.createDataFrame(
        [
            ('{"log":"docker line\\n","stream":"stdout","time":"2024-01-01T00:00:00Z"}',),
            ("2024-01-01T00:00:01Z stderr F cri line",),
        ],
        "message string",
    )
    out = parse_container(df).orderBy("message").collect()
    assert (out[1].message, out[1].stream) == ("docker line", "stdout")
    assert (out[0].message, out[0].stream) == ("cri line", "stderr")
    assert out[0]["@timestamp"] is not None


def test_container_stream_filter(spark):
    df = spark.createDataFrame(
        [
            ('{"log":"a\\n","stream":"stdout","time":"2024-01-01T00:00:00Z"}',),
            ('{"log":"b\\n","stream":"stderr","time":"2024-01-01T00:00:00Z"}',),
        ],
        "message string",
    )
    assert parse_container(df, stream="stderr").count() == 1



def test_container_neither_format_and_cri_stream_filter(spark):
    """A line that is neither Docker nor CRI keeps an empty message and
    no stream (a NULL line stays NULL); the CRI path feeds the stream
    filter."""
    df = spark.createDataFrame(
        [
            ("not a container line",),
            ('{"other":"json"}',),
            (None,),
            ("2024-01-01T00:00:01Z stderr F cri err",),
            ("2024-01-01T00:00:02Z stdout P cri out",),
        ],
        "message string",
    )
    rows = parse_container(df).collect()
    assert [(r.message, r.stream) for r in rows[:3]] == [("", None), ("", None), (None, None)]
    assert all(r["@timestamp"] is None for r in rows[:3])
    [err] = parse_container(df, stream="stderr").collect()
    assert (err.message, err.stream) == ("cri err", "stderr")
    assert err["@timestamp"] is not None

def test_multiline_flush_pattern(spark):
    rows = [
        ("f", 0, "start A"),
        ("f", 1, "  at one"),
        ("f", 2, "  at END"),
        ("f", 3, "  at two"),
        ("f", 4, "  at three"),
    ]
    out = merge_lines(
        _lines(spark, rows),
        {
            "type": "pattern",
            "pattern": r"^\s+at",
            "match": "after",
            "flush_pattern": r"END$",
        },
    )
    msgs = sorted(r.message for r in out.collect())
    assert msgs == ["  at two\n  at three", "start A\n  at one\n  at END"]


import pytest as _pytest


@_pytest.mark.parametrize(
    "enc,data,expected",
    [
        ("latin1", "café\nnaïve\n".encode("latin-1"), ["café", "naïve"]),
        ("iso8859-1", "café\nnaïve\n".encode("latin-1"), ["café", "naïve"]),
        ("iso8859-7", "αβγ\nδεζ\n".encode("iso8859-7"), ["αβγ", "δεζ"]),
        ("windows1252", "smart “quote”\n".encode("cp1252"), ["smart “quote”"]),
        ("cp850", "Grüße\n".encode("cp850"), ["Grüße"]),
        ("koi8r", "привет\nмир\n".encode("koi8_r"), ["привет", "мир"]),
        ("utf-16le", "one\ntwo\n".encode("utf-16-le"), ["one", "two"]),
        ("utf-16", "one\ntwo\n".encode("utf-16"), ["one", "two"]),  # BOM
        ("gbk", "你好\n世界\n".encode("gbk"), ["你好", "世界"]),
        # CRLF under auto on the decoded path
        ("latin1", b"a\r\nb\r\n", ["a", "b"]),
    ],
)
def test_encoding_battery(spark, tmp_path, enc, data, expected):
    """Reference charset list (readfile/encoding/encoding.go) through
    the binary→decode→split path; names use the reference's spellings."""
    from beats_spark.readers.lines import read_lines

    f = tmp_path / "log.bin"
    f.write_bytes(data)
    out = read_lines(spark, str(f), encoding=enc).orderBy("offset").collect()
    assert [r.message for r in out] == expected
    assert [r.offset for r in out] == list(range(1, len(expected) + 1))


@_pytest.mark.parametrize(
    "term,sep",
    [
        ("null_terminator", "\x00"),
        ("carriage_return", "\r"),
        ("vertical_tab", "\x0b"),
        ("form_feed", "\x0c"),
        ("carriage_return_line_feed", "\r\n"),
        ("next_line", "\x85"),
    ],
)
def test_line_terminators(spark, tmp_path, term, sep):
    """Custom terminators (readfile/line_terminator.go): the decoded
    path splits on the configured byte sequence."""
    from beats_spark.readers.lines import read_lines

    f = tmp_path / "log.bin"
    f.write_bytes(f"first{sep}second{sep}third".encode("latin-1"))
    out = (
        read_lines(spark, str(f), encoding="latin1", line_terminator=term)
        .orderBy("offset")
        .collect()
    )
    assert [r.message for r in out] == ["first", "second", "third"]


def test_unterminated_final_line_emitted(spark, tmp_path):
    from beats_spark.readers.lines import read_lines

    f = tmp_path / "log.bin"
    f.write_bytes("a\nb".encode("latin-1"))  # no trailing terminator
    out = read_lines(spark, str(f), encoding="latin1").orderBy("offset").collect()
    assert [r.message for r in out] == ["a", "b"]


def test_read_lines_multiple_paths(spark, tmp_path):
    from beats_spark.readers.lines import read_lines

    a, b = tmp_path / "a.log", tmp_path / "b.log"
    a.write_text("a1\na2\n")
    b.write_text("b1\n")
    out = read_lines(spark, [str(a), str(b)])
    got = sorted((r.source.rsplit("/", 1)[-1], r.offset, r.message) for r in out.collect())
    assert got == [("a.log", 1, "a1"), ("a.log", 2, "a2"), ("b.log", 1, "b1")]
    # decoded path too
    c = tmp_path / "c.bin"
    c.write_bytes("é1\n".encode("latin-1"))
    out2 = read_lines(spark, [str(c)], encoding="latin1")
    assert [r.message for r in out2.collect()] == ["é1"]


def test_fast_path_offsets_survive_multi_split_files(spark, tmp_path):
    """Verdict-r02 item 6: line ordinals must be correct when a file
    spans multiple input splits (partition index order is NOT
    contracted to follow split order) — offsets now order by
    _metadata.file_block_start before the monotonic id."""
    from beats_spark.readers.lines import read_lines

    f = tmp_path / "big.log"
    n = 5000
    f.write_text("".join(f"line-{i:06d} {'x' * 40}\n" for i in range(1, n + 1)))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        df = read_lines(spark, str(f))
        # prove the setup forced multiple splits of the one file
        n_parts = df.select("message").rdd.getNumPartitions()
        assert n_parts > 1, "test did not exercise the multi-split path"
        rows = df.select("offset", "message").collect()
        assert len(rows) == n
        for r in rows:
            assert r.message.startswith(f"line-{r.offset:06d} "), (
                r.offset,
                r.message[:20],
            )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)


def test_file_rotation_identity_continuation(spark, tmp_path):
    """VERDICT r03 item 8 — the registrar rotation-continuation
    semantics (filebeat/tests/system/test_registrar.py:632+,
    filestream fingerprint identity identifier.go:21-64): identity is
    a hash of the file HEAD, not the path, so

    - rename + append (logrotate) carries the watermark over: only the
      appended lines are emitted on the next run;
    - a fresh file at the old path is a NEW identity, read from 0;
    - no line is ever re-emitted across the rotation;
    - a file smaller than the fingerprint window is gated out until it
      grows (the filestream scanner gate)."""
    import os

    from beats_spark.readers.registry import LineRegistry, file_identity

    pad = "x" * 40  # make every line bigger than the fingerprint window
    f = tmp_path / "app.log"
    f.write_text("".join(f"old-{i} {pad}\n" for i in range(10)))
    reg = LineRegistry(str(tmp_path / "registry.json"), fingerprint_bytes=32)

    glob_pat = [str(tmp_path / "app.log"), str(tmp_path / "app.log.*")]
    out1, ids1 = reg.resume_read(spark, glob_pat)
    rows1 = sorted((r.identity, r.offset, r.message) for r in out1.collect())
    assert len(rows1) == 10
    reg.commit(out1, ids1)

    # nothing new => zero rows on an idempotent re-run
    out2, ids2 = reg.resume_read(spark, glob_pat)
    assert out2.count() == 0

    # rotate: rename, then the (still-open) writer appends to the
    # renamed file; a NEW file appears at the old path
    rotated = tmp_path / "app.log.1"
    os.rename(f, rotated)
    with open(rotated, "a") as fh:
        fh.write("".join(f"appended-{i} {pad}\n" for i in range(5)))
    f.write_text("".join(f"new-{i} {pad}\n" for i in range(3)))

    # identity follows the content: the renamed file IS the old stream
    assert file_identity(str(rotated), 32) == list(ids1.values())[0]
    assert file_identity(str(f), 32) != list(ids1.values())[0]

    out3, ids3 = reg.resume_read(spark, glob_pat)
    got = sorted((r.message.split()[0], r.offset) for r in out3.collect())
    # exactly the 5 appended (offsets continue at 11..15 under the
    # rotated path) + the 3 lines of the fresh file — nothing re-read
    assert got == (
        [(f"appended-{i}", 11 + i) for i in range(5)]
        + [(f"new-{i}", 1 + i) for i in range(3)]
    ), got
    reg.commit(out3, ids3)

    # crash-replay of the registry file: a NEW registry instance on the
    # same state path sees everything as already emitted
    reg2 = LineRegistry(str(tmp_path / "registry.json"), fingerprint_bytes=32)
    out4, _ = reg2.resume_read(spark, glob_pat)
    assert out4.count() == 0

    # scanner gate: a file below the fingerprint window is invisible…
    tiny = tmp_path / "app.log.9"
    tiny.write_text("tiny\n")
    out5, ids5 = reg2.resume_read(spark, glob_pat)
    assert str(tiny) not in ids5 and out5.count() == 0
    # …until it grows past it
    tiny.write_text(f"grown-0 {pad}\n")
    out6, ids6 = reg2.resume_read(spark, glob_pat)
    assert str(tiny) in ids6
    assert [r.message.split()[0] for r in out6.collect()] == ["grown-0"]
