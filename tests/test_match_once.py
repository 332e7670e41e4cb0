"""Match once: grok and native dissect build every capture of a row in
ONE regex evaluation (`regex.capture_array`: one regexp_replace + split),
falling back to the exact per-capture path (rlike + one regexp_extract
per group) only for rows that contain the separator.

Differential properties on generated lines: the single-pass array must
agree with the per-capture path (both on the JVM, any text) and with
Python `re` on the compiled regex (ASCII text, where Java's and
Python's classes coincide); native dissect must agree with the Python
port of the Go algorithm (`Tokenizer.dissect`). Plan-shape tests pin
that a processor chain evaluates each pattern once in its whole plan,
in a compiled Generate (`fields.materialize`), and that filters on
input columns still run below it."""

from __future__ import annotations

import re
import string

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from beats_spark.checkpoint import chunk_predicate, with_chunk
from beats_spark.datagen import token_events_sql
from beats_spark.dissect import Tokenizer, make_trimmer
from beats_spark.fields import add_flag, materialize, put_fields
from beats_spark.flagship import flagship_config
from beats_spark.grok import compile_grok, grok_columns, grok_values
from beats_spark.pipeline import Pipeline
from beats_spark.processors import compile_one
from beats_spark.processors.parse import _SYSLOG
from beats_spark.processors.shape import _set_error
from beats_spark.readers.lines import include_message
from beats_spark.regex import SEP, capture_array, single_pass_ok
from tests.test_dissect_properties import tokenizers

EXAMPLES = settings(max_examples=25, deadline=None)

# --- line generators ----------------------------------------------------------

# text the patterns' literals and classes care about, plus the separator
_JUNK = st.text(alphabet=' ab1Z_=";:.-[]/+\t' + SEP, max_size=12)
# the same with text Python `re` may not model like Java: non-ASCII
# (Java's \b is Unicode-aware while \w is ASCII) and \r (Java's `.`
# stops at it)
_JUNK_WIDE = st.text(alphabet=' ab1=";:.-\ré中' + SEP, max_size=12)
_WORD = st.text(alphabet=string.ascii_letters + string.digits + "_", min_size=1, max_size=6)
_INT = st.integers(-(10**20), 10**20).map(str) | st.integers(0, 999).map(lambda n: f"+{n}")
_DATA = st.text(alphabet=' ab=";.-' + SEP, max_size=8)
_NOTSPACE = st.text(alphabet='ab1./:"=-', min_size=1, max_size=8)
_IPV4 = st.tuples(*[st.integers(0, 300)] * 4).map(lambda t: ".".join(map(str, t)))
_IPV6 = st.lists(st.sampled_from(["", "0", "fe80", "AB1"]), min_size=3, max_size=8).map(
    ":".join
)
_TS = st.builds(
    "{:04d}-{:02d}-{:02d}{}{:02d}:{:02d}:{:02d}{}".format,
    st.integers(1990, 2030), st.integers(0, 13), st.integers(0, 32),
    st.sampled_from(["T", " "]), st.integers(0, 24), st.integers(0, 60),
    st.integers(0, 60), st.sampled_from(["Z", "+01:00", "-0800", "", ".123Z"]),
)
_SYNTAX = {
    "WORD": _WORD,
    "INT": _INT,
    "DATA": _DATA,
    "GREEDYDATA": _DATA,
    "NOTSPACE": _NOTSPACE,
    "IP": _IPV4 | _IPV6,
    "TIMESTAMP_ISO8601": _TS,
}
_REF = re.compile(r"%\{(\w+)(?::[\w.]+)?(?::\w+)?\}")


def _pieces(pattern: str) -> list:
    """Literal text and one value strategy per %{SYNTAX…} reference."""
    out: list = []
    pos = 0
    for m in _REF.finditer(pattern):
        out.append(pattern[pos : m.start()].replace("\\", ""))
        out.append(_SYNTAX[m.group(1)] | _JUNK)
        pos = m.end()
    out.append(pattern[pos:].replace("\\", ""))
    return out


@st.composite
def _mutated(draw, pieces: list, junk=_JUNK):
    """A line that mostly fits the pieces, then maybe trailing text, a
    cut, an embedded separator, or unrelated text."""
    line = "".join(p if isinstance(p, str) else draw(p) for p in pieces)
    how = draw(st.sampled_from(["fit", "trail", "cut", "sep", "other"]))
    if how == "trail":
        line += draw(junk)
    elif how == "cut":
        line = line[: draw(st.integers(0, len(line)))]
    elif how == "sep":
        i = draw(st.integers(0, len(line)))
        line = line[:i] + SEP + line[i:]
    elif how == "other":
        line = draw(junk)
    return line


def _batch(pieces: list, junk=_JUNK):
    return st.lists(_mutated(pieces, junk) | st.none(), min_size=1, max_size=30)


_APACHE_PIECES = [
    _IPV4 | st.just("host.example"), " ", st.sampled_from(["-", "bob"]), " ",
    st.sampled_from(["-", "frank"]),
    ' [10/Oct/2000:13:55:36 -0700] "',
    # request with and without the optional HTTP version, or free text
    # that only the %{DATA:rawrequest} alternative takes
    st.sampled_from(
        ["GET /a.gif HTTP/1.0", "GET /a.gif", "POST /x?y=1 HTTP/2", "junk", ""]
    ),
    '" ', _INT, " ", st.sampled_from(["2326", "-", "x"]),
]

KV = (
    "level=%{WORD:level} ts=%{TIMESTAMP_ISO8601:ts} caller=%{NOTSPACE:caller} "
    'msg="%{DATA:msg}" ip=%{IP:ip} seq=%{INT:seq:long}'
)
# 12 captures: the replacement carries $10..$12
WIDE = ",".join(
    f"%{{INT:n{i}:int}}" if i % 4 == 0 else f"%{{WORD:w{i}}}" for i in range(12)
)
# empty and adjacent optional captures
EMPTY = "a=%{DATA:a};b=%{DATA:b};%{GREEDYDATA:rest}"
# a top-level alternation: only the first branch is anchored, and the
# second can match empty again at the end of the row
ALT = "%{INT:n:int}=%{WORD:w}|%{DATA:d}"

GROK_CASES = {
    "kv": (KV, _pieces(KV)),
    "wide": (WIDE, _pieces(WIDE)),
    "empty": (EMPTY, _pieces(EMPTY)),
    "alt": (ALT, _pieces(ALT.split("|")[0])),
    "apache": ("%{COMMONAPACHELOG}", _APACHE_PIECES),
}

# --- grok ----------------------------------------------------------------------


def _anchored(pattern: str) -> tuple[str, list]:
    regex, caps = compile_grok(pattern)
    return ("^" + regex if not regex.startswith("^") else regex), caps


def _py_cast(v: str | None, typ: str | None):
    if v is None or typ is None:
        return v
    bits = {"int": 32, "long": 64}[typ]
    n = int(v)
    return n if -(2 ** (bits - 1)) <= n < 2 ** (bits - 1) else None


def _py_grok(rx: re.Pattern, caps: list, line: str | None) -> tuple:
    """Python `re` model of grok_columns: first match (find), empty or
    non-participating groups NULL, typed via a range-checked int."""
    m = rx.search(line) if line is not None else None
    if m is None:
        return (False, *[None] * len(caps))
    return (True, *[_py_cast(m.group(i + 1) or None, t) for i, (_, t) in enumerate(caps)])


def _grok_rows(spark, pattern: str, lines: list) -> tuple[list, list]:
    """(single-pass rows, per-capture rows) as (matched, *fields)."""
    regex, caps = _anchored(pattern)
    s = F.col("s")
    fast = grok_columns(s, pattern)
    exact = grok_values(
        capture_array(s, regex, len(caps), single_pass=False), caps
    )
    cols = []
    for tag, (matched, values) in (("f", fast), ("x", exact)):
        cols.append(matched.alias(f"{tag}_m"))
        cols += [values[f].alias(f"{tag}_{i}") for i, (f, _) in enumerate(caps)]
    rows = spark.createDataFrame([(v,) for v in lines], "s string").select(*cols).collect()
    k = len(caps) + 1
    return [tuple(r)[:k] for r in rows], [tuple(r)[k:] for r in rows]


def test_grok_cases_take_the_single_pass():
    for pattern, _ in GROK_CASES.values():
        assert single_pass_ok(_anchored(pattern)[0])


@pytest.mark.parametrize("case", sorted(GROK_CASES))
@EXAMPLES
@given(data=st.data())
def test_grok_single_pass_agrees_with_per_capture_and_re(spark, case, data):
    pattern, pieces = GROK_CASES[case]
    lines = data.draw(_batch(pieces))
    fast, exact = _grok_rows(spark, pattern, lines)
    regex, caps = _anchored(pattern)
    rx = re.compile(regex, re.ASCII)
    for line, f, x in zip(lines, fast, exact):
        assert f == x, (line, f, x)
        assert f == _py_grok(rx, caps, line), (line, f)


@pytest.mark.parametrize("case", ["kv", "apache"])
@EXAMPLES
@given(data=st.data())
def test_grok_single_pass_agrees_with_per_capture_on_any_text(spark, case, data):
    pattern, pieces = GROK_CASES[case]
    lines = data.draw(_batch(pieces, _JUNK_WIDE))
    fast, exact = _grok_rows(spark, pattern, lines)
    assert fast == exact


def test_grok_hand_cases(spark):
    """Pinned edges: the separator in a matching row, an empty row, the
    12-capture pattern's $10+ groups, an int overflow, the COMMONAPACHELOG
    optional-group alternation."""
    line12 = ",".join(str(i) if i % 4 == 0 else f"w{i}" for i in range(12))
    lines = [line12, line12 + SEP, "", "99999999999" + line12[1:]]
    fast, exact = _grok_rows(spark, WIDE, lines)
    assert fast == exact
    want = (0, "w1", "w2", "w3", 4, "w5", "w6", "w7", 8, "w9", "w10", "w11")
    assert fast[0] == (True, *want)
    assert fast[1] == fast[0]  # \b\w+\b stops before the separator
    assert fast[2][0] is False
    assert fast[3][0] is True and fast[3][1] is None  # try_cast overflow
    apache = ['1.2.3.4 - - [10/Oct/2000:13:55:36 -0700] "junk" 200 -']
    fast, exact = _grok_rows(spark, "%{COMMONAPACHELOG}", apache)
    assert fast == exact
    caps = [c for c, _ in compile_grok("%{COMMONAPACHELOG}")[1]]
    got = dict(zip(caps, fast[0][1:]))
    assert got["rawrequest"] == "junk" and got["verb"] is None and got["bytes"] is None


_MULTI = [
    "%{LOGLEVEL:level} %{GREEDYDATA:message}",
    "access %{IPV4:client} %{WORD:method}",
    "%{WORD:level}=%{INT:code:int}",
]
_MULTI_LINE = st.one_of(
    st.builds("{} {}".format, st.sampled_from(["ERROR", "warn", "Info", "x"]), _DATA),
    st.builds("access {} {}".format, _IPV4, _WORD | _JUNK),
    st.builds("{}={}".format, _WORD, _INT),
)


def _py_multi(message: str | None) -> tuple[dict, bool]:
    """Python model of the Grok processor over _MULTI on field
    `message`: (fields, failed). The first matching pattern wins; a
    capture that is NULL leaves the pre-existing `message` as it was."""
    out = {"level": None, "client": None, "method": None, "code": None, "message": message}
    for p in _MULTI:
        regex, caps = _anchored(p)
        m = re.compile(regex, re.ASCII).search(message) if message is not None else None
        if m:
            for i, (f, t) in enumerate(caps):
                v = _py_cast(m.group(i + 1) or None, t)
                if f != "message" or v is not None:
                    out[f] = v
            return out, False
    return out, True


@EXAMPLES
@given(lines=st.lists(_mutated([_MULTI_LINE]) | st.none(), min_size=1, max_size=30))
def test_grok_processor_first_match_wins_and_overwrite(spark, lines):
    df = spark.createDataFrame([(v,) for v in lines], "message string")
    out = compile_one({"grok": {"patterns": _MULTI}})(df).collect()
    for line, r in zip(lines, out):
        want, want_failed = _py_multi(line)
        failed = "grok_parse_failure" in (r["_flags"] or [])
        assert ({k: r[k] for k in want}, failed) == (want, want_failed), line
        assert (r["_error"] is not None) == want_failed


# --- dissect -------------------------------------------------------------------


@st.composite
def _dissect_batch(draw):
    """A native-compilable tokenizer and lines built from its
    delimiters, with values that may contain the delimiters themselves
    (the first-occurrence rule decides where a field ends)."""
    tok = Tokenizer(draw(tokenizers()))
    delims = [d for d in tok.delimiters if d]
    value = st.text(alphabet="ab " + "".join(delims), max_size=5)
    pieces = [tok.delimiters[0]]
    for i in range(len(tok.fields)):
        pieces.append(value)
        if i + 1 < len(tok.delimiters):
            pieces.append(tok.delimiters[i + 1])
    junk = _JUNK | st.text(alphabet="ab" + "".join(delims), max_size=10)
    return tok, draw(_batch(pieces, junk))


def _native_rows(spark, tok: Tokenizer, lines: list, single_pass: bool = True) -> list:
    s = F.col("s")
    if single_pass:
        matched, values = tok.native_exprs(s, convert=False)
    else:
        n = len(tok.fields)
        arr = capture_array(s, tok.regex(), n, single_pass=False)
        matched, values = tok.native_values(F.when(F.length(s) > 0, arr), convert=False)
    rows = (
        spark.createDataFrame([(v,) for v in lines], "s string")
        .select(matched.alias("_m"), *[v.alias(k) for k, v in values.items()])
        .collect()
    )
    return [(r["_m"], {k: r[k] for k in values} if r["_m"] else None) for r in rows]


@EXAMPLES
@given(case=_dissect_batch())
def test_native_dissect_agrees_with_kernel(spark, case):
    tok, lines = case
    if not tok.native_compilable:
        return
    fast = _native_rows(spark, tok, lines)
    assert fast == _native_rows(spark, tok, lines, single_pass=False)
    for line, (matched, got) in zip(lines, fast):
        assert got == tok.dissect(line), (tok.raw, line, got)
        assert matched == (got is not None)


@pytest.mark.parametrize(
    "tok, line",
    [
        ("%{a} %{b}", "x  y"),  # first occurrence: a=x, b=" y"
        ("%{a}-%{b}-", "1-2-3-"),  # trailing delimiter, first '-' after b
        ("[%{a}]%{b}", "[]]z"),  # empty first field
        ("%{a}=%{b}", "k=v" + SEP + "=w"),  # separator inside the rest
        ("%{a}" + "".join(f"|%{{k{i}}}" for i in range(10)), "|".join(map(str, range(11)))),
        ("%{a}", ""),  # empty input never matches, though (.*)$ would
    ],
)
def test_native_dissect_first_occurrence_edges(spark, tok, line):
    t = Tokenizer(tok)
    assert t.native_compilable
    [(matched, got)] = _native_rows(spark, t, [line])
    assert got == t.dissect(line)
    assert [(matched, got)] == _native_rows(spark, t, [line], single_pass=False)


_FLAG_TOK = 'level=%{level} ts=%{ts} msg="%{msg}" %{message}'


@EXAMPLES
@given(lines=_batch([
    "level=", _WORD | _JUNK, " ts=", _TS, ' msg="', _DATA, '" ', _DATA,
]))
def test_dissect_processor_trim_and_overwrite(spark, lines):
    """The Dissect processor with trimming and an in-place overwrite of
    its source field, against the kernel on the original line."""
    tok = Tokenizer(_FLAG_TOK, make_trimmer("all"))
    df = spark.createDataFrame([(v,) for v in lines], "message string")
    cfg = {"tokenizer": _FLAG_TOK, "field": "message", "target_prefix": "",
           "trim_values": "all"}
    out = compile_one({"dissect": cfg})(df).collect()
    for line, r in zip(lines, out):
        want = tok.dissect(line)
        failed = "dissect_parsing_error" in (r["_flags"] or [])
        assert failed == (want is None), line
        if want is None:
            assert (r["level"], r["message"]) == (None, None)
        else:
            assert {k: r[k] for k in want} == want, line


# --- syslog --------------------------------------------------------------------

# the per-group parse Syslog replaced: one rlike per pattern and one
# regexp_extract per capture (the differential reference)
_RFC3164 = (
    r"^(?:<(\d{1,3})>)?"  # pri
    r"([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "  # timestamp
    r"([^ :\[]+) "  # hostname
    r"([^ :\[]+?)(?:\[(\d+)\])?: "  # tag[pid]:
    r"(.*)$"  # content
)
_RFC5424 = (
    r"^<(\d{1,3})>(\d) "  # pri, version
    r"(\S+) (\S+) (\S+) (\S+) (\S+) "  # ts host app procid msgid
    r"(-|(?:\[.*?\])+)"  # structured data
    r"(?: (.*))?$"  # msg
)


def _battery_syslog(df, field: str, year: int):
    """The Syslog processor as it was, over the rlike/regexp_extract
    battery: same writes, flag and error."""
    src = F.col(field)
    is5424 = src.rlike(_RFC5424)
    is3164 = ~is5424 & src.rlike(_RFC3164)

    def g3(i):
        return F.when(is3164, F.nullif(F.regexp_extract(src, _RFC3164, i), F.lit("")))

    def g5(i):
        return F.when(is5424, F.nullif(F.regexp_extract(src, _RFC5424, i), F.lit("")))

    pri = F.coalesce(g5(1), g3(1)).try_cast("int")
    sd = is5424 & (g5(8) != "-")
    ts_raw = F.coalesce(g5(3), g3(2))
    bsd = F.try_to_timestamp(
        F.concat(F.lit(str(year)), F.lit(" "), F.regexp_replace(ts_raw, " +", " ")),
        F.lit("yyyy MMM d HH:mm:ss"),
    )
    iso = F.coalesce(*[
        F.try_to_timestamp(ts_raw, F.lit(f))
        for f in ("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX", "yyyy-MM-dd'T'HH:mm:ssXXX",
                  "yyyy-MM-dd'T'HH:mm:ss.SSSXXX", "yyyy-MM-dd'T'HH:mm:ss")
    ])
    writes = {
        "log.syslog.priority": pri,
        "log.syslog.severity.code": pri % 8,
        "log.syslog.facility.code": (pri / 8).cast("int"),
        "log.syslog.hostname": F.coalesce(g5(4), g3(3)),
        "log.syslog.appname": F.coalesce(g5(5), g3(4)),
        "log.syslog.procid": F.coalesce(g5(6), g3(5)),
        "log.syslog.msgid": g5(7),
        "log.syslog.version": g5(2).try_cast("int"),
        "log.syslog.sd_raw": F.when(sd, g5(8)),
        "log.syslog.sd": F.when(sd, F.map_from_arrays(
            F.regexp_extract_all(g5(8), F.lit(r'(\w+)="'), 1),
            F.regexp_extract_all(g5(8), F.lit(r'\w+="([^"]*)"'), 1),
        )),
        "syslog.timestamp_raw": ts_raw,
        "log.syslog.timestamp": F.when(ts_raw.rlike(r"^\d{4}-"), iso).otherwise(
            F.when(ts_raw.isNotNull(), bsd)
        ),
        "message": F.coalesce(F.coalesce(g5(9), g3(6)), F.col("message")),
    }
    df = df.withColumn("__m__", F.coalesce(is5424 | is3164, F.lit(False)))
    df = put_fields(df, writes)
    df = add_flag(df, "syslog_parsing_error", ~F.col("__m__"))
    return _set_error(df, ~F.col("__m__"), "syslog: parse failure").drop("__m__")


_PRI = st.integers(0, 999).map(str)
_TOK = st.text(alphabet="ab1.-_:[", min_size=1, max_size=5)
# SD param values. The SD map throws in both parses when a value holds
# a `]` or completes a `<word>="` (more keys than values); the generator
# avoids them, and a batch that still throws must throw in both
_PARAMS = st.lists(
    st.text(alphabet='ab1 ="\\', max_size=4).filter(lambda v: '="' not in v + '"'),
    min_size=1, max_size=3,
)
# SD elements; a param name repeats across elements (the map keeps the last)
_SD = st.just("-") | st.lists(_PARAMS, min_size=1, max_size=3).map(
    lambda els: "".join(
        f"[e{i}@1" + "".join(f' p{j}="{v}"' for j, v in enumerate(ps)) + "]"
        for i, ps in enumerate(els)
    )
)
_BSD = st.builds(
    "{} {:>2} {:02d}:{:02d}:{:02d}".format, st.sampled_from(["Oct", "Feb", "oct"]),
    st.integers(1, 31), st.integers(0, 24), st.integers(0, 59), st.integers(0, 59),
)
_SYSLOG_LINES = st.one_of(
    _mutated([
        "<", _PRI, ">", st.sampled_from(["1", "2"]), " ", _TS | st.just("-"),
        " ", _TOK, " ", _TOK, " ", _TOK, " ", _TOK, " ", _SD,
        st.just("") | _DATA.map(" ".__add__),  # with and without a msg
    ]),
    _mutated([
        st.just("") | _PRI.map("<{}>".format), _BSD, " ", _TOK, " ", _TOK,
        st.just("") | st.integers(0, 99999).map("[{}]".format), ": ", _DATA,
    ]),
)
_SYSLOG_HAND = [
    None,
    "",
    "<165>1 2003-10-11T22:14:15.003Z host app - ID47 - msg",
    "<165>1 2003-10-11T22:14:15.003Z host app 77 ID47 [a@1 x=\"1\"][b@2 y=\"2\" z=\"\"]",
    "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed",
    "Oct  1 02:03:04 host cron: no pri, no pid",
    "<34>Oct 11 22:14:15 host su[1]: a" + SEP + "b",
    "<165>1 - h a - - -" + SEP,
    "garbage",
]


@pytest.mark.parametrize("field", ["message", "line"])
@EXAMPLES
@given(lines=st.lists(_SYSLOG_LINES | st.none(), max_size=25))
def test_syslog_agrees_with_per_group_battery(spark, field, lines):
    """Every path Syslog writes, `message`, the flag and `_error` equal
    the per-group battery's, row for row; with `field: line` the parse
    reads `line` and a parsed msg replaces the separate `message`."""
    lines = _SYSLOG_HAND + lines
    rows = [(i, v, v if field == "message" else f"orig {i}") for i, v in enumerate(lines)]
    df = spark.createDataFrame(rows, "id int, line string, message string")
    if field == "message":
        df = df.drop("line")
    got = compile_one({"syslog": {"field": field, "default_year": 2024}})(df)
    want = _battery_syslog(df, field, 2024)
    assert got.schema == want.schema
    assert _outcome(got) == _outcome(want)


def _outcome(df):
    try:
        return df.orderBy("id").collect()
    except Exception as e:  # noqa: BLE001 — see _PARAMS
        return type(e).__name__


# --- plan shape ----------------------------------------------------------------


def _children(node) -> list:
    kids = node.children()
    out = [kids.apply(i) for i in range(kids.size())]
    if node.getClass().getSimpleName().endswith("QueryStageExec"):
        out.append(node.plan())
    return out


def _operators(df) -> list:
    """(kind, expressions, compiled, above) of every Filter, Project and
    Generate of the executed plan (the final adaptive plan once the
    frame has run): `compiled` when the operator sits in a whole-stage
    codegen span, `above` the kinds of such operators above it."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    ops, stack = [], [(plan, False, ())]
    while stack:
        node, compiled, above = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "WholeStageCodegenExec":
            compiled = True
        elif kind == "InputAdapter":
            compiled = False
        exprs = None
        if kind == "FilterExec":
            exprs = [node.condition()]
        elif kind == "ProjectExec":
            pl = node.projectList()
            exprs = [pl.apply(i) for i in range(pl.size())]
        elif kind == "GenerateExec":
            exprs = [node.generator()]
        if exprs is not None:
            ops.append((kind[: -len("Exec")], exprs, compiled, above))
            above = (*above, kind[: -len("Exec")])
        stack.extend((c, compiled, above) for c in _children(node))
    return ops


def _holds(exprs: list, kind: str, text: str = "") -> bool:
    """Whether some node of class `kind` whose text holds `text` is in
    the expression trees."""
    stack = list(exprs)
    while stack:
        e = stack.pop()
        if e.getClass().getSimpleName() == kind and text in e.toString():
            return True
        stack += _children(e)
    return False


def _regex_uses(exprs: list, regex: str) -> tuple[int, int]:
    """(single-pass evaluations, unguarded rlike/regexp_extract) of
    `regex` in an operator's expressions. A per-capture node is guarded
    when it sits in the ELSE of a CASE WHEN on the separator's instr."""
    passes = unguarded = 0
    stack = [(e, False) for e in exprs]
    while stack:
        e, guarded = stack.pop()
        kind = e.getClass().getSimpleName()
        kids = _children(e)
        if kind == "RegExpReplace" and f"(?:{regex})" in kids[1].toString():
            passes += 1
        if kind in ("RLike", "RegExpExtract") and kids[1].toString() == regex:
            unguarded += not guarded
        cond = kids[0].toString() if kids else ""
        if kind == "CaseWhen" and len(kids) % 2 and "instr(" in cond and SEP in cond:
            stack += [(k, guarded) for k in kids[:-1]] + [(kids[-1], True)]
        else:
            stack += [(k, guarded) for k in kids]
    return passes, unguarded


@pytest.fixture(scope="module")
def token_events(spark, tmp_path_factory):
    """The token table read from parquet, as the benchmark reads it: the
    generator's own `transform` stays out of the plans under test."""
    spark.range(1, 201).withColumnRenamed("id", "o_orderkey").createOrReplaceTempView(
        "match_once_keys"
    )
    path = str(tmp_path_factory.mktemp("match_once") / "events")
    spark.sql(token_events_sql("spark", "match_once_keys")).write.parquet(path)
    return spark.read.parquet(path)


def _assert_matches_once(df, *regexes: str) -> None:
    """Each regex is evaluated once in the whole executed plan: one
    single-pass rewrite, in a Generate inside a whole-stage codegen
    span, the same Generate for all of them; no Filter or Project holds
    a pass, and every per-capture node sits behind the separator guard."""
    df.collect()
    ops = _operators(df)
    where = set()
    for regex in regexes:
        uses = [(i, kind, compiled, *_regex_uses(exprs, regex))
                for i, (kind, exprs, compiled, _) in enumerate(ops)]
        assert all(u == 0 for *_, u in uses), uses
        passes = {(i, kind, compiled): p for i, kind, compiled, p, _ in uses if p}
        assert list(passes.values()) == [1], uses
        [(i, kind, compiled)] = passes
        assert (kind, compiled) == ("Generate", True), uses
        where.add(i)
    assert len(where) == 1, where


def _grok_chain(*patterns: str) -> dict:
    return {
        "processors": [
            {"grok": {"field": "payload", "patterns": list(patterns), "target_prefix": ""}},
            {"drop_event": {"when": {"equals": {"level": "debug"}}}},
        ]
    }


def test_plan_grok_then_drop_event_matches_once(token_events):
    """One pattern, and a two-pattern chain whose arrays share one Generate."""
    for patterns in ([KV], [KV, ALT]):
        out = Pipeline(_grok_chain(*patterns)).transform(token_events)
        _assert_matches_once(out, *[_anchored(p)[0] for p in patterns])
        # a higher-order function would take its operator out of codegen
        assert not any(_holds(exprs, "ArrayTransform") for _, exprs, _, _ in _operators(out))



def test_plan_syslog_then_drop_event_matches_once(token_events):
    """Both RFC patterns, one Generate, a filter on a parsed field above it."""
    cfg = {
        "processors": [
            {"syslog": {"field": "payload"}},
            {"drop_event": {"when": {"equals": {"log.syslog.appname": "su"}}}},
        ]
    }
    out = Pipeline(cfg).transform(token_events)
    _assert_matches_once(out, *[rx for rx, _ in _SYSLOG])

def test_plan_flagship_dissect_matches_once(token_events):
    cfg = flagship_config()
    tok = Tokenizer(cfg["processors"][0]["dissect"]["tokenizer"])
    _assert_matches_once(Pipeline(cfg).transform(token_events), tok.regex())


_INCLUDE = "^level=(info|warn)"


@pytest.mark.parametrize("order", ["before", "after"])
@pytest.mark.parametrize(
    "kind, text, keep",
    [
        ("RLike", _INCLUDE, lambda df: include_message(df, [_INCLUDE], line_col="payload")),
        ("XxHash64", "", lambda df: df.filter(chunk_predicate(3))),
    ],
    ids=["include_lines", "chunk"],
)
def test_plan_input_filters_run_below_the_parse(token_events, order, kind, text, keep):
    """Filters on input columns sit below the Generate that parses,
    whether applied before or after the chain: include_lines' rlike on
    the payload, and the checkpoint runner's chunk predicate on
    pmod(xxhash64(doc_id)), so a chunk job parses only its own rows."""
    pipe = Pipeline(flagship_config())
    df = with_chunk(token_events, 8)
    out = pipe.transform(keep(df)) if order == "before" else keep(pipe.transform(df))
    out.collect()
    ops = _operators(out)
    assert any(k == "Generate" for k, *_ in ops), ops
    filters = [above for k, exprs, _, above in ops if k == "Filter" and _holds(exprs, kind, text)]
    assert filters and all("Generate" in above for above in filters), filters


_EDGE_LINES = [
    None,
    "",
    'level=info ts=2026-01-02T12:00:00Z caller=a.go:1 msg="hi" ip=10.0.0.1 seq=5',
    'level=info ts=2026-01-02T12:00:00Z caller=a.go:1 msg="h' + SEP + 'i" ip=10.0.0.1 seq=5',
    "no match here",
]


def test_materialize_keeps_one_unchanged_row_per_input_row(spark):
    """The Generate emits exactly one row per input row, with the input
    columns unchanged and the new columns as a projection computes them:
    a NULL payload, "", a payload holding the separator, a non-match."""
    tok = Tokenizer(flagship_config()["processors"][0]["dissect"]["tokenizer"])
    regex, caps = _anchored(KV)
    df = spark.createDataFrame(list(enumerate(_EDGE_LINES)), "id int, payload string")
    s = F.col("payload")
    cols = {"g": capture_array(s, regex, len(caps)), "d": tok.capture_array(s)}
    got = materialize(df, cols)
    want = df.withColumns(cols)
    assert got.columns == want.columns
    rows = got.orderBy("id").collect()
    assert rows == want.orderBy("id").collect()
    assert [(r["id"], r["payload"]) for r in rows] == list(enumerate(_EDGE_LINES))
