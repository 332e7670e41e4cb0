"""Grok pattern compiler: %{SYNTAX:semantic:type} → one anchored JVM
regex, evaluated ONCE per row for all of its captures.

The BASELINE north-star names "vectorized grok/regex parse" as the
parse analog alongside dissect; the reference ships dissect (Logstash/
ES ingest carry grok), so this is the grok half: a pattern library +
compiler in the spirit of logstash-patterns-core, emitting expressions
that stay in whole-stage codegen. One `regexp_replace` + `split`
(`regex.capture_array`) builds an array of every capture of the first
match; each field is one `get` from it (empty → NULL via `nullif`),
the match predicate is its size, types via try_cast. The Grok
processor materializes the arrays of all its patterns in one
`Generate` (`fields.materialize`) before any field reads them, so the
plan evaluates each pattern once per row: a Filter on a capture stays
above the Generate and reads the column. Rows
that contain the array's separator (U+0000), unanchored patterns and
MULTILINE/COMMENTS-flagged ones take the exact per-capture path (rlike
+ one regexp_extract per field) instead.

Pattern syntax:
    %{SYNTAX}                 match, no capture
    %{SYNTAX:name}            capture as string field `name`
    %{SYNTAX:name:int}        capture + cast (int|long|float|double|bool)
Base patterns may reference other patterns (expanded recursively);
custom patterns merge via the `extra_patterns` argument / processor
config. Every base pattern below is RE2-compatible (no lookaround, no
backreferences) so the same regex runs under Java regex AND RE2-family
engines (DuckDB oracles, Go).
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.regex import capture, capture_array, capture_matched, jvm_safe
from beats_spark.fields import add_flag, field_col, materialize, put_fields
from beats_spark.processors.base import Processor, register
from beats_spark.processors.shape import _set_error

# RE2-safe core of the logstash-patterns-core base set
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "NUMBER": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "POSINT": r"\d+",
    "YEAR": r"\d\d(?:\d\d)?",
    "MONTHNUM": r"0?[1-9]|1[0-2]",
    "MONTHDAY": r"(?:0[1-9])|(?:[12]\d)|(?:3[01])|[1-9]",
    "HOUR": r"2[0123]|[01]?\d",
    "MINUTE": r"[0-5]\d",
    "SECOND": r"(?:[0-5]?\d)(?:[:.,]\d+)?",
    "TIME": r"%{HOUR}:%{MINUTE}:%{SECOND}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE})?)",
    "TIMESTAMP_ISO8601": (
        r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:%{MINUTE}"
        r"(?::%{SECOND})?%{ISO8601_TIMEZONE}?"
    ),
    "IPV4": (
        r"(?:25[0-5]|2[0-4]\d|[01]?\d{1,2})(?:\.(?:25[0-5]|2[0-4]\d|[01]?\d{1,2})){3}"
    ),
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}(?:%\w+)?",
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "USER": r"[a-zA-Z0-9._-]+",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "LOGLEVEL": (
        r"[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|"
        r"[Ii]nfo(?:rmation)?|INFO(?:RMATION)?|[Ww]arn(?:ing)?|WARN(?:ING)?|"
        r"[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|"
        r"[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?"
    ),
    # no-backreference quoted string (logstash QS uses backrefs)
    "QUOTEDSTRING": r"\"[^\"]*\"|'[^']*'",
    "QS": r"\"[^\"]*\"|'[^']*'",
    "HTTPDATE": r"%{MONTHDAY}/\w{3}/%{YEAR}:%{TIME} [+-]\d{4}",
    "MONTH": (
        r"\b(?:[Jj]an(?:uary)?|[Ff]eb(?:ruary)?|[Mm]ar(?:ch)?|[Aa]pr(?:il)?|"
        r"[Mm]ay|[Jj]un(?:e)?|[Jj]ul(?:y)?|[Aa]ug(?:ust)?|[Ss]ep(?:tember)?|"
        r"[Oo]ct(?:ober)?|[Nn]ov(?:ember)?|[Dd]ec(?:ember)?)\b"
    ),
    # classic BSD syslog header time: month, space-padded day, time
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "SYSLOGHOST": r"%{IPORHOST}",
    "PATH": r"(?:/[\w_%!$@:.,~-]+)+",
    "URIPATH": r"(?:/[\w_%!$@:.,~-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    # syslog tag / process name: printable US-ASCII minus '[' and '\'
    "PROG": r"[\x21-\x5a\x5d-\x7e]+",
    # RFC5424 pieces (logstash-patterns-core linux-syslog set): PRI is
    # a composite carrying its own named capture, like the apache ones
    "NONNEGINT": r"\b\d+\b",
    "SYSLOG5424PRINTASCII": r"[!-~]+",
    "SYSLOG5424PRI": r"<%{NONNEGINT:syslog5424_pri}>",
    # mongo patterns (logstash-patterns-core mongodb set)
    "MONGO3_SEVERITY": r"\w",
    "MONGO3_COMPONENT": r"%{WORD}",
    # java patterns (logstash-patterns-core java set, sans backrefs)
    "JAVACLASS": r"(?:[a-zA-Z$_][a-zA-Z$_0-9]*\.)*[a-zA-Z$_][a-zA-Z$_0-9]*",
    "JAVALOGMESSAGE": r".*",
    # composite access-log shapes (logstash-patterns-core httpd set,
    # minus the backreference-dependent QS)
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{USER:ident} %{USER:auth} "
        r"\[%{HTTPDATE:timestamp}\] \"(?:%{WORD:verb} %{NOTSPACE:request}"
        r"(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" "
        r"%{NUMBER:response} (?:%{NUMBER:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": (
        r"%{COMMONAPACHELOG} \"%{DATA:referrer}\" \"%{DATA:agent}\""
    ),
}

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.\[\]@]+))?(?::(\w+))?\}")

# Oniguruma named captures, the second capture syntax ES grok accepts
# alongside %{NAME:field} (used by e.g. the kafka module pipeline's
# (?'kafka.log.trace.full'.*)). Field names may contain dots — illegal
# in Java's (?<name>...) — so the compiler rewrites the opener to a
# plain '(' and tracks the name itself. Names must start with a letter,
# which keeps lookbehind (?<= / (?<! out of the match.
_ONIG_OPEN = r"\(\?(?:<([A-Za-z][\w.\[\]@]*)>|'([A-Za-z][\w.\[\]@]*)')"
_TOKEN = re.compile(_GROK_REF.pattern + "|" + _ONIG_OPEN)

_GROK_TYPES = {
    "int": "int",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "bool": "boolean",
    "boolean": "boolean",
}


class GrokError(ValueError):
    pass


def _neutralize_captures(text: str) -> str:
    """Rewrite bare capturing '(' to '(?:' in pattern text so user
    patterns / pattern_definitions containing their own groups cannot
    shift the compiler's regexp_extract group numbering. Escape- and
    character-class-aware: '\\(' and '[(]' stay literal; '(?...)'
    constructs pass through."""
    out: list[str] = []
    i, n = 0, len(text)
    in_class = False
    while i < n:
        c = text[i]
        if c == "\\" and i + 1 < n:
            out.append(text[i : i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            out.append(c)
            i += 1
            continue
        if c == "[":
            in_class = True
        elif c == "(" and (i + 1 >= n or text[i + 1] != "?"):
            out.append("(?:")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def compile_grok(
    pattern: str, extra_patterns: dict[str, str] | None = None
) -> tuple[str, list[tuple[str, str | None]]]:
    """Expand a grok expression into (regex, captures) where captures
    is an ordered [(field_name, cast_type|None)] matching regex group
    numbers 1..N. Named references expand recursively; only
    %{NAME:field} forms produce groups (plain %{NAME} expands to a
    non-capturing group), so group numbering is wholly ours."""
    library = dict(GROK_PATTERNS)
    if extra_patterns:
        library.update(extra_patterns)
    captures: list[tuple[str, str | None]] = []

    # ES grok is Oniguruma: its MULTILINE option ('m') means
    # dot-matches-newline (Ruby semantics), and ^/$ are ALWAYS
    # line-anchored. Translate a leading (?m)/(?im)… flag group to
    # Java as dot-all + multiline-anchors so e.g. the kafka module's
    # "(?m)…%{JAVALOGMESSAGE:message}…$[ \n]*(?'trace'.*)" captures a
    # multi-line java stacktrace the way the reference pipeline does.
    flags = re.match(r"^\(\?([a-z]+)\)", pattern)
    if flags and "m" in flags.group(1) and "s" not in flags.group(1):
        pattern = f"(?s{flags.group(1)})" + pattern[flags.end():]

    def expand(pat: str, depth: int) -> str:
        if depth > 20:
            raise GrokError("grok: pattern recursion too deep (cycle?)")

        def one(m: re.Match) -> str:
            name, field, typ = m.group(1), m.group(2), m.group(3)
            if name is None:
                # Oniguruma named capture: the body and its ')' stay in
                # the text; emitting a bare '(' here keeps group order
                # correct relative to any nested %{...:field} refs
                captures.append((m.group(4) or m.group(5), None))
                return "("
            body = library.get(name)
            if body is None:
                raise GrokError(f"grok: unknown pattern %{{{name}}}")
            if field:
                if typ is not None and typ not in _GROK_TYPES:
                    raise GrokError(f"grok: unknown type {typ!r} for {field}")
                # append BEFORE expanding: the outer '(' precedes any
                # nested captures inside composite patterns, and group
                # numbers follow '(' order
                captures.append((field, _GROK_TYPES.get(typ or "", None)))
                inner = expand(body, depth + 1)
                return f"({inner})"
            inner = expand(body, depth + 1)
            return f"(?:{inner})"

        # %{...} refs contain no parens, so neutralizing the whole text
        # first only touches literal segments and library/user bodies —
        # the compiler's own capture parens are emitted afterwards.
        # (neutralize passes every '(?...' construct through, so the
        # Oniguruma openers survive to be rewritten here)
        return _TOKEN.sub(one, _neutralize_captures(pat))

    regex = expand(pattern, 0)
    # Java regex recurses once per iteration of an alternation loop:
    # the ES modules' GREEDYMULTILINE idiom "(.|\n)*" StackOverflows
    # the JVM at a few thousand chars of input. Rewrite the
    # single-char-alternation loop to the equivalent dot-all loop,
    # which Java matches iteratively. (The neutralizer has already
    # turned '(' into '(?:' here.)
    for loop in ("(?:.|\n)", "(?:\n|.)"):
        for q in ("*", "+"):
            regex = regex.replace(loop + q, f"(?s:.{q})")
    # Oniguruma (like Go RE2) treats a '{' that opens no valid
    # quantifier as a literal (the logstash slowlog pipeline's ruby-
    # hash pattern "{:plugin_params=>…}" relies on it); Java throws.
    # Escape those after expansion so library quantifiers survive.
    regex = jvm_safe(regex)
    try:
        n_groups = re.compile(regex).groups
    except re.error:
        n_groups = None  # Java-only construct; group audit unavailable
    if n_groups is not None and n_groups != len(captures):
        raise GrokError(
            f"grok: expanded regex has {n_groups} capture groups but the "
            f"compiler emitted {len(captures)} — a pattern injected its own "
            "capturing '(' (use '(?:' for grouping)"
        )
    return regex, captures


def grok_captures(
    src: Column,
    pattern: str,
    extra_patterns: dict[str, str] | None = None,
    anchored: bool = True,
) -> tuple[Column, list[tuple[str, str | None]]]:
    """(capture array, captures) of one grok pattern: the array holds
    every captured field of the first match, built in one regex pass
    (`regex.capture_array`); the captures are compile_grok's ordered
    [(field, cast_type|None)]. Unanchored patterns (ES-ingest search
    semantics) take the exact per-capture path."""
    regex, captures = compile_grok(pattern, extra_patterns)
    if anchored and not regex.startswith("^"):
        regex = "^" + regex
    return capture_array(src, regex, len(captures), single_pass=anchored), captures


def grok_values(
    arr: Column, captures: list[tuple[str, str | None]]
) -> tuple[Column, dict[str, Column]]:
    """(matched_predicate, {field: value Column}) read from a capture
    array — empty captures are NULL (`nullif`), typed via try_cast."""
    values: dict[str, Column] = {}
    for i, (field, typ) in enumerate(captures):
        v = F.nullif(capture(arr, i), F.lit(""))
        values[field] = v if typ is None else v.try_cast(typ)
    return capture_matched(arr, len(captures)), values


def first_match(
    df: DataFrame, parsed: list[tuple[Column, list[tuple[str, str | None]]]]
) -> tuple[DataFrame, list[str], Column, dict[str, Column]]:
    """Materialize the (capture array, captures) patterns of `parsed`
    and merge their `grok_values` first-match-wins: a field takes the
    value of the first pattern that matched the row (NULL if that
    pattern lacks it). Returns (df, the array columns to drop once
    written, matched-by-any predicate, {field: value}).

    ONE capture array per pattern, all built in one Generate from the
    ORIGINAL source before any field reads them: a Filter on a capture
    (drop_event) cannot be pushed below the Generate, so the plan
    evaluates each pattern once per row and every read (nullif,
    first-match-wins) is of a column; and a capture that overwrites the
    source field itself (ES grok's in-place `message` overwrite, e.g.
    kafka/icinga pipelines, or syslog's msg) cannot poison the other
    captures."""
    arrs = {f"__grok_arr_{k}__": arr for k, (arr, _) in enumerate(parsed)}
    df = materialize(df, arrs)
    matched_any: Column | None = None
    fields: dict[str, Column] = {}
    for name, (_, captures) in zip(arrs, parsed):
        matched, values = grok_values(F.col(name), captures)
        # a later pattern only fills fields for rows no earlier pattern
        # matched (the first pattern's captures are already NULL where
        # it did not match)
        take = None if matched_any is None else matched & ~matched_any
        for k, v in values.items():
            prev = fields.get(k)
            if take is not None:
                # no explicit otherwise on first occurrence: an untyped
                # NULL literal would coerce typed captures
                v = F.when(take, v)
                if prev is not None:
                    v = v.otherwise(prev)
            fields[k] = v
        matched_any = matched if matched_any is None else matched_any | matched
    return df, list(arrs), matched_any, fields


def grok_columns(
    src: Column,
    pattern: str,
    extra_patterns: dict[str, str] | None = None,
    anchored: bool = True,
) -> tuple[Column, dict[str, Column]]:
    """(matched_predicate, {field: value Column}) — all JVM-side: one
    regexp_replace + split builds every capture at once; empty
    captures are NULL, casts via try_cast. The expressions share one
    unmaterialized capture array, which every reference copies; a
    processor should materialize it first (`fields.materialize`, see
    Grok.apply)."""
    return grok_values(*grok_captures(src, pattern, extra_patterns, anchored))


@register
class Grok(Processor):
    """Grok parse processor (the Logstash/ES-ingest grok analog named
    by the BASELINE north-star next to dissect; the reference's
    filebeat configs hand grok work to ES ingest pipelines —
    elasticsearch/client.go pipeline selector — so a standalone engine
    needs it in-process).

    cfg: field (default "message"), patterns (list — FIRST matching
    pattern wins, like Logstash's match list), pattern (single),
    pattern_definitions (custom sub-patterns), target_prefix ("" =
    root), ignore_failure, anchored (default True: patterns must match
    from the start — set False for ES-ingest parity, whose Oniguruma
    grok SEARCHES the input, e.g. the kafka module's timestamp pattern
    matching after a leading '['). Failure appends
    `grok_parse_failure` to the flags column and sets the error column
    unless ignore_failure."""

    name = "grok"

    def apply(self, df: DataFrame) -> DataFrame:
        src = field_col(df, self.cfg.get("field", "message"))
        if src is None:
            return _set_error(df, F.lit(True), "grok: missing field")
        pats = self.cfg.get("patterns") or (
            [self.cfg["pattern"]] if self.cfg.get("pattern") else []
        )
        if not pats:
            raise GrokError("grok: no pattern configured")
        extra = self.cfg.get("pattern_definitions")
        tp = self.cfg.get("target_prefix", "")
        prefix = (tp + ".") if tp else ""
        anchored = self.cfg.get("anchored", True)
        parsed = [
            grok_captures(src.cast("string"), p, extra, anchored=anchored)
            for p in pats
        ]
        df, arrs, matched_any, fields = first_match(df, parsed)
        writes: dict[str, Column] = {}
        for k, v in fields.items():
            cur = field_col(df, prefix + k)
            if cur is not None:
                # ES grok only ADDS fields: a failed match (or a
                # matching pattern that lacks this capture) leaves a
                # pre-existing field untouched — never nulls it (the
                # in-place `message` overwrite contract: kafka stage-2
                # keeps the stage-1 message when no [component] head
                # matches and on_failure only sets component)
                v = F.coalesce(v, cur)
            writes[prefix + k] = v
        # one batched projection: per-path withField chains make
        # the optimizer re-inline quadratically (see fields.put_fields)
        df = put_fields(df, writes)
        failed = ~matched_any
        df = add_flag(df, "grok_parse_failure", failed)
        if not self.cfg.get("ignore_failure", False):
            df = _set_error(df, failed, "grok: no pattern matched")
        return df.drop(*arrs)
