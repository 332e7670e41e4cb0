r"""Go-RE2 → Java regex compatibility shim for user-config patterns.

Beats compiles user-supplied patterns (multiline.pattern,
include/exclude_lines, the regexp condition) with Go's regexp package
(libbeat/common/match/matcher.go), i.e. RE2 syntax. RE2 treats a `{`
that does not open a valid repetition quantifier as a LITERAL brace —
the logstash module's multiline pattern `^((\[...\])|({.+}))`
(module/logstash/log/config/log.yml:9) relies on that. Java's
java.util.regex (what Spark's `rlike` compiles) instead throws
"Illegal repetition".

`jvm_safe` escapes exactly those non-quantifier `{` so the pattern
compiles on the JVM with identical semantics. Escape- and
character-class-aware; `{n}`, `{n,}`, `{n,m}` quantifiers pass
through untouched. A dangling `}` is already legal-and-literal in
Java, so only `{` needs care.

`capture_array` is the match-once primitive every regex parse shares
(grok, native dissect, syslog and the CRI container line): every
capture group of a regex's first match, built with one regex
evaluation per row instead of one `regexp_extract` per group.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_QUANT = re.compile(r"\{\d+(,\d*)?\}")


def jvm_safe(pattern: str) -> str:
    """Escape bare (non-quantifier) `{` so Go-RE2 patterns compile
    under java.util.regex with unchanged meaning."""
    out: list[str] = []
    i, n = 0, len(pattern)
    in_class = False
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            out.append(pattern[i : i + 2])
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
        elif c == "{" and not _QUANT.match(pattern, i):
            out.append("\\{")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


# -- match once ---------------------------------------------------------------

# Separator between the captures of one match; rows that contain it
# take the exact per-capture path, so a split on it is never ambiguous.
SEP = "\u0000"

# inline flags that would change what the appended `(?s:.*)` means:
# MULTILINE (`^` after every line break) and COMMENTS (`#` to end of line)
_UNSAFE_FLAGS = re.compile(r"\(\?[a-zA-Z]*[mx][a-zA-Z-]*[:)]")


def single_pass_ok(regex: str) -> bool:
    """Whether `(?:regex)(?s:.*)` keeps the meaning of `regex` followed
    by a match-anything tail: no MULTILINE or COMMENTS inline flag and
    no `\\Q` quote left open at the end."""
    return not _UNSAFE_FLAGS.search(regex) and regex.rfind("\\Q") <= regex.rfind("\\E")


def capture_array(src: Column, regex: str, n: int, *, single_pass: bool = True) -> Column:
    """The `n` capture groups of `regex`'s first match in `src`, built
    in ONE regex evaluation: array [prefix, g1, …, gn] on a match, a
    shorter array (or NULL) otherwise — test with `capture_matched`,
    read with `capture`. Non-participating and empty groups are ""
    (what `regexp_extract` returns); a reader that wants NULL wraps its
    `capture` in `nullif` (no `transform` here: a higher-order function
    takes its whole operator out of whole-stage codegen).

    `regexp_replace(src, (?:regex)(?s:.*), SEP$1SEP$2…SEP$n)` rewrites
    the first match and, through the match-anything tail, the rest of
    the row, so the result is the text before the match followed by the
    separated groups; a `split` on SEP yields the array. The tail always
    matches, so Java assigns the groups exactly as `rlike` /
    `regexp_extract` do. Rows containing SEP, patterns without captures
    and patterns `single_pass_ok` rejects (or `single_pass=False`) take
    the per-capture `rlike` + `regexp_extract` path instead; it sits
    behind the SEP guard, so the common path never evaluates it.

    Materialize the result with `fields.materialize` before reading it
    more than once: a pushed-down Filter or a collapsed projection
    copies every reference to an unmaterialized one."""
    groups = [F.regexp_extract(src, regex, i) for i in range(1, n + 1)]
    exact = F.when(src.rlike(regex), F.array(F.lit(""), *groups))
    if n == 0 or not single_pass or not single_pass_ok(regex):
        return exact
    rep = "".join(f"{SEP}${i}" for i in range(1, n + 1))
    arr = F.split(F.regexp_replace(src, f"(?:{regex})(?s:.*)", rep), SEP)
    return F.when(F.instr(src, SEP) == 0, arr).otherwise(exact)


def capture_matched(arr: Column, n: int) -> Column:
    """Non-null match predicate of a `capture_array` with n groups. An
    unmatched row leaves one element (or NULL); a regex that can also
    match empty at the end of the row may append a second, empty group
    set after the first, hence `>` rather than `==`."""
    return F.coalesce(F.size(arr) > n, F.lit(False))


def capture(arr: Column, i: int) -> Column:
    """Group i+1 of a `capture_array`: NULL when the row did not match."""
    return F.get(arr, i + 1)
