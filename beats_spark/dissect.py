"""Dissect tokenizer: the `%{key}` delimiter-based parser.

Reimplements the reference semantics (libbeat/processors/dissect/):
  - tokenizer grammar: const.go:25-52 (delimiterRE/suffixRE), field
    kinds field.go:127-216 (normal, skip `%{}`, named-skip `%{?k}`,
    pointer `%{*k}`, indirect `%{&k}`, append `%{+k}`/`%{+k/ord}`),
    modifiers: greedy `->`, fixed length `#n`, type `|long` etc.
  - extraction algorithm dissect.go:103-180: first delimiter anchored
    at 0, per-field scan to next delimiter, greedy repeat-consumption,
    last-field rest capture, trailing content ignored.
  - resolution dissect.go:183-223: fields applied in ordinal-sorted
    order; append joins with the field's *preceding* delimiter (or a
    single space); indirect writes through the pointer/named-skip
    value; reference (unsaveable) keys deleted from the result.
  - type conversion dissect.go:243-290: TrimRight(' ') then parse;
    0x hex ints accepted; parse failure keeps the raw string (here:
    NULL in the typed column — static-schema divergence, documented).
  - trim trim.go (trim_values left/right/all + trim_chars), applied to
    the untyped path only (Dissect, not DissectConvert).

Two execution strategies, chosen at compile time:

1. **Native**: the tokenizer compiles to ONE anchored Java regex with a
   capture group per field, evaluated once per row for all fields —
   fully JVM-side / whole-stage-codegen. `regex.capture_array` rewrites
   the row with one `regexp_replace` into the separated captures and
   one `split` turns them into an array; each field is one `get` from
   it and the match predicate is its size. The Dissect processor
   materializes the array in a Generate (`fields.materialize`) first,
   so a Filter on a key (drop_event) stays above it and the plan
   evaluates the pattern once per row.
   Rows containing the separator (U+0000) take the exact rlike +
   regexp_extract path behind a guard. Eligible when there are no
   fixed-length, pointer or indirect fields and greedy padding only
   precedes single-char delimiters. The first-occurrence scan of the Go
   algorithm is equivalent to lazy `(.*?)` captures here (proof sketch:
   if any delimiter-occurrence chain exists, the first-occurrence chain
   exists, so neither engine needs backtracking to decide success).
2. **Vectorized fallback**: an Arrow-batched pandas UDF running the
   exact Python kernel below, producing map<string,string> (covers
   dynamic keys from indirect fields, fixed-length, exotic greedy).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from beats_spark.regex import capture, capture_array, capture_matched

# --- tokenizer grammar (const.go:25-52) ------------------------------------

_DELIMITER_RE = re.compile(r"(?s)(.*?)%\{([^}]*?)\}")
_SUFFIX_RE = re.compile(
    r"(.+?)"  # key (incl. prefix sigil)
    r"(?:/(\d{1,2}))?"  # ordinal
    r"(?:#(\d{1,2}))?"  # fixed length
    r"(->)?"  # greedy
    r"(?:\|([A-Za-z]*))?$"  # data type
)
_DATA_TYPES = {"integer", "long", "float", "double", "string", "boolean", "ip"}
_DEFAULT_JOIN = " "

# strconv.ParseBool's exact accepted set (Go stdlib)
_GO_TRUE = {"1", "t", "T", "TRUE", "true", "True"}
_GO_FALSE = {"0", "f", "F", "FALSE", "false", "False"}


class TokenizerError(ValueError):
    pass


@dataclass
class DissectField:
    id: int  # original position in the tokenizer
    kind: str  # normal|skip|named_skip|pointer|indirect|append
    key: str
    ordinal: int = 0
    length: int = 0  # >0 ⇒ fixed length
    greedy: bool = False
    data_type: str = ""

    @property
    def saveable(self) -> bool:
        return self.kind not in ("skip", "named_skip", "pointer")

    @property
    def fixed(self) -> bool:
        return self.length > 0


def _parse_key(raw: str, fid: int) -> DissectField:
    if raw == "":
        return DissectField(fid, "skip", "")
    m = _SUFFIX_RE.match(raw)
    if not m:
        raise TokenizerError(f"invalid field name: %{{{raw}}}")
    key, ordinal, length, greedy, dtype = m.groups()
    if raw.endswith("|"):
        raise TokenizerError("missing data type")
    if dtype and dtype not in _DATA_TYPES:
        raise TokenizerError(f"invalid data type: {dtype}")
    if key.startswith("+&") or key.startswith("&+"):
        raise TokenizerError("mixed prefix `&+`/`+&`")
    ordinal_i = int(ordinal) if ordinal else 0
    length_i = int(length) if length else 0
    greedy_b = bool(greedy)
    if key.startswith("?"):
        return DissectField(fid, "named_skip", key[1:], length=length_i)
    if key.startswith("*"):
        return DissectField(fid, "pointer", key[1:], length=length_i)
    if key.startswith("+"):
        return DissectField(fid, "append", key[1:], ordinal=ordinal_i,
                            length=length_i, greedy=greedy_b)
    if key.startswith("&"):
        return DissectField(fid, "indirect", key[1:], length=length_i,
                            data_type=dtype or "")
    return DissectField(fid, "normal", key, ordinal=ordinal_i, length=length_i,
                        greedy=greedy_b, data_type=dtype or "")


def _go_parse_int(v: str, bits: int) -> int | None:
    v = v.strip()  # ParseInt rejects spaces, but value was TrimRight'd already
    neg = False
    s = v
    if s[:1] in "+-":
        neg = s[0] == "-"
        s = s[1:]
    try:
        if s[:2] in ("0x", "0X"):
            n = int(s, 16)
        else:
            n = int(v, 10)
            neg = False  # sign already applied
    except ValueError:
        return None
    if neg:
        n = -n
    lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
    return n if lo <= n <= hi else None


def _convert(dtype: str, value: str) -> Any:
    """transformType analog (dissect.go:246-275); None = keep raw."""
    v = value.rstrip(" ")
    if dtype == "string":
        return v
    if dtype in ("long", "integer"):
        n = _go_parse_int(v, 64 if dtype == "long" else 32)
        return n if n is not None else value
    if dtype in ("float", "double"):
        try:
            f = float(v)
        except ValueError:
            return value
        if dtype == "float":
            import struct

            f = struct.unpack("f", struct.pack("f", f))[0]
        return f
    if dtype == "boolean":
        if v in _GO_TRUE:
            return True
        if v in _GO_FALSE:
            return False
        return value
    if dtype == "ip":
        import ipaddress

        try:
            ipaddress.ip_address(v)
            return v
        except ValueError:
            return value
    return value


def _java_quote(s: str) -> str:
    """Pattern.quote analog: literal-quote arbitrary text for Java regex."""
    if not s:
        return ""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


@dataclass
class Trimmer:
    chars: str = " "
    left: bool = False
    right: bool = False

    def trim(self, s: str, start: int, end: int) -> tuple[int, int]:
        cs = set(self.chars)
        if self.left:
            while start < end and s[start] in cs:
                start += 1
        if self.right:
            while start < end and s[end - 1] in cs:
                end -= 1
        return start, end


def make_trimmer(mode: str, chars: str = " ") -> Trimmer | None:
    mode = (mode or "none").lower()
    if mode in ("", "none"):
        return None
    if mode == "left":
        return Trimmer(chars, left=True)
    if mode == "right":
        return Trimmer(chars, right=True)
    if mode in ("all", "both"):
        return Trimmer(chars, left=True, right=True)
    raise TokenizerError(f"unsupported trim_values {mode}")


class Tokenizer:
    """Compiled dissect tokenizer (Dissector analog, dissect.go:42-48)."""

    def __init__(self, pattern: str, trimmer: Trimmer | None = None):
        self.raw = pattern
        self.trimmer = trimmer
        matches = list(_DELIMITER_RE.finditer(pattern))
        if not matches:
            raise TokenizerError("invalid dissect tokenizer")
        self.delimiters: list[str] = []
        self.fields: list[DissectField] = []
        pos = 0
        for fid, m in enumerate(matches):
            self.delimiters.append(m.group(1))
            self.fields.append(_parse_key(m.group(2), fid))
            pos = m.end()
        if pos < len(pattern):
            self.delimiters.append(pattern[pos:])
        # stable ordinal sort (parser.go:99-104)
        self.sorted_fields = sorted(self.fields, key=lambda f: f.ordinal)
        # indirect validation (validate.go): every &k needs a ?k or *k ref
        refs = {f.key for f in self.fields if not f.saveable}
        for f in self.fields:
            if f.kind == "indirect" and f.key not in refs:
                raise TokenizerError(f"missing reference for key '{f.key}'")

    # -- exact Go extraction (dissect.go:103-180) ---------------------------

    def _extract(self, s: str) -> list[tuple[int, int]] | None:
        delims, fields = self.delimiters, self.fields
        d0 = delims[0]
        if d0 and not s.startswith(d0):
            return None
        offset = len(d0)
        positions = [(0, 0)] * len(fields)
        i = 0
        k = 0
        while k + 1 < len(delims):
            nxt = delims[k + 1]
            start = offset
            fld = fields[i]
            if fld.fixed:
                end = offset + fld.length
                if end > len(s):
                    return None
            else:
                end = offset if nxt == "" else s.find(nxt, offset)
                if end == -1:
                    return None
            offset = end
            if fld.greedy and fld.kind in ("normal", "append"):
                # consume repeated next-delimiters (dissect.go:149-160)
                while True:
                    look = offset + 1 if nxt == "" else s.find(nxt, offset + 1)
                    if look != offset + 1:
                        break
                    offset = look
                    if nxt == "":  # zero-byte can't loop forever
                        break
            positions[i] = (start, end)
            offset += len(nxt)
            i += 1
            k += 1
        if i < len(fields):
            fld = fields[i]
            if fld.fixed and offset + fld.length != len(s):
                return None
            if offset < len(s):
                positions[i] = (offset, len(s))
        else:
            # trailing-delimiter quirk: Go indexes fieldsIdMap[i] → miss → 0
            fld = self.sorted_fields[0]
            if fld.fixed and offset + fld.length != len(s):
                return None
        return positions

    def _join_for(self, f: DissectField) -> str:
        prev = self.delimiters[f.id]
        return prev if prev else _DEFAULT_JOIN

    def dissect(self, s: str | None) -> dict[str, str] | None:
        """Map of raw string values; None on parse failure (incl. '')."""
        if not s:
            return None
        positions = self._extract(s)
        if positions is None:
            return None
        if self.trimmer is not None:
            positions = [self.trimmer.trim(s, a, b) for a, b in positions]
        m: dict[str, str] = {}
        for f in self.sorted_fields:
            a, b = positions[f.id]
            v = s[a:b]
            if f.kind == "indirect":
                if f.key in m:
                    m[m[f.key]] = v
            elif f.kind == "append":
                m[f.key] = m[f.key] + self._join_for(f) + v if f.key in m else v
            elif f.kind == "skip":
                pass
            else:
                m[f.key] = v
        for f in self.sorted_fields:
            if not f.saveable:
                m.pop(f.key, None)
        return m

    def dissect_converted(self, s: str | None) -> dict[str, Any] | None:
        """DissectConvert analog (no trim; typed values, dissect.go:197-223)."""
        if not s:
            return None
        positions = self._extract(s)
        if positions is None:
            return None
        lookup: dict[str, str] = {}
        m: dict[str, str] = {}
        mc: dict[str, Any] = {}
        for f in self.sorted_fields:
            a, b = positions[f.id]
            v = s[a:b]
            # same Apply pass as the untyped path
            if f.kind == "indirect":
                if f.key in m:
                    m[m[f.key]] = v
            elif f.kind == "append":
                m[f.key] = m[f.key] + self._join_for(f) + v if f.key in m else v
            elif f.kind != "skip":
                m[f.key] = v
            if not f.saveable:
                lookup[f.key] = v
            else:
                key = lookup.get(f.key, f.key) if f.kind == "indirect" else f.key
                val = m.get(key, "")
                mc[key] = _convert(f.data_type, val) if f.data_type else val
        for f in self.sorted_fields:
            if not f.saveable:
                mc.pop(f.key, None)
        return mc

    # -- static shape -------------------------------------------------------

    @property
    def has_dynamic_keys(self) -> bool:
        return any(f.kind == "indirect" for f in self.fields)

    @property
    def static_keys(self) -> list[str]:
        """Output keys known at compile time, in first-appearance order."""
        seen: list[str] = []
        for f in self.sorted_fields:
            if f.saveable and f.kind != "indirect" and f.key not in seen:
                seen.append(f.key)
        return seen

    def key_type(self, key: str) -> str:
        for f in self.fields:
            if f.saveable and f.key == key and f.data_type:
                return f.data_type
        return ""

    @property
    def native_compilable(self) -> bool:
        if self.has_dynamic_keys or any(f.kind == "pointer" for f in self.fields):
            return False
        n = len(self.fields)
        for i, f in enumerate(self.fields):
            if f.fixed:
                # only the FINAL fixed field maps exactly to a regex
                # ((.{n})$ — dissect.go:166-171's length==remaining
                # check); a middle fixed field's delimiter skip is
                # unverified in Go and tolerates string-end overrun,
                # which a literal pattern can't express — kernel path
                last = i == n - 1 and i + 1 >= len(self.delimiters)
                if not last or f.greedy:
                    return False
            if f.greedy and f.kind in ("normal", "append"):
                nxt = self.delimiters[i + 1] if i + 1 < len(self.delimiters) else ""
                if len(nxt) != 1:
                    return False
        return True

    # -- native regex compilation -------------------------------------------

    def regex(self) -> str:
        """One anchored Java regex; capture group i+1 = field i.

        Fixed-length fields (`%{k#n}`) compile to `(.{n})` — the Go
        algorithm takes exactly n units then requires the next delimiter
        at that position (dissect.go:116-123), which is what the literal
        delimiter after the bounded group enforces; a final fixed field
        must end the string exactly (`(.{n})$`, dissect.go:166-171).
        (Unit = char here vs Go's bytes — divergence only on multi-byte
        input, shared with the Python kernel.)"""
        assert self.native_compilable
        parts = ["(?s)^", _java_quote(self.delimiters[0])]
        n = len(self.fields)

        def group(f: DissectField, last: bool) -> str:
            if f.fixed:
                return "(.{%d})%s" % (f.length, "$" if last else "")
            return "(.*)$" if last else "(.*?)"

        for i, f in enumerate(self.fields):
            has_trailing = i + 1 < len(self.delimiters)
            if i == n - 1 and not has_trailing:
                parts.append(group(f, last=True))
            else:
                parts.append(group(f, last=False))
                nxt = self.delimiters[i + 1]
                if f.greedy and f.kind in ("normal", "append") and len(nxt) == 1:
                    parts.append("(?:" + _java_quote(nxt) + ")+")
                else:
                    parts.append(_java_quote(nxt))
        # trailing content after the final delimiter is ignored (no $)
        return "".join(parts)

    def capture_array(self, src: Column) -> Column:
        """Every field's raw capture of the native regex in ONE pass
        (`regex.capture_array`); NULL for the empty string, which the Go
        algorithm never matches. Materialize it with `fields.materialize`
        before reading it from more than one expression (see
        processors.parse.Dissect)."""
        arr = capture_array(src, self.regex(), len(self.fields))
        return F.when(F.length(src) > 0, arr)

    def native_values(
        self, arr: Column, convert: bool, trimmer: Trimmer | None = None
    ) -> tuple[Column, dict[str, Column]]:
        """(matched_predicate, {output_key: value Column}) read from a
        `capture_array` — all JVM-side, NULL where the row did not match,
        one reference to the array per field (two or more only for
        append keys)."""

        def group(i: int) -> Column:
            g = capture(arr, i)
            if trimmer is not None and not convert:
                cls = "[" + re.sub(r"([\\\]\[^\-])", r"\\\1", trimmer.chars) + "]+"
                if trimmer.left:
                    g = F.regexp_replace(g, "^" + cls, "")
                if trimmer.right:
                    g = F.regexp_replace(g, cls + "$", "")
            return g

        values: dict[str, Column] = {}
        for key in self.static_keys:
            occ = [f for f in self.sorted_fields if f.saveable and f.key == key]
            expr = group(occ[0].id)
            for f in occ[1:]:
                join = self._join_for(f) if f.kind == "append" else None
                if join is None:
                    expr = group(f.id)  # repeated normal key: last wins
                else:
                    expr = F.concat(expr, F.lit(join), group(f.id))
            if convert:
                expr = cast_dissect_type(expr, self.key_type(key))
            values[key] = expr
        return capture_matched(arr, len(self.fields)), values

    def native_exprs(
        self, src: Column, convert: bool, trimmer: Trimmer | None = None
    ) -> tuple[Column, dict[str, Column]]:
        """native_values over an unmaterialized capture array of src."""
        return self.native_values(self.capture_array(src), convert, trimmer)

    @property
    def wants_convert(self) -> bool:
        return any(f.data_type for f in self.fields)


def cast_dissect_type(col: Column, dtype: str) -> Column:
    """Typed cast with Go parse rules; unparseable ⇒ NULL (the static-
    schema stand-in for Go's keep-raw-string fallback)."""
    if not dtype or dtype in ("string", "ip"):
        # ip: Go keeps the raw string on validation failure too ⇒ identity
        return F.rtrim(col) if dtype else col
    v = F.rtrim(col)
    if dtype in ("long", "integer"):
        width = "long" if dtype == "long" else "int"
        dec = F.when(v.rlike(r"^[+-]?\d+$"), v.try_cast(width))
        hexu = F.when(
            v.rlike(r"^0[xX][0-9a-fA-F]+$"),
            F.conv(F.substring(v, 3, 16), 16, 10).try_cast(width),
        )
        return F.coalesce(dec, hexu)
    if dtype in ("float", "double"):
        num = v.rlike(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
        return F.when(num, v.try_cast(dtype))
    if dtype == "boolean":
        return (
            F.when(v.isin(*sorted(_GO_TRUE)), F.lit(True))
            .when(v.isin(*sorted(_GO_FALSE)), F.lit(False))
        )
    raise TokenizerError(f"invalid data type: {dtype}")


def make_dissect_udf(tokenizer: Tokenizer) -> Callable:
    """Arrow-vectorized fallback: string column → map<string,string>
    (NULL map = parse failure). Used when native_compilable is False."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from beats_spark._pickle import ensure_udf_portable

    ensure_udf_portable()
    tok_raw, trim = tokenizer.raw, tokenizer.trimmer

    def _dissect(s):
        tok = Tokenizer(tok_raw, trim)  # compiled once per Arrow batch
        return s.map(lambda v: tok.dissect(v) if v is not None else None)

    # `from __future__ import annotations` stringifies inline hints, which
    # pyspark's signature inference rejects — attach real objects instead.
    _dissect.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_dissect, "map<string,string>")
