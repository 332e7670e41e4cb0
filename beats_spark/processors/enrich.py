"""Enrichment processors (SURVEY.md §2.5) — broadcast-join lookups,
hashes, CIDR classification, cross-event cache.

The canonical pattern: every reference processor that consults an
external directory (translate_sid, translate_ldap_attribute, dns,
add_docker/kubernetes/cloud_metadata) becomes a **broadcast left join**
against a pre-materialized lookup DataFrame — no live I/O in executors,
and at 100 TB the dimension stays on the map side (zero shuffle of the
fact table).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.conditions import _ipv4_to_long
from beats_spark.fields import field_col, field_type, put_fields
from beats_spark.processors.base import Processor, register
from beats_spark.processors.shape import _set_error


@register
class Lookup(Processor):
    """The generalized translate/add_*_metadata analog
    (translate_sid/translatesid.go:43,75-110; add_docker_metadata
    :59,150; dns/dns.go:42,80 — all key→attributes cache lookups).

    cfg:
      table:    a DataFrame (API use), or
      rows:     list[dict] (inline dimension), or
      path:     parquet path
      key_field:    event field to join on
      match_field:  dimension column holding the key (default = key_field)
      fields:       dimension columns to copy in (default: all non-key)
      target:       prefix for the copied columns ("" = top level)
      broadcast:    default True (dimensions are small by construction)

    Join-miss leaves the event unchanged (NULL enrich columns) —
    Beats' ignore_missing behavior (translatesid.go:75-80).
    """

    name = "lookup"

    def apply(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        dim: DataFrame | None = self.cfg.get("table")
        key = self.cfg["key_field"]
        match = self.cfg.get("match_field", key.split(".")[-1])
        inline = dim is None and bool(self.cfg.get("rows"))
        if inline:
            dim = _inline_dimension(spark, self.cfg["rows"], match)
        if dim is None and self.cfg.get("path"):
            dim = spark.read.parquet(self.cfg["path"])
        if dim is None:
            raise ValueError("lookup: one of table/rows/path required")
        fields = self.cfg.get("fields") or [c for c in dim.columns if c != match]
        target = self.cfg.get("target", "")
        prefix = f"{target}." if target else ""
        ev_key = field_col(df, key)
        if ev_key is None:
            return df
        sel = [F.col(match).alias("__lk__")] + [
            F.col(c).alias(f"__lv_{c}__") for c in fields
        ]
        dim_p = dim.select(*sel)
        if not inline:
            dim_p = dim_p.dropDuplicates(["__lk__"])
        joined = df.join(
            F.broadcast(dim_p) if self.cfg.get("broadcast", True) else dim_p,
            ev_key == F.col("__lk__"),
            "left",
        ).drop("__lk__")
        joined = put_fields(joined, {prefix + c: F.col(f"__lv_{c}__") for c in fields})
        return joined.drop(*[f"__lv_{c}__" for c in fields])


def _inline_dimension(
    spark: SparkSession, rows: list[dict], match: str
) -> DataFrame:
    """`rows` as a LocalRelation, deduplicated on `match` driver-side
    (first occurrence wins). Parameterized `VALUES` plans as a local
    table scan — no job, no Exchange — where `createDataFrame` would
    parallelize the rows and `dropDuplicates` would add a shuffle to
    every run. As `createDataFrame` infers them, columns are the
    rows' keys sorted by name (missing = NULL) and ints are BIGINT."""
    cols = sorted({c for r in rows for c in r})
    first: dict = {}
    for r in rows:
        first.setdefault(r.get(match), r)
    args: dict[str, Any] = {}
    tuples = []
    for i, r in enumerate(first.values()):
        cells = []
        for j, c in enumerate(cols):
            p = f"p{i}_{j}"
            args[p] = r.get(c)
            cells.append(
                f"CAST(:{p} AS BIGINT)" if type(args[p]) is int else f":{p}"
            )
        tuples.append(f"({', '.join(cells)})")
    names = ", ".join(f"`{c.replace('`', '``')}`" for c in cols)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(tuples)} AS t({names})", args=args
    )


def _host_struct(cfg: dict[str, Any]) -> dict[str, Any]:
    import platform
    import socket

    return {
        "hostname": socket.gethostname(),
        "os.platform": platform.system().lower(),
        "os.kernel": platform.release(),
        "architecture": platform.machine(),
    }


@register
class AddHostMetadata(Processor):
    """add_host_metadata/add_host_metadata.go:119-139 — constant host
    info under `host.*`, skipped when the event carries the `forwarded`
    tag. Constants fold into the plan (lit), the Beats TTL cache is
    irrelevant in batch."""

    name = "add_host_metadata"

    def apply(self, df: DataFrame) -> DataFrame:
        info = _host_struct(self.cfg)
        tags = field_col(df, "tags")
        not_forwarded = (
            F.lit(True)
            if tags is None
            else ~F.coalesce(F.array_contains(tags, "forwarded"), F.lit(False))
        )
        writes = {}
        for k, v in info.items():
            path = f"host.{k}"
            existing = field_col(df, path)
            keep = existing if existing is not None else F.lit(None).cast("string")
            writes[path] = F.when(not_forwarded, F.lit(v)).otherwise(keep)
        return put_fields(df, writes)


@register
class AddAgentMetadata(Processor):
    """actions/add_agent_metadata.go:27 — constant agent descriptor."""

    name = "add_agent_metadata"

    def apply(self, df: DataFrame) -> DataFrame:
        return put_fields(
            df, {"agent.type": F.lit("beats_spark"), "agent.version": F.lit("1.0.0")}
        )


@register
class AddObserverMetadata(Processor):
    """add_observer_metadata/…:36 — constant observer descriptor."""

    name = "add_observer_metadata"

    def apply(self, df: DataFrame) -> DataFrame:
        import socket

        return put_fields(
            df,
            {
                "observer.hostname": F.lit(socket.gethostname()),
                "observer.type": F.lit("beats_spark"),
            },
        )


_FP_METHODS = {"md5", "sha1", "sha256", "sha384", "sha512", "xxhash"}


@register
class Fingerprint(Processor):
    """fingerprint/fingerprint.go:40,72-116 — hash a sorted field set.

    Byte layout reproduced exactly: for each field in sorted order
    write `|key|value`, then a trailing `|` (fingerprint.go:93-116).
    Timestamps are UTC RFC3339-nanos; numbers use Go %v formatting
    (integers plain, no trailing .0). Missing field ⇒ error (we record
    _error and emit NULL). method: md5/sha1/sha256/sha384/sha512/xxhash;
    encoding hex (default)/base32/base64."""

    name = "fingerprint"

    def apply(self, df: DataFrame) -> DataFrame:
        fields = sorted(self.cfg.get("fields", []))
        method = self.cfg.get("method", "sha256")
        encoding = self.cfg.get("encoding", "hex")
        target = self.cfg.get("target_field", "fingerprint")
        parts: list[Column] = []
        missing = F.lit(False)
        for f in fields:
            col = field_col(df, f)
            if col is None:
                missing = F.lit(True)
                continue
            ft = field_type(df.schema, f)
            if isinstance(ft, T.TimestampType):
                sval = F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSS'Z'")
            elif isinstance(ft, (T.FloatType, T.DoubleType)):
                # Go %v prints integral floats without decimal point
                lval = col.cast("long")
                sval = F.when(
                    col.isNotNull() & (col == lval.cast("double")), lval.cast("string")
                ).otherwise(col.cast("string"))
            else:
                sval = col.cast("string")
            missing = missing | col.isNull()
            parts.extend([F.lit("|" + f + "|"), sval])
        payload = F.concat(*parts, F.lit("|")) if parts else F.lit("|")
        if method == "md5":
            digest_hex = F.md5(payload)
        elif method == "sha1":
            digest_hex = F.sha1(payload)
        elif method in ("sha256", "sha384", "sha512"):
            digest_hex = F.sha2(payload, int(method[3:]))
        elif method == "xxhash":
            digest_hex = F.lower(F.hex(F.xxhash64(payload)))
        else:
            raise ValueError(f"fingerprint: unsupported method {method}")
        if encoding == "hex":
            out = digest_hex
        elif encoding == "base64":
            out = F.base64(F.unhex(digest_hex))
        elif encoding == "base32":
            # no native base32; Arrow UDF over the hex digest
            # (fingerprint/fingerprint.go supports hex/base32/base64)
            out = _b32_of_hex_udf()(digest_hex)
        else:
            raise ValueError(f"fingerprint: unknown encoding {encoding}")
        df = _set_error(df, missing, "fingerprint: missing field")
        return put_fields(df, {target: F.when(~missing, out)})


def _b32_of_hex_udf():
    """hex digest string → RFC4648 base32 (Go's base32.StdEncoding)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from beats_spark._pickle import ensure_udf_portable

    ensure_udf_portable()

    def _conv(s):
        import base64 as _b64

        return s.map(
            lambda h: None if h is None else _b64.b32encode(bytes.fromhex(h)).decode()
        )

    _conv.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_conv, "string")


# IANA transport names (communityid.go:264-276) and the ICMP
# type↔counter-type tables (flowhash/communityid.go:97-122)
_CID_TRANSPORTS = {
    "icmp": 1, "igmp": 2, "tcp": 6, "udp": 17, "gre": 47,
    "ipv6-icmp": 58, "icmpv6": 58, "eigrp": 88, "ospf": 89,
    "pim": 103, "sctp": 132,
}
_ICMP4_EQUIV = {8: 0, 0: 8, 13: 14, 14: 13, 15: 16, 10: 9, 9: 10, 17: 18, 18: 17}
_ICMP6_EQUIV = {
    128: 129, 129: 128, 133: 134, 134: 133, 136: 135, 135: 136,
    130: 131, 139: 140, 140: 139, 144: 145, 145: 144,
}


def _ipv6_hex_udf():
    """Arrow-vectorized ip-string → uppercase hex of the packed raw
    bytes (16 for v6); engaged only for rows containing ':' (the
    caller masks v4 rows to NULL, so the per-row Python work for pure
    v4 traffic is a None check)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from beats_spark._pickle import ensure_udf_portable

    ensure_udf_portable()

    def _conv(s):
        import ipaddress as _ip

        def one(v):
            if v is None:
                return None
            try:
                return _ip.ip_address(v).packed.hex().upper()
            except ValueError:
                return None

        return s.map(one)

    _conv.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_conv, "string")


@register
class CommunityId(Processor):
    """communityid/communityid.go:38,90-175 + flowhash/communityid.go:
    42-84 — v1 flow hash: sha1(seed_16be ‖ raw_src_ip ‖ raw_dst_ip ‖
    proto ‖ 0x00 [‖ sport_16be ‖ dport_16be]), base64, '1:' prefix.

    - protocol: iana_number field first, else transport name via the
      IANA table, else a raw number (communityid.go:131-141,278-292).
    - tcp/udp/sctp: ports required (0..65535) or no id.
    - ICMP/ICMPv6: ports ← (type, counter-type) from the per-family
      equivalence table (bidirectional ⇒ normal sort) or (type, code)
      (one-way ⇒ NO sort); missing type/code ⇒ (0, table[0]) — the Go
      zero value flows through the table (communityid.go:167-176,
      flowhash icmpPortEquivalents).
    - other IP protocols: hashed without the port bytes.
    - normalization: flip unless raw-IP bytes compare < 0 (or == 0 and
      sport < dport) — hex-string comparison preserves byte order
      across the mixed v4(4B)/v6(16B) case (flow.go:88-96).

    IPv4 stays pure-JVM (ip→long→hex); IPv6 goes through an Arrow UDF
    masked to ':'-containing rows only (cfg ipv6=False removes the UDF
    from the plan entirely for known-v4 pipelines)."""

    name = "community_id"

    def apply(self, df: DataFrame) -> DataFrame:
        src = field_col(df, self.cfg.get("source_ip", "source.ip"))
        dst = field_col(df, self.cfg.get("destination_ip", "destination.ip"))
        sport = field_col(df, self.cfg.get("source_port", "source.port"))
        dport = field_col(df, self.cfg.get("destination_port", "destination.port"))
        proto = field_col(df, self.cfg.get("transport", "network.transport"))
        iana = field_col(df, self.cfg.get("iana_number", "network.iana_number"))
        icmp_t = field_col(df, self.cfg.get("icmp_type", "icmp.type"))
        icmp_c = field_col(df, self.cfg.get("icmp_code", "icmp.code"))
        target = self.cfg.get("target", "network.community_id")
        if src is None or dst is None or (proto is None and iana is None):
            return put_fields(df, {target: F.lit(None).cast("string")})
        seed = int(self.cfg.get("seed", 0))

        def resolve_proto(c: Column) -> Column:
            name = F.lower(c.cast("string"))
            expr: Column = F.when(
                c.cast("string").try_cast("long").between(0, 255),
                c.cast("string").try_cast("long"),
            )
            for n, num in _CID_TRANSPORTS.items():
                expr = F.when(name == n, F.lit(num)).otherwise(expr)
            return expr.cast("int")

        if iana is not None and proto is not None:
            # a PRESENT but unresolvable iana value does not fall back
            # to the transport name (communityid.go:131-141)
            proto_num = F.when(iana.isNotNull(), resolve_proto(iana)).otherwise(
                resolve_proto(proto)
            )
        else:
            proto_num = resolve_proto(iana if iana is not None else proto)

        def ip_hex(c: Column) -> Column:
            v4 = F.lpad(F.hex(_ipv4_to_long(c)), 8, "0")
            if not self.cfg.get("ipv6", True):
                return v4
            v6 = _ipv6_hex_udf()(F.when(c.cast("string").contains(":"), c.cast("string")))
            return F.coalesce(v4, v6)

        s_hex, d_hex = ip_hex(src), ip_hex(dst)
        is_ports = proto_num.isin(6, 17, 132)
        is_icmp4, is_icmp6 = proto_num == 1, proto_num == 58
        sp = sport.cast("string").try_cast("long") if sport is not None else F.lit(None).cast("long")
        dp = dport.cast("string").try_cast("long") if dport is not None else F.lit(None).cast("long")
        ports_ok = sp.between(0, 65535) & dp.between(0, 65535)

        # ICMP: uint8 coercion truncates (Go uint8(x)); missing → 0
        def u8(c: Column | None) -> Column:
            if c is None:
                return F.lit(None).cast("long")
            return F.pmod(c.cast("string").try_cast("long"), F.lit(256))

        t_raw, c_raw = u8(icmp_t), u8(icmp_c)
        tc_ok = t_raw.isNotNull() & c_raw.isNotNull()
        t_eff = F.when(tc_ok, t_raw).otherwise(F.lit(0))
        c_eff = F.when(tc_ok, c_raw).otherwise(F.lit(0))

        def equiv(table: dict[int, int]) -> Column:
            expr: Column = F.lit(None).cast("long")
            for k, v in table.items():
                expr = F.when(t_eff == k, F.lit(v)).otherwise(expr)
            return expr

        eq = F.when(is_icmp4, equiv(_ICMP4_EQUIV)).when(is_icmp6, equiv(_ICMP6_EQUIV))
        one_way = (is_icmp4 | is_icmp6) & eq.isNull()
        sp_eff = F.when(is_ports, sp).when(is_icmp4 | is_icmp6, t_eff)
        dp_eff = F.when(is_ports, dp).when(
            is_icmp4 | is_icmp6, F.coalesce(eq, c_eff)
        )
        has_port_bytes = is_ports | is_icmp4 | is_icmp6

        # sort uses port 0 for port-less protocols (Go zero values)
        sp_sort = F.coalesce(sp_eff, F.lit(0))
        dp_sort = F.coalesce(dp_eff, F.lit(0))
        sorted_ok = (s_hex < d_hex) | ((s_hex == d_hex) & (sp_sort < dp_sort))
        flip = ~F.coalesce(sorted_ok, F.lit(False)) & ~F.coalesce(
            one_way, F.lit(False)
        )
        a_ip = F.when(flip, d_hex).otherwise(s_hex)
        b_ip = F.when(flip, s_hex).otherwise(d_hex)
        a_p = F.when(flip, dp_eff).otherwise(sp_eff)
        b_p = F.when(flip, sp_eff).otherwise(dp_eff)

        def be16(c: Column) -> Column:
            return F.lpad(F.hex(c), 4, "0")

        hexmsg = F.concat(
            F.lpad(F.hex(F.lit(seed)), 4, "0"),
            a_ip,
            b_ip,
            F.lpad(F.hex(proto_num.cast("long")), 2, "0"),
            F.lit("00"),
            F.when(has_port_bytes, F.concat(be16(a_p), be16(b_p))).otherwise(
                F.lit("")
            ),
        )
        digest = F.sha1(F.unhex(hexmsg))
        cid = F.concat(F.lit("1:"), F.base64(F.unhex(digest)))
        ok = (
            s_hex.isNotNull()
            & d_hex.isNotNull()
            & proto_num.isNotNull()
            & (~is_ports | F.coalesce(ports_ok, F.lit(False)))
        )
        return put_fields(df, {target: F.when(ok, cid)})


@register
class AddNetworkDirection(Processor):
    """actions/add_network_direction.go:34,65 — classify src/dst IPs
    against `internal_networks` CIDRs: inbound/outbound/internal/
    external. Pure CIDR arithmetic (conditions._ipv4_to_long)."""

    name = "add_network_direction"

    def apply(self, df: DataFrame) -> DataFrame:
        src = field_col(df, self.cfg.get("source", "source.ip"))
        dst = field_col(df, self.cfg.get("destination", "destination.ip"))
        target = self.cfg.get("target", "network.direction")
        if src is None or dst is None:
            return df
        import ipaddress

        nets = []
        for c in self.cfg.get("internal_networks", ["private"]):
            from beats_spark.conditions import _NAMED_NETWORKS

            for cidr in _NAMED_NETWORKS.get(c, [c]):
                net = ipaddress.ip_network(cidr, strict=False)
                if net.version == 4:
                    nets.append((int(net.network_address), int(net.broadcast_address)))

        def internal(col: Column) -> Column:
            ipl = _ipv4_to_long(col)
            pred = F.lit(False)
            for lo, hi in nets:
                pred = pred | ((ipl >= F.lit(lo)) & (ipl <= F.lit(hi)))
            return F.coalesce(pred, F.lit(False))

        s_in, d_in = internal(src), internal(dst)
        direction = (
            F.when(s_in & d_in, "internal")
            .when(s_in, "outbound")
            .when(d_in, "inbound")
            .otherwise("external")
        )
        both = src.isNotNull() & dst.isNotNull()
        return put_fields(df, {target: F.when(both, direction)})


# minimal embedded public-suffix slice (registered_domain.go uses the
# full PSL via golang.org/x/net/publicsuffix; config `suffixes` extends)
_DEFAULT_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
    "github.io", "blogspot.com", "herokuapp.com", "s3.amazonaws.com",
    "com", "org", "net", "edu", "gov", "mil", "int", "io", "co", "ai",
    "dev", "app", "info", "biz", "me", "tv", "us", "uk", "de", "fr",
    "jp", "cn", "ru", "br", "in", "au", "ca", "nl", "se", "no", "es", "it",
]


@register
class RegisteredDomain(Processor):
    """registered_domain/registered_domain.go:40,76 — eTLD+1 via suffix
    list. Longest-matching suffix wins; registered domain = one label
    more than the suffix. Native when-chain ordered by label count."""

    name = "registered_domain"

    def apply(self, df: DataFrame) -> DataFrame:
        col = field_col(df, self.cfg.get("field", "dns.question.name"))
        target = self.cfg.get("target_field", "dns.question.registered_domain")
        if col is None:
            return df
        suffixes = sorted(
            set(self.cfg.get("suffixes", _DEFAULT_SUFFIXES)),
            key=lambda s: -s.count("."),
        )
        host = F.lower(col)
        out: Column = F.lit(None).cast("string")
        # iterate ascending specificity so the most specific WHEN lands last
        for suf in reversed(suffixes):
            nlab = suf.count(".") + 1
            is_match = host.endswith("." + suf)
            reg = F.concat(
                F.element_at(F.split(host, r"\."), -nlab - 1), F.lit("." + suf)
            )
            deep_enough = F.size(F.split(host, r"\.")) > nlab
            out = F.when(is_match & deep_enough, reg).otherwise(out)
        return put_fields(df, {target: out})


@register
class Cache(Processor):
    """cache/cache.go:38-41,128-184 — cross-event KV store keyed by an
    event field. Batch semantics: a "get" row sees the most recent prior
    "put" row with the same key, in `order_by` order — expressed as
    last(ignorenulls) over an ordered window (no driver loop, shuffles
    once on the key).

    cfg: key_field, put_when (condition), value_field, target_field,
    order_by (default '@timestamp').
    """

    name = "cache"

    def apply(self, df: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        key = field_col(df, self.cfg["key_field"])
        val = field_col(df, self.cfg["value_field"])
        order = self.cfg.get("order_by", "@timestamp")
        ocol = field_col(df, order)
        if key is None or val is None or ocol is None:
            return df
        from beats_spark.conditions import compile_condition

        put_cond = compile_condition(df, self.cfg["put_when"])
        stored = F.when(put_cond, val)
        w = (
            Window.partitionBy(key)
            .orderBy(ocol)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return put_fields(
            df, {self.cfg["target_field"]: F.last(stored, ignorenulls=True).over(w)}
        )


@register
class Dns(Processor):
    """dns/dns.go:42,80 — reverse/forward lookup against a
    pre-materialized resolution table (no live DNS in executors);
    success/failure tagging via the join hit."""

    name = "dns"

    def apply(self, df: DataFrame) -> DataFrame:
        table = self.cfg.get("table")
        if table is None:
            raise ValueError("dns: pre-resolved `table` DataFrame required")
        out = df
        for src, dst in (self.cfg.get("fields") or {}).items():
            lk = Lookup(
                {
                    "table": table,
                    "key_field": src,
                    "match_field": self.cfg.get("match_field", "query"),
                    "fields": [self.cfg.get("answer_field", "answer")],
                    "target": "",
                }
            )
            tmp = lk.apply(out)
            ans = field_col(tmp, self.cfg.get("answer_field", "answer"))
            out = put_fields(tmp, {dst: ans})
            if self.cfg.get("answer_field", "answer") != dst:
                out = out.drop(self.cfg.get("answer_field", "answer"))
        return out


@register
class Timeseries(Processor):
    """timeseries/timeseries.go:68 — instance hash over dimension
    fields (fingerprint-style)."""

    name = "timeseries"

    def apply(self, df: DataFrame) -> DataFrame:
        dims = sorted(self.cfg.get("fields", []))
        cols = [c for c in (field_col(df, d) for d in dims) if c is not None]
        if not cols:
            return df
        return put_fields(
            df, {"timeseries.instance": F.xxhash64(*cols).cast("string")}
        )
