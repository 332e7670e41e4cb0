"""Processor-chain semantics vs the reference's system tests
(filebeat/tests/system/test_processors.py patterns) on tiny frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_spark.processors import compile_chain, compile_one
from tests.harness import GOLDEN_ABSENT


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_drop_fields_and_include_fields(spark):
    df = _df(spark, [("a", 1, "x")], "f1 string, f2 int, f3 string")
    out = compile_one({"drop_fields": {"fields": ["f2"]}})(df)
    assert out.columns == ["f1", "f3"]
    out2 = compile_one({"include_fields": {"fields": ["f3"]}})(df)
    assert out2.columns == ["f3"]


def test_drop_event_when(spark):
    df = _df(spark, [("debug", 1), ("info", 2)], "level string, n int")
    out = compile_one({"drop_event": {"when": {"equals": {"level": "debug"}}}})(df)
    assert [r.level for r in out.collect()] == ["info"]
    # missing-field condition ⇒ false ⇒ nothing dropped
    out2 = compile_one({"drop_event": {"when": {"equals": {"nope": "x"}}}})(df)
    assert out2.count() == 2


def test_when_gated_column_processor(spark):
    df = _df(spark, [("a", 1), ("b", 2)], "k string, n int")
    out = compile_one(
        {
            "add_fields": {
                "target": "",
                "fields": {"tagged": "yes"},
                "when": {"equals": {"k": "a"}},
            }
        }
    )(df)
    rows = {r.k: r.tagged for r in out.collect()}
    assert rows == {"a": "yes", "b": None}


def test_if_then_else(spark):
    df = _df(spark, [("a",), ("b",)], "k string")
    out = compile_one(
        {
            "if": {
                "condition": {"equals": {"k": "a"}},
                "then": [{"add_fields": {"target": "", "fields": {"route": "A"}}}],
                "else": [{"add_fields": {"target": "", "fields": {"route": "B"}}}],
            }
        }
    )(df)
    rows = {r.k: r.route for r in out.collect()}
    assert rows == {"a": "A", "b": "B"}


def test_rename_copy_truncate_replace(spark):
    df = _df(spark, [("hello world", "v")], "msg string, other string")
    chain = compile_chain(
        [
            {"copy_fields": {"fields": [{"from": "msg", "to": "msg2"}]}},
            {"rename": {"fields": [{"from": "other", "to": "renamed"}]}},
            {"truncate_fields": {"fields": ["msg"], "max_characters": 5}},
            {"replace": {"fields": [{"field": "msg2", "pattern": "world", "replacement": "there"}]}},
        ]
    )
    r = chain(df).collect()[0]
    assert r.msg == "hello"
    assert r.msg2 == "hello there"
    assert r.renamed == "v"
    assert "other" not in chain(df).columns
    assert "truncated" in (r._flags or [])


def test_truncate_bytes(spark):
    df = _df(spark, [("héllo wörld",)], "msg string")
    out = compile_one({"truncate_fields": {"fields": ["msg"], "max_bytes": 6}})(df)
    r = out.collect()[0]
    assert len(r.msg.encode("utf-8", "replace")) <= 6


def test_add_tags_and_append(spark):
    df = _df(spark, [(["x"],), (None,)], "tags array<string>")
    out = compile_one({"add_tags": {"tags": ["t1", "x"]}})(df)
    got = [sorted(r.tags) for r in out.collect()]
    assert got == [["t1", "x"], ["t1", "x"]]


def test_extract_field_and_array(spark):
    df = _df(spark, [("a-b-c", [10, 20, 30])], "s string, arr array<int>")
    chain = compile_chain(
        [
            {"extract_field": {"field": "s", "separator": "-", "index": 1, "target": "mid"}},
            {"extract_array": {"field": "arr", "mappings": {"first": 0, "last": 2}}},
        ]
    )
    r = chain(df).collect()[0]
    assert (r.mid, r.first, r.last) == ("b", 10, 30)


def test_convert(spark):
    df = _df(spark, [("42", "bad", "1.5")], "a string, b string, c string")
    out = compile_one(
        {
            "convert": {
                "fields": [
                    {"from": "a", "to": "a_int", "type": "integer"},
                    {"from": "b", "to": "b_int", "type": "integer"},
                    {"from": "c", "type": "double"},
                ],
                "ignore_missing": True,
            }
        }
    )(df)
    r = out.collect()[0]
    assert r.a_int == 42 and r.b_int is None and r.c == 1.5
    assert r._error is not None  # b failed with fail_on_error default true


def test_case_processors(spark):
    df = _df(spark, [("AbC",)], "Field string")
    out = compile_one({"lowercase": {"fields": ["Field"], "values": ["field"]}})(df)
    assert out.columns == ["field"]
    assert out.collect()[0].field == "abc"


def test_decode_base64_and_urldecode(spark):
    import base64

    enc = base64.b64encode(b"hi there").decode()
    df = _df(spark, [(enc, "a%20b%2Fc")], "b64 string, url string")
    chain = compile_chain(
        [
            {"decode_base64_field": {"field": {"from": "b64", "to": "plain"}}},
            {"urldecode": {"fields": [{"from": "url", "to": "decoded"}]}},
        ]
    )
    r = chain(df).collect()[0]
    assert r.plain == "hi there" and r.decoded == "a b/c"


def test_decode_duration(spark):
    df = _df(spark, [("1h2m3s",), ("150ms",), ("junk",)], "d string")
    out = compile_one({"decode_duration": {"field": "d", "format": "seconds"}})(df)
    vals = [r.d for r in out.collect()]
    assert vals[0] == pytest.approx(3723.0)
    assert vals[1] == pytest.approx(0.15)
    assert vals[2] is None


def test_decode_csv(spark):
    df = _df(spark, [('a,"b,c",d',)], "line string")
    out = compile_one({"decode_csv_fields": {"fields": {"line": "cols"}}})(df)
    assert out.collect()[0].cols == ["a", "b,c", "d"]


def test_syslog_rfc3164(spark):
    df = _df(
        spark,
        [("<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed",)],
        "message string",
    )
    out = compile_one({"syslog": {}})(df)
    r = out.collect()[0]
    assert r["log"]["syslog"]["severity"]["code"] == 2
    assert r["log"]["syslog"]["facility"]["code"] == 4
    assert r["log"]["syslog"]["hostname"] == "mymachine"
    assert r["log"]["syslog"]["appname"] == "su"
    assert r.message == "'su root' failed"


def test_syslog_rfc5424(spark):
    line = (
        "<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog "
        '- ID47 [exampleSDID@32473 iut="3"] An application event'
    )
    df = _df(spark, [(line,)], "message string")
    out = compile_one({"syslog": {}})(df)
    r = out.collect()[0]
    assert r["log"]["syslog"]["severity"]["code"] == 5
    assert r["log"]["syslog"]["facility"]["code"] == 20
    assert r["log"]["syslog"]["appname"] == "evntslog"
    assert r["log"]["syslog"]["msgid"] == "ID47"
    assert r.message == "An application event"


def test_syslog_hostile_sd_values_parse(spark):
    """SD values that complete a `word="` or hold `]` used to give the
    key and value arrays different lengths and fail the whole job; the
    map now holds exactly the matched pairs."""
    lines = [
        '<0>1 - 1 1 1 1 [e0@1 p00="1="]',
        '<0>1 - 1 1 1 1 [e0@1 p00="]] a"]',
    ]
    df = _df(spark, [(v,) for v in lines], "message string")
    rows = compile_one({"syslog": {}})(df).collect()
    sd = [r["log"]["syslog"]["sd"] for r in rows]
    raw = [r["log"]["syslog"]["sd_raw"] for r in rows]
    assert raw == ['[e0@1 p00="1="]', '[e0@1 p00="]]']
    assert sd == [{"p00": "1="}, {}]


def test_fingerprint_known_value(spark):
    import hashlib

    df = _df(spark, [("v1", "v2")], "b string, a string")
    out = compile_one({"fingerprint": {"fields": ["b", "a"], "target_field": "fp"}})(df)
    expected = hashlib.sha256(b"|a|v2|b|v1|").hexdigest()
    assert out.collect()[0].fp == expected


def test_community_id_known_value(spark):
    # reference vector from the community-id spec test data
    df = _df(
        spark,
        [("1.2.3.4", "5.6.7.8", 1122, 3344, "tcp")],
        "sip string, dip string, sp int, dp int, proto string",
    )
    out = compile_one(
        {
            "community_id": {
                "source_ip": "sip",
                "destination_ip": "dip",
                "source_port": "sp",
                "destination_port": "dp",
                "transport": "proto",
                "target": "cid",
            }
        }
    )(df)
    import base64
    import hashlib
    import socket
    import struct

    msg = (
        struct.pack("!H", 0)
        + socket.inet_aton("1.2.3.4")
        + socket.inet_aton("5.6.7.8")
        + struct.pack("!BBHH", 6, 0, 1122, 3344)
    )
    expected = "1:" + base64.b64encode(hashlib.sha1(msg).digest()).decode()
    assert out.collect()[0].cid == expected


def test_registered_domain(spark):
    df = _df(spark, [("www.google.co.uk",), ("deep.sub.example.com",), ("com",)], "host string")
    out = compile_one({"registered_domain": {"field": "host", "target_field": "rd"}})(df)
    vals = [r.rd for r in out.collect()]
    assert vals == ["google.co.uk", "example.com", None]


def test_network_direction(spark):
    df = _df(
        spark,
        [("10.0.0.1", "10.0.0.2"), ("10.0.0.1", "8.8.8.8"), ("8.8.8.8", "10.0.0.1")],
        "src string, dst string",
    )
    out = compile_one(
        {"add_network_direction": {"source": "src", "destination": "dst", "target": "dir"}}
    )(df)
    assert [r.dir for r in out.collect()] == ["internal", "outbound", "inbound"]


def test_detect_mime_type(spark):
    df = _df(spark, [("%PDF-1.4 blah",), ('{"a":1}',), ("plain text",)], "content string")
    out = compile_one({"detect_mime_type": {"field": "content", "target": "mime"}})(df)
    assert [r.mime for r in out.collect()] == [
        "application/pdf",
        "application/json",
        "text/plain; charset=utf-8",
    ]


def test_timestamp_layout_fallback(spark):
    df = _df(spark, [("2024-03-01 10:00:00",), ("2024/03/01",)], "t string")
    out = compile_one(
        {
            "timestamp": {
                "field": "t",
                "layouts": ["2006-01-02 15:04:05", "yyyy/MM/dd"],
                "target_field": "@timestamp",
                "ignore_failure": True,
            }
        }
    )(df)
    vals = [r["@timestamp"] for r in out.collect()]
    assert vals[0] is not None and vals[1] is not None


def test_gzip_roundtrip(spark):
    import gzip

    blob = gzip.compress(b"payload text")
    df = spark.createDataFrame([(bytearray(blob),)], "gz binary")
    out = compile_one({"decompress_gzip_field": {"field": {"from": "gz", "to": "txt"}}})(df)
    assert out.collect()[0].txt == "payload text"


def test_decode_xml(spark):
    df = spark.createDataFrame([("<a><b>1</b><c>x</c></a>",), ("notxml",)], "message string")
    out = compile_one({"decode_xml": {"field": "message", "target_field": "doc"}})(df)
    rows = out.collect()
    ok = [r for r in rows if r.message.startswith("<")][0]
    bad = [r for r in rows if r.message == "notxml"][0]
    assert ok.doc.b == 1 and ok.doc.c == "x"
    assert bad._error is not None


def test_syslog_structured_data(spark):
    line = (
        "<165>1 2003-10-11T22:14:15.003Z host app - ID47 "
        '[x@1 iut="3" eventSource="Application"] hello'
    )
    df = _df(spark, [(line,)], "message string")
    out = compile_one({"syslog": {}})(df)
    r = out.collect()[0]
    sd = r["log"]["syslog"]["sd"]
    assert sd["iut"] == "3" and sd["eventSource"] == "Application"


def test_detect_mime_type_binary_signatures(spark):
    """True-binary columns: invalid-UTF-8 magic bytes (0x89 PNG, 0xFF
    JPEG, 0x1F gzip) must match via the binary/hex path instead of being
    mangled by string casting (round-2 ADVICE)."""
    rows = [
        (bytearray(b"\x89PNG\r\n\x1a\n....."), "image/png"),
        (bytearray(b"\xff\xd8\xff\xe0JFIF"), "image/jpeg"),
        (bytearray(b"\x1f\x8b\x08rest"), "application/gzip"),
        (bytearray(b"PK\x03\x04zipdata"), "application/zip"),
        (bytearray(b"%PDF-1.7 body"), "application/pdf"),
        (bytearray(b"just some text"), "text/plain; charset=utf-8"),
    ]
    df = spark.createDataFrame([(b,) for b, _ in rows], "content binary")
    out = compile_one({"detect_mime_type": {"field": "content", "target": "mime"}})(df)
    assert [r.mime for r in out.collect()] == [m for _, m in rows]


def test_rate_limit_when_only_counts_matching(spark):
    """A `when`-gated rate_limit must rank ONLY condition-matching rows:
    non-matching events may not consume limit slots (round-2 ADVICE;
    reference applies the processor solely to selected events)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    # 3 noise rows (level=info) precede 2 debug rows, all in one bucket
    rows = [
        (base + dt.timedelta(milliseconds=i * 10), lvl, i)
        for i, lvl in enumerate(["info", "info", "info", "debug", "debug"])
    ]
    df = spark.createDataFrame(rows, "`@timestamp` timestamp, level string, seq int")
    out = compile_one(
        {
            "rate_limit": {
                "limit": "2/s",
                "when": {"equals": {"level": "debug"}},
            }
        }
    )(df)
    got = sorted(r.seq for r in out.collect())
    # both debug rows survive (they are the first 2 MATCHING), plus all info
    assert got == [0, 1, 2, 3, 4]
    out2 = compile_one(
        {
            "rate_limit": {
                "limit": "1/s",
                "when": {"equals": {"level": "debug"}},
            }
        }
    )(df)
    got2 = sorted(r.seq for r in out2.collect())
    # only the FIRST debug row survives; info rows untouched
    assert got2 == [0, 1, 2, 3]


def test_community_id_reference_vectors(spark):
    """Spec vectors from the reference's own tests
    (communityid/communityid_test.go TestRun + flowhash golden logs):
    TCP v4 both directions, custom seed, ICMP one-way (3/3) and
    zero-typecode, IGMP (no port bytes), numeric protocols, port-0,
    invalid ports/protocols, iana_number, TCP-over-IPv6 and ICMPv6
    neighbor solicitation/advertisement pairing."""
    rows = [
        # (n, sip, sport, dip, dport, transport, iana, itype, icode)
        (1, "128.232.110.120", 34855, "66.35.250.204", 80, "TCP", None, None, None),
        (2, "66.35.250.204", 80, "128.232.110.120", 34855, "tcp", None, None, None),
        (3, "128.232.110.120", 34855, "66.35.250.204", 80, "icmp", None, 3, 3),
        (4, "128.232.110.120", 34855, "66.35.250.204", 80, "icmp", None, None, None),
        (5, "128.232.110.120", None, "66.35.250.204", None, "igmp", None, None, None),
        (6, "128.232.110.120", None, "66.35.250.204", None, "2", None, None, None),
        (7, "128.232.110.120", 0, "66.35.250.204", 80, "TCP", None, None, None),
        (8, "128.232.110.120", 34855, "66.35.250.204", 0, "TCP", None, None, None),
        (9, "128.232.110.120", 123456, "66.35.250.204", 80, "TCP", None, None, None),
        (10, "128.232.110.120", 34855, "66.35.250.204", 80, "xyz", None, None, None),
        (11, "128.232.110.120", 34855, "66.35.250.204", 80, None, "6", None, None),
        # flowhash golden: ipv6.pcap.log + icmp6.pcap.log
        (12, "2001:470:e5bf:dead:4957:2174:e82c:4887", 63943,
         "2607:f8b0:400c:c03::1a", 25, "tcp", None, None, None),
        (13, "2607:f8b0:400c:c03::1a", 25,
         "2001:470:e5bf:dead:4957:2174:e82c:4887", 63943, "tcp", None, None, None),
        (14, "fe80::200:86ff:fe05:80da", None,
         "fe80::260:97ff:fe07:69ea", None, "ipv6-icmp", None, 135, 0),
        (15, "fe80::260:97ff:fe07:69ea", None,
         "fe80::200:86ff:fe05:80da", None, "ipv6-icmp", None, 136, 0),
    ]
    df = spark.createDataFrame(
        rows,
        "n int, `source.ip` string, `source.port` long, `destination.ip` string, "
        "`destination.port` long, `network.transport` string, "
        "`network.iana_number` string, `icmp.type` long, `icmp.code` long",
    )
    out = compile_one({"community_id": {"target": "cid"}})(df)
    got = {r.n: r.cid for r in out.collect()}
    assert got[1] == "1:LQU9qZlK+B5F3KDmev6m5PMibrg="
    assert got[2] == got[1]                                  # direction-invariant
    assert got[3] == "1:KF3iG9XD24nhlSy4r1TcYIr5mfE="        # one-way ICMP 3/3
    assert got[4] == "1:PAE85ZfR4SbNXl5URZwWYyDehwU="        # zero typecode
    assert got[5] == "1:D3t8Q1aFA6Ev0A/AO4i9PnU3AeI="        # igmp: no port bytes
    assert got[6] == got[5]                                  # protocol as "2"
    assert got[7] == "1:yrNkRN7VyfVz1Wh12tjRHhxERxM="        # source port 0
    assert got[8] == "1:YaVkVTbWUkgn0a2QrblLOEsia9g="        # dest port 0
    assert got[9] is None                                    # port out of range
    assert got[10] is None                                   # unknown protocol
    assert got[11] == got[1]                                 # iana_number path
    assert got[12] == "1:/qFaeAR+gFe1KYjMzVDsMv+wgU4="       # TCP over IPv6
    assert got[13] == got[12]
    assert got[14] == "1:dGHyGvjMfljg6Bppwm3bg0LO8TY="       # ICMPv6 NS
    assert got[15] == got[14]                                # NA pairs with NS
    # seed changes the id (flowhash seed test)
    seeded = compile_one({"community_id": {"seed": 123, "target": "cid"}})(df)
    got_s = {r.n: r.cid for r in seeded.collect()}
    assert got_s[1] == "1:hTSGlFQnR58UCk+NfKRZzA32dPg="


@pytest.mark.parametrize(
    "fname", ["tcp", "udp", "sctp", "ipv6", "icmp", "icmp6"]
)
def test_community_id_golden_pcap_logs(spark, fname):
    """Replay the reference's flowhash golden corpus
    (libbeat/common/flowhash/testdata/golden/*.pcap.log, loaded from
    the read-only checkout like the dissect corpus): every line is
    `ts | id | src dst proto a b` where (a, b) = ports for
    tcp/udp/sctp and (type, code) for ICMP/ICMPv6 — 166 flow vectors
    across both IP families."""
    import os

    path = f"/root/reference/libbeat/common/flowhash/testdata/golden/{fname}.pcap.log"
    if not os.path.exists(path):
        pytest.skip(f"{GOLDEN_ABSENT}: flowhash pcap logs")
    rows = []
    with open(path) as f:
        for i, line in enumerate(f):
            ts, cid, rest = [p.strip() for p in line.split("|", 2)]
            if cid == "<not IP>" or not rest:
                continue
            sip, dip, proto, a, b = rest.split()
            rows.append((i, sip, dip, proto, int(a), int(b), cid))
    assert rows
    is_icmp = fname.startswith("icmp")
    if is_icmp:
        schema = (
            "n int, `source.ip` string, `destination.ip` string, "
            "`network.iana_number` string, `icmp.type` long, `icmp.code` long, "
            "expected string"
        )
        data = [(n, s, d, p, a, b, c) for n, s, d, p, a, b, c in rows]
    else:
        schema = (
            "n int, `source.ip` string, `destination.ip` string, "
            "`network.iana_number` string, `source.port` long, "
            "`destination.port` long, expected string"
        )
        data = [(n, s, d, p, a, b, c) for n, s, d, p, a, b, c in rows]
    df = spark.createDataFrame(data, schema)
    out = compile_one({"community_id": {"target": "cid"}})(df)
    bad = [
        (r.n, r.cid, r.expected)
        for r in out.collect()
        if r.cid != r.expected
    ]
    assert not bad, f"{len(bad)} mismatches; first: {bad[:3]}"


def test_syslog_timestamp_parsing(spark):
    """3164 BSD timestamps (year-less, year injected like
    syslog/message.go:101-110; default_year pins it) and 5424 ISO
    timestamps parse into log.syslog.timestamp."""
    import datetime as dt

    df = _df(
        spark,
        [
            ("<34>Oct  1 02:03:04 host su[1]: hi",),
            ("<165>1 2023-07-11T22:14:15.003Z h app - ID47 - msg",),
        ],
        "message string",
    )
    out = compile_one({"syslog": {"default_year": 2024}})(df)
    rows = out.collect()
    t0 = rows[0]["log"]["syslog"]["timestamp"]
    assert (t0.year, t0.month, t0.day, t0.hour) == (2024, 10, 1, 2)
    t1 = rows[1]["log"]["syslog"]["timestamp"]
    assert t1 == dt.datetime(2023, 7, 11, 22, 14, 15, 3000)


def test_timestamp_go_layout_battery(spark):
    """Extended Go stdlib layouts (RFC1123Z/RFC822Z/ANSIC/StampMilli)."""
    cases = [
        ("Tue, 02 Jan 2024 15:04:05 -0700", "Mon, 02 Jan 2006 15:04:05 -0700"),
        ("02 Jan 24 15:04 -0700", "02 Jan 06 15:04 -0700"),
        ("Tue Jan  2 15:04:05 2024", "Mon Jan _2 15:04:05 2006"),
        ("Jan  2 15:04:05.123", "Jan _2 15:04:05.000"),
        ("2024/01/02 15:04:05", "2006/01/02 15:04:05"),
    ]
    for val, layout in cases:
        df = _df(spark, [(val,)], "t string")
        out = compile_one(
            {"timestamp": {"field": "t", "layouts": [layout], "target_field": "ts"}}
        )(df)
        r = out.collect()[0]
        assert r.ts is not None, (val, layout)
        assert r._error is None, (val, layout, r._error)


def test_dns_pre_resolved_lookup(spark):
    """dns processor (dns/dns.go): forward/reverse via a pre-resolved
    table (no live I/O in executors); join miss => NULL answer."""
    events = _df(spark, [("api.example.com",), ("unknown.host",)], "host string")
    table = spark.createDataFrame(
        [("api.example.com", "10.0.0.5")], "query string, answer string"
    )
    out = compile_one(
        {"dns": {"table": table, "fields": {"host": "host_ip"}}}
    )(events)
    rows = {r.host: r.host_ip for r in out.collect()}
    assert rows == {"api.example.com": "10.0.0.5", "unknown.host": None}


def test_timeseries_instance_hash(spark):
    """timeseries processor: same dimensions => same instance hash,
    different dimensions => different; dimension order irrelevant."""
    df = _df(
        spark,
        [("hostA", "cpu"), ("hostA", "cpu"), ("hostB", "cpu")],
        "host string, metricset string",
    )
    out = compile_one({"timeseries": {"fields": ["metricset", "host"]}})(df)
    vals = [r["timeseries"]["instance"] for r in out.collect()]
    assert vals[0] == vals[1] != vals[2]
    out2 = compile_one({"timeseries": {"fields": ["host", "metricset"]}})(df)
    assert out2.collect()[0]["timeseries"]["instance"] == vals[0]


def test_fingerprint_base32(spark):
    import base64
    import hashlib

    df = _df(spark, [("v1",)], "a string")
    out = compile_one(
        {"fingerprint": {"fields": ["a"], "target_field": "fp", "encoding": "base32"}}
    )(df)
    expected = base64.b32encode(hashlib.sha256(b"|a|v1|").digest()).decode()
    assert out.collect()[0].fp == expected


def test_script_pandas_escape_hatch(spark):
    """script processor: vectorized pandas_fn + explicit schema via
    mapInPandas (the JS-engine replacement; see README migration
    recipe)."""
    df = _df(spark, [("hello",), ("worldly",)], "message string")

    def fn(b):
        return b.assign(msg_len=b["message"].str.len())

    out = compile_one(
        {"script": {"pandas_fn": fn, "schema": "message string, msg_len int"}}
    )(df)
    rows = {r.message: r.msg_len for r in out.collect()}
    assert rows == {"hello": 5, "worldly": 7}
    # missing schema/fn raises with the migration pointer
    import pytest as _pt

    with _pt.raises(NotImplementedError, match="Migrating"):
        compile_one({"script": {}})(df)


def test_kv_processor(spark):
    """ES-ingest kv analog (processors/parse.py KV): lookaround
    splits, include/exclude/prefix, last-wins duplicates, null and
    missing-field behavior."""
    df = spark.createDataFrame(
        [
            (0, 'a=1 b=two c="3 with spaces" d=?'),
            (1, "a=1 a=2"),          # duplicate key → LAST_WIN
            (2, None),
            (3, "novalue plain k=v"),  # pairs without '=' dropped
        ],
        "idx long, kvs string",
    )
    out = compile_one(
        {
            "kv": {
                "field": "kvs",
                "target_field": "m",
                # split on spaces not inside the quoted-value idiom the
                # auditd module uses
                "field_split": r'\s(?![\w\"]+?(\s+|$))',
                "value_split": r"(?<!\\)=",
            }
        }
    )(df)
    rows = {r.idx: r.m for r in out.select("idx", "m").collect()}
    assert rows[0]["a"] == "1" and rows[0]["b"] == "two"
    assert rows[0]["c"] == '"3 with spaces"' and rows[0]["d"] == "?"
    assert rows[1] == {"a": "2"}
    assert rows[2] is None
    assert rows[3] == {"k": "v"}

    # include/exclude/prefix
    out2 = compile_one(
        {
            "kv": {
                "field": "kvs",
                "target_field": "m",
                "field_split": r"\s+",
                "value_split": "=",
                "include_keys": ["a", "b"],
                "exclude_keys": ["b"],
                "prefix": "p_",
            }
        }
    )(df)
    # include/exclude filter on the ORIGINAL key (before prefix),
    # matching ES kv
    r0 = {r.idx: r.m for r in out2.select("idx", "m").collect()}[0]
    assert r0 == {"p_a": "1"}

    out3 = compile_one(
        {
            "kv": {
                "field": "kvs",
                "target_field": "m",
                "field_split": r"\s+",
                "value_split": "=",
                "include_keys": ["a", "b"],
            }
        }
    )(df)
    r0 = {r.idx: r.m for r in out3.select("idx", "m").collect()}[0]
    assert r0 == {"a": "1", "b": "two"}

    # missing field: ignore_missing=True is a no-op, default raises
    assert compile_one(
        {"kv": {"field": "nope", "field_split": " ", "value_split": "=",
                "ignore_missing": True}}
    )(df).columns == df.columns
    import pytest as _pt

    with _pt.raises(ValueError, match="kv: missing"):
        compile_one(
            {"kv": {"field": "nope", "field_split": " ", "value_split": "="}}
        )(df)


def test_inline_lookup_first_wins_without_shuffle(spark):
    """`lookup` with inline `rows`: a duplicate key resolves to its
    first row, quotes and NULLs survive, and the dimension is a local
    relation — the executed plan has no shuffle Exchange."""
    import re

    events = _df(spark, [("a",), ("b",), ("c",), ("z",)], "k string")
    rows = [
        {"k": "a", "team": "first", "n": 1},
        {"k": "b", "team": "it's \"q\"", "n": None},
        {"k": "a", "team": "second", "n": 2},
        {"k": "c", "team": None, "n": 3},
    ]
    out = compile_one(
        {"lookup": {"rows": rows, "key_field": "k", "target": "lk"}}
    )(events)
    got = {r.k: (r.lk.team, r.lk.n) for r in out.collect()}
    assert got == {
        "a": ("first", 1),
        "b": ("it's \"q\"", None),
        "c": (None, 3),
        "z": (None, None),
    }
    # columns and types as createDataFrame infers them from dicts
    assert out.select("lk.*").dtypes == [("n", "bigint"), ("team", "string")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
