"""Grok golden-corpus replay (verdict-r02 item 9).

The reference ships its grok work in filebeat module ingest pipelines
(`filebeat/module/*/ingest/*.yml`) together with test logs and the
pipeline's expected output (`module/*/test/*.log-expected.json`) — the
same consume-at-test-time strategy the dissect suite uses with
`dissect_tests.json`. Here we load the module pipelines' OWN grok
configs (patterns + pattern_definitions, via yaml) straight from the
reference tree, replay the module test logs through our Grok
processor, and compare every grok-captured field against the expected
events.

Covered corpora:
- apache/access (5 logs, 25 events): COMBINEDAPACHELOG-shaped vhost /
  common / combined / ssl-request variants, 4-pattern first-match-wins
  (`module/apache/access/ingest/pipeline.yml:10-27`).
- system/syslog (4 logs, 108 events): SYSLOGTIMESTAMP / ISO8601
  headers + GREEDYMULTILINE pattern_definitions, with the module's
  multiline config (`^\\s` match:after, `config/syslog.yml`) replayed
  through our batch merge_lines first for the darwin fixtures
  (`module/system/syslog/ingest/files.yml:6-18`).
- nginx/access (3 logs, 34 events): 3-stage grok, nested
  pattern_definitions with unnamed composite refs, address-list
  split-set check (`module/nginx/access/ingest/pipeline.yml`).
- mysql/slowlog (13 logs, 168 events): module multiline config →
  merged-event exclude_lines (harvester.go:428 ordering) →
  55-optional-group grok over multi-line bundles, byte-offset aligned
  (`module/mysql/slowlog/ingest/pipeline.json`, `config/slowlog.yml`).
- traefik/access (7 events): dissect → grok composition
  (`module/traefik/access/ingest/pipeline.yml`).
- postgresql/log csv (10 logs): multiline → grok →
  decode_csv_fields (quoted multi-line cells, '""' escapes, short
  rows) → duration/connection groks
  (`module/postgresql/log/ingest/pipeline-csv.yml`).
- icinga main+debug (6 events): multiline negate + in-place message
  overwrite capture (`module/icinga/*/ingest/pipeline.yml`).

Comparison policy: for every field the grok stage captures non-null,
if the key survives into the expected event (later pipeline stages
rename/remove some), values must match exactly (ints compared as
ints via the pattern's :long casts). Keys the pipeline deletes
(apache.access.time, _tmp.url_orig — checked against url.original
instead) are exempted explicitly. A minimum-assertion floor keeps the
test from passing vacuously.
"""

from __future__ import annotations

import json
import pathlib

import pytest
import yaml
from pyspark.sql import functions as F

from beats_spark.fields import field_col
from beats_spark.processors import compile_one
from tests.harness import GOLDEN_ABSENT

MODULES = pathlib.Path("/root/reference/filebeat/module")

pytestmark = pytest.mark.skipif(
    not MODULES.is_dir(), reason=f"{GOLDEN_ABSENT}: filebeat module test logs"
)


def _grok_cfgs(pipeline_yaml: pathlib.Path) -> list[dict]:
    doc = yaml.safe_load(pipeline_yaml.read_text())
    return [p["grok"] for p in doc["processors"] if "grok" in p]


def _expected(log: pathlib.Path) -> list[dict]:
    return json.loads((log.parent / (log.name + "-expected.json")).read_text())


def _run_grok(spark, messages: list[str], grok_cfg: dict, fields: list[str]):
    """Replay messages through the Grok processor; return per-row
    {field: value} dicts for the requested capture fields."""
    cfg = {
        "field": "message",
        "patterns": grok_cfg["patterns"],
        "target_prefix": "",
    }
    if grok_cfg.get("pattern_definitions"):
        cfg["pattern_definitions"] = grok_cfg["pattern_definitions"]
    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate(messages)], "idx long, message string"
    )
    out = compile_one({"grok": cfg})(df)
    cols = [F.col("idx")] + [
        field_col(out, f).alias(f"f{i}") for i, f in enumerate(fields)
    ]
    rows = sorted(out.select(*cols).collect(), key=lambda r: r.idx)
    assert len(rows) == len(messages)
    return [{f: r[f"f{i}"] for i, f in enumerate(fields)} for r in rows]


def _check(got: list[dict], expected: list[dict], exempt: set[str]) -> int:
    """Every non-null captured value whose key survives into the
    expected event must match it exactly; returns #assertions made."""
    n = 0
    assert len(got) == len(expected)
    for i, (g, e) in enumerate(zip(got, expected)):
        for k, v in g.items():
            if v is None:
                continue
            if k in e:
                if isinstance(e[k], list) and not isinstance(v, list):
                    # ES grok emits an array when a field name is
                    # captured by several pattern positions (e.g. the
                    # slowlog schema appears in 'Schema:' AND 'use …;');
                    # ours keeps one deterministic capture — it must be
                    # one of the reference's values
                    assert v in e[k], f"row {i}: {k}: got {v!r} want in {e[k]!r}"
                elif isinstance(v, float):
                    # ES :float is 32-bit; its JSON prints the shortest
                    # repr — compare at float32 precision
                    import math

                    assert math.isclose(v, e[k], rel_tol=1e-6), (
                        f"row {i}: {k}: got {v!r} want {e[k]!r}"
                    )
                else:
                    assert v == e[k], f"row {i}: {k}: got {v!r} want {e[k]!r}"
                n += 1
            else:
                assert k in exempt, (
                    f"row {i}: grok captured {k}={v!r} but the expected "
                    f"event has no such key and it is not pipeline-removed"
                )
    return n


APACHE_FIELDS = [
    "destination.domain",
    "source.ip",
    "source.address",
    "user.name",
    "http.request.method",
    "http.version",
    "http.response.status_code",
    "http.response.body.bytes",
    "http.request.referrer",
    "user_agent.original",
    "apache.access.ssl.protocol",
    "apache.access.ssl.cipher",
    "apache.access.time",
    "_tmp.url_orig",
]
# apache.access.time → @timestamp via date then removed; _tmp.url_orig
# → uri_parts then removed (url.original checked separately below);
# source.address sometimes replaced by its source.ip/source.domain
# re-grok + null-cleanup; "-" referrer/agent removed on some fixtures.
APACHE_EXEMPT = {
    "apache.access.time",
    "_tmp.url_orig",
    "source.address",
    "http.request.referrer",
    "user_agent.original",
}


def test_grok_golden_apache_access(spark):
    pipeline = MODULES / "apache/access/ingest/pipeline.yml"
    (grok_cfg, addr_cfg) = _grok_cfgs(pipeline)
    logs = sorted((MODULES / "apache/access/test").glob("*.log"))
    assert len(logs) == 5
    total = 0
    for log in logs:
        messages = log.read_text().splitlines()
        expected = _expected(log)
        got = _run_grok(spark, messages, grok_cfg, APACHE_FIELDS)
        total += _check(got, expected, APACHE_EXEMPT)
        for i, (g, e) in enumerate(zip(got, expected)):
            # every event must have matched SOME pattern: status_code or
            # the ssl cipher is always captured on a match
            assert (
                g["http.response.status_code"] is not None
                or g["apache.access.ssl.cipher"] is not None
            ), f"{log.name} row {i}: no grok pattern matched"
            # _tmp.url_orig flows to url.original via uri_parts
            if g["_tmp.url_orig"] is not None and "url.original" in e:
                assert g["_tmp.url_orig"] == e["url.original"], (log.name, i)
    assert total >= 120, total  # non-vacuous: ~5 checked fields/event


SYSLOG_FIELDS = [
    "host.hostname",
    "process.name",
    "process.pid",
    "system.syslog.timestamp",
    "system.syslog.message",
]
# timestamp → @timestamp via date; system.syslog.message → message
# rename (checked explicitly); host.hostname null-cleaned on some rows.
SYSLOG_EXEMPT = {"system.syslog.timestamp", "system.syslog.message"}


def test_grok_golden_system_syslog(spark):
    from beats_spark.readers.multiline import merge_lines

    files_yml = MODULES / "system/syslog/ingest/files.yml"
    (grok_cfg,) = _grok_cfgs(files_yml)
    logs = [
        "suse-syslog.log",
        "tz-offset.log",
        "darwin-syslog-sample.log",
        "darwin-syslog.log",
    ]
    total = 0
    for name in logs:
        log = MODULES / "system/syslog/test" / name
        lines = log.read_text().splitlines()
        expected = _expected(log)
        if len(lines) != len(expected):
            # darwin fixtures: the module input runs multiline
            # pattern ^\s match:after first (config/syslog.yml). Replay
            # with BYTE offsets so our bundle starts can be checked
            # against the expected events' log.offset exactly (the
            # darwin-syslog expected file is truncated to the first 100
            # events of the 70 KB log — align by offset, then compare).
            offs, pos = [], 0
            for l in lines:
                offs.append(pos)
                pos += len(l.encode("utf-8")) + 1
            ldf = spark.createDataFrame(
                [("f", offs[i], l) for i, l in enumerate(lines)],
                "source string, offset long, message string",
            )
            merged = merge_lines(ldf, {"pattern": r"^\s", "match": "after"})
            bundles = sorted(
                merged.select("first_offset", "message").collect(),
                key=lambda r: r.first_offset,
            )
            assert len(bundles) >= len(expected), name
            # bundle boundaries must agree with filebeat's harvester:
            # event i begins at exactly the expected byte offset
            for i, e in enumerate(expected):
                assert bundles[i].first_offset == e["log.offset"], (name, i)
            messages = [r.message for r in bundles[: len(expected)]]
        else:
            messages = lines
        assert len(messages) == len(expected), name
        got = _run_grok(spark, messages, grok_cfg, SYSLOG_FIELDS)
        total += _check(got, expected, SYSLOG_EXEMPT)
        for i, (g, e) in enumerate(zip(got, expected)):
            assert g["system.syslog.timestamp"] is not None, (name, i)
            # files.yml renames system.syslog.message → message
            if "message" in e:
                assert g["system.syslog.message"] == e["message"], (name, i)
    assert total >= 150, total


# --- nginx/access --------------------------------------------------------------

NGINX_FIELDS = [
    "destination.domain",
    "destination.ip",
    "destination.port",
    "nginx.access.remote_ip_list",
    "source.address",
    "user.name",
    "nginx.access.time",
    "nginx.access.info",
    "http.response.status_code",
    "http.response.body.bytes",
    "http.request.referrer",
    "user_agent.original",
]
# time → @timestamp via date; info → second grok then removed;
# remote_ip_list → split to an array (checked as a set below);
# source.address overwritten by the pipeline's first-public-ip script.
NGINX_EXEMPT = {
    "nginx.access.time",
    "nginx.access.info",
    "nginx.access.remote_ip_list",
    "source.address",
}


def _coerce_ints(got: list[dict], expected: list[dict]) -> None:
    """Grok NUMBER captures without :long (e.g. destination.port,
    Thread_id variant) stay strings; the expected events carry ints.
    Coerce digit-strings so _check compares values, not the missing
    cast the later pipeline stages apply."""
    for g, e in zip(got, expected):
        for k, v in list(g.items()):
            if isinstance(v, str) and v.isdigit() and isinstance(e.get(k), int):
                g[k] = int(v)


def test_grok_golden_nginx_access(spark):
    import re as _re

    pipeline = MODULES / "nginx/access/ingest/pipeline.yml"
    # third grok re-parses source.address as a bare IP (null-cleanup)
    grok_main, grok_info, _ = _grok_cfgs(pipeline)
    logs = sorted((MODULES / "nginx/access/test").glob("*.log"))
    assert len(logs) == 3
    total = 0
    for log in logs:
        # empty lines never become events (harvester.go:428 IsEmpty)
        messages = [l for l in log.read_text().splitlines() if l]
        expected = _expected(log)
        got = _run_grok(spark, messages, grok_main, NGINX_FIELDS)
        _coerce_ints(got, expected)
        # the raw list capture is compared as a SET below (the pipeline
        # splits + reorders it) — keep it out of the scalar compare
        total += _check(
            [{k: v for k, v in g.items() if k != "nginx.access.remote_ip_list"} for g in got],
            expected,
            NGINX_EXEMPT,
        )
        infos = [g["nginx.access.info"] or "" for g in got]
        got2 = _run_grok(
            spark,
            infos,
            grok_info,
            ["http.request.method", "_tmp.url_orig", "http.version"],
        )
        for i, (g, g2, e) in enumerate(zip(got, got2, expected)):
            assert g["http.response.status_code"] is not None, (log.name, i)
            # the remote ip LIST capture must split to the expected set
            # (the pipeline splits + reorders; membership is ours to check)
            if g["nginx.access.remote_ip_list"] is not None:
                ips = {
                    p
                    for p in _re.split(r'[,\s"]+', g["nginx.access.remote_ip_list"])
                    if p
                }
                assert ips == set(e["nginx.access.remote_ip_list"]), (log.name, i)
            # second-stage grok over nginx.access.info
            if "http.request.method" in e:
                assert g2["http.request.method"] == e["http.request.method"], (log.name, i)
                total += 1
            if "url.original" in e:
                assert g2["_tmp.url_orig"] == e["url.original"], (log.name, i)
                total += 1
            if "http.version" in e:
                assert g2["http.version"] == e["http.version"], (log.name, i)
                total += 1
    assert total >= 150, total


# --- mysql/slowlog (multiline → exclude_lines → grok) ---------------------------

MYSQL_FIELDS = [
    "user.name",
    "mysql.slowlog.current_user",
    "source.domain",
    "source.ip",
    "mysql.thread_id",
    "mysql.slowlog.schema",
    "mysql.slowlog.lock_time.sec",
    "mysql.slowlog.rows_sent",
    "mysql.slowlog.rows_examined",
    "mysql.slowlog.rows_affected",
    "mysql.slowlog.last_errno",
    "mysql.slowlog.killed",
    "mysql.slowlog.bytes_received",
    "mysql.slowlog.bytes_sent",
    "mysql.slowlog.tmp_tables",
    "mysql.slowlog.tmp_disk_tables",
    "mysql.slowlog.innodb.io_r_ops",
    "mysql.slowlog.innodb.pages_distinct",
    "mysql.slowlog.query",
]
MYSQL_EXEMPT: set[str] = set()


def test_grok_golden_mysql_slowlog(spark):
    """Replays the full module input shape: multiline bundling with the
    module's own config (negate:true, match:after), THEN exclude_lines
    on the MERGED message (harvester.go:428 ordering — the version
    header and '# Time:' bundles drop whole), then the 55-optional-
    group slowlog grok. Byte offsets of surviving bundles must equal
    the expected events' log.offset exactly."""
    import json as _json

    from beats_spark.readers.lines import line_keep_predicate
    from beats_spark.readers.multiline import merge_lines

    pipeline = _json.loads(
        (MODULES / "mysql/slowlog/ingest/pipeline.json").read_text()
    )
    grok_cfg = next(p["grok"] for p in pipeline["processors"] if "grok" in p)
    cfg_yaml = yaml.safe_load(
        (MODULES / "mysql/slowlog/config/slowlog.yml").read_text()
        .replace("{{ range $i, $path := .paths }}", "")
        .replace("- {{$path}}", "")
        .replace("{{ end }}", "")
    )
    ml = cfg_yaml["multiline"]
    excludes = cfg_yaml["exclude_lines"]

    logs = sorted((MODULES / "mysql/slowlog/test").glob("*.log"))
    assert len(logs) == 13
    total = 0
    for log in logs:
        lines = log.read_text().splitlines()
        expected = _expected(log)
        offs, pos = [], 0
        for l in lines:
            offs.append(pos)
            pos += len(l.encode("utf-8")) + 1
        ldf = spark.createDataFrame(
            [("f", offs[i], l) for i, l in enumerate(lines)],
            "source string, offset long, message string",
        )
        merged = merge_lines(ldf, ml)
        kept = merged.filter(
            line_keep_predicate(F.col("message"), exclude=excludes)
        )
        bundles = sorted(
            kept.select("first_offset", "message").collect(),
            key=lambda r: r.first_offset,
        )
        assert len(bundles) == len(expected), log.name
        for i, e in enumerate(expected):
            assert bundles[i].first_offset == e["log.offset"], (log.name, i)
        got = _run_grok(
            spark, [r.message for r in bundles], grok_cfg, MYSQL_FIELDS
        )
        _coerce_ints(got, expected)
        total += _check(got, expected, MYSQL_EXEMPT)
        for i, (g, e) in enumerate(zip(got, expected)):
            assert g["mysql.slowlog.query"] is not None, (log.name, i)
            assert g["user.name"] is not None, (log.name, i)
    assert total >= 350, total  # 373 measured: ~2.2 checked fields/event × 168 events


# --- traefik/access (dissect → grok composition) --------------------------------

TRAEFIK_EXEMPT = {
    "traefik.access.time",     # -> @timestamp via date, then removed
    "traefik.access.message",  # grok input, then removed
    "temp.url_orig",           # -> uri_parts (url.original checked below)
    "temp.duration",           # -> event.duration (checked below)
}


def test_grok_golden_traefik_access(spark):
    """The only module corpus that chains BOTH parse processors the
    way the reference pipeline does: dissect splits the access line,
    grok parses the dissected remainder (optional tail groups), a
    second grok classifies source.address as ip-vs-domain."""
    doc = yaml.safe_load(
        (MODULES / "traefik/access/ingest/pipeline.yml").read_text()
    )
    dissect_cfg = next(p["dissect"] for p in doc["processors"] if "dissect" in p)
    grok_tail, grok_addr = _grok_cfgs(MODULES / "traefik/access/ingest/pipeline.yml")
    log = MODULES / "traefik/access/test/test.log"
    messages = [l for l in log.read_text().splitlines() if l]
    expected = _expected(log)
    assert len(messages) == len(expected) == 7

    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate(messages)], "idx long, message string"
    )
    out = compile_one(
        {"dissect": {"tokenizer": dissect_cfg["pattern"], "target_prefix": ""}}
    )(df)
    dfields = [
        "source.address",
        "traefik.access.user_identifier",
        "user.name",
        "traefik.access.time",
        "http.request.method",
        "temp.url_orig",
        "http.version",
        "http.response.status_code",
        "traefik.access.message",
    ]
    cols = [F.col("idx")] + [
        field_col(out, f).alias(f"f{i}") for i, f in enumerate(dfields)
    ]
    rows = sorted(out.select(*cols).collect(), key=lambda r: r.idx)
    got = [{f: r[f"f{i}"] for i, f in enumerate(dfields)} for r in rows]
    _coerce_ints(got, expected)
    total = _check(got, expected, TRAEFIK_EXEMPT)

    # grok over the dissected tail (optional trailing groups)
    tails = [g["traefik.access.message"] or "" for g in got]
    gfields = [
        "http.response.body.bytes",
        "http.request.referrer",
        "user_agent.original",
        "traefik.access.request_count",
        "traefik.access.frontend_name",
        "traefik.access.backend_url",
        "temp.duration",
    ]
    got2 = _run_grok(spark, tails, grok_tail, gfields)
    _coerce_ints(got2, expected)
    total += _check(got2, expected, TRAEFIK_EXEMPT)

    # source.address -> ip-vs-domain classifier grok
    addrs = [g["source.address"] or "" for g in got]
    got3 = _run_grok(spark, addrs, grok_addr, ["source.ip", "source.domain"])
    for i, (g3, g2, g, e) in enumerate(zip(got3, got2, got, expected)):
        if "source.ip" in e:
            assert g3["source.ip"] == e["source.ip"], i
            total += 1
        if "url.original" in e:
            assert g["temp.url_orig"] == e["url.original"], i
            total += 1
        if g2["temp.duration"] is not None and "event.duration" in e:
            assert g2["temp.duration"] * 1000000 == e["event.duration"], i
            total += 1
    assert total >= 80, total


# --- postgresql/log CSV (multiline → grok → decode_csv_fields → grok) -----------


def test_grok_golden_postgresql_csv(spark):
    """Third parse-processor composition: the module's multiline
    bundles CSV rows (quoted fields may span lines), the main grok
    splits timestamp/separator/raw_message, our decode_csv_fields
    parses the quoted CSV remainder (embedded commas + '""' escapes),
    and the csv sub-pipeline's groks parse duration/connection tails."""
    from beats_spark.readers.multiline import merge_lines

    ing = MODULES / "postgresql/log/ingest"
    (main_grok,) = _grok_cfgs(ing / "pipeline.yml")
    csv_doc = yaml.safe_load((ing / "pipeline-csv.yml").read_text())
    csv_proc = next(p["csv"] for p in csv_doc["processors"] if "csv" in p)
    conn_grok, msg_grok, _ = _grok_cfgs(ing / "pipeline-csv.yml")
    targets = csv_proc["target_fields"]
    ml = {"pattern": r"^\d{4}-\d{2}-\d{2} ", "negate": True, "match": "after"}

    logs = sorted((MODULES / "postgresql/log/test").glob("*.csv.log"))
    assert len(logs) == 10
    total = 0
    for log in logs:
        lines = log.read_text().splitlines()
        expected = _expected(log)
        ldf = spark.createDataFrame(
            [("f", i, l) for i, l in enumerate(lines)],
            "source string, offset long, message string",
        )
        bundles = sorted(
            merge_lines(ldf, ml).select("first_offset", "message").collect(),
            key=lambda r: r.first_offset,
        )
        assert len(bundles) == len(expected), log.name
        messages = [r.message for r in bundles]

        got1 = _run_grok(
            spark,
            messages,
            main_grok,
            ["postgresql.log.timestamp", "separator", "raw_message", "event.timezone"],
        )
        assert all(g["separator"] == "," for g in got1), log.name

        # decode_csv_fields over the raw CSV remainder → positional fields
        raw = spark.createDataFrame(
            [(i, g["raw_message"]) for i, g in enumerate(got1)],
            "idx long, raw string",
        )
        dec = compile_one(
            {"decode_csv_fields": {"fields": {"raw": "cells"}}}
        )(raw)
        rows = sorted(dec.select("idx", "cells").collect(), key=lambda r: r.idx)
        got = []
        for r, g1 in zip(rows, got1):
            cells = [c.strip() for c in r.cells]
            # older PG versions emit fewer columns (no backend_type);
            # the ES csv processor fills leading targets and leaves the
            # rest unset
            assert len(cells) <= len(targets), (log.name, r.idx, len(cells))
            d = {t: c for t, c in zip(targets, cells) if c != ""}
            d["postgresql.log.timestamp"] = g1["postgresql.log.timestamp"]
            d["event.timezone"] = g1["event.timezone"]
            got.append(d)
        _coerce_ints(got, expected)
        exempt = {
            "tempcsv.connection_from",
            "tempcsv.session_line_num",
            "tempcsv.session_start_time",
            "tempcsv.message",
            "tempcsv.internal_query_pos",
            "tempcsv.query_pos",
        }
        total += _check(got, expected, exempt)

        # duration/statement grok over the csv message cell
        msgs = [g.get("tempcsv.message", "") for g in got]
        got2 = _run_grok(
            spark,
            msgs,
            msg_grok,
            [
                "temp.duration",
                "postgresql.log.query_step",
                "postgresql.log.query_name",
                "message",
            ],
        )
        # client addr:port grok
        conns = [g.get("tempcsv.connection_from", "") for g in got]
        got3 = _run_grok(
            spark,
            conns,
            conn_grok,
            ["postgresql.log.client_addr", "postgresql.log.client_port"],
        )
        for i, (g2, g3, e) in enumerate(zip(got2, got3, expected)):
            if "event.duration" in e and g2["temp.duration"] is not None:
                import math

                # the reference harness stores event.duration through a
                # float mapping — compare at float32 relative precision
                ns = g2["temp.duration"] * 1e6
                assert math.isclose(ns, e["event.duration"], rel_tol=1e-6, abs_tol=1.0), (log.name, i)
                total += 1
            for k in (
                "postgresql.log.query_step",
                "postgresql.log.query_name",
                "message",
            ):
                if k in e and g2[k] is not None:
                    assert g2[k] == e[k], (log.name, i, k)
                    total += 1
            if "postgresql.log.client_addr" in e:
                assert g3["postgresql.log.client_addr"] == e["postgresql.log.client_addr"], (log.name, i)
                assert g3["postgresql.log.client_port"] == e.get("postgresql.log.client_port"), (log.name, i)
                total += 1
    assert total >= 150, total


# --- icinga main/debug (multiline → grok, message overwrite) --------------------


def test_grok_golden_icinga(spark):
    """Multiline negate bundles + a grok whose GREEDYMULTILINE capture
    OVERWRITES the input `message` field — verifies in-place capture
    overwrite and the ISO8601_TIMEZONE base pattern."""
    from beats_spark.readers.multiline import merge_lines

    ml = {"pattern": r"^\[", "negate": True, "match": "after"}
    total = 0
    for fileset in ("main", "debug"):
        (grok_cfg,) = _grok_cfgs(MODULES / f"icinga/{fileset}/ingest/pipeline.yml")
        log = MODULES / f"icinga/{fileset}/test/test.log"
        lines = log.read_text().splitlines()
        expected = _expected(log)
        ldf = spark.createDataFrame(
            [("f", i, l) for i, l in enumerate(lines)],
            "source string, offset long, message string",
        )
        bundles = sorted(
            merge_lines(ldf, ml).select("first_offset", "message").collect(),
            key=lambda r: r.first_offset,
        )
        assert len(bundles) == len(expected), fileset
        got = _run_grok(
            spark,
            [r.message for r in bundles],
            grok_cfg,
            ["log.level", f"icinga.{fileset}.facility", "message",
             f"icinga.{fileset}.timestamp"],
        )
        total += _check(
            got, expected, {f"icinga.{fileset}.timestamp"}
        )
        for i, (g, e) in enumerate(zip(got, expected)):
            assert g["message"] == e["message"], (fileset, i)
    assert total >= 16, total  # 18 measured: 3 checked fields × 6 events


# --- kafka/log ------------------------------------------------------------

KAFKA_FIELDS = [
    "kafka.log.class",
    "log.level",
    "message",
    "kafka.log.component",
    "kafka.log.trace.class",
    "kafka.log.trace.message",
    "kafka.log.timestamp",
]


def test_grok_golden_kafka_log(spark):
    """Java-stacktrace multiline (config/log.yml: '^\\[' negate after)
    → 3-stage grok chain replayed on all 8 kafka corpora: stage 1 has
    the Oniguruma named capture (?'kafka.log.trace.full'…) and the
    (?m)=dot-matches-newline ES dialect, stage 2 OVERWRITES message
    in place (keeping it when no [component] head matches — on_failure
    only sets component), stage 3 groks the captured stacktrace
    (`module/kafka/log/ingest/pipeline.yml`)."""
    from beats_spark.readers.multiline import merge_lines

    g1, g2, g3 = _grok_cfgs(MODULES / "kafka/log/ingest/pipeline.yml")
    ml = {"pattern": r"^\[", "negate": True, "match": "after"}

    def stage(df, grok, field):
        cfg = {
            "field": field,
            "patterns": grok["patterns"],
            "target_prefix": "",
            "anchored": False,  # ES grok searches (kafka ts after '[')
            "ignore_failure": True,
        }
        if grok.get("pattern_definitions"):
            cfg["pattern_definitions"] = grok["pattern_definitions"]
        return compile_one({"grok": cfg})(df)

    total = trace_checks = 0
    for log in sorted((MODULES / "kafka/log/test").glob("*.log")):
        expected = _expected(log)
        lines = log.read_text().splitlines()
        ldf = spark.createDataFrame(
            [("f", i, l) for i, l in enumerate(lines)],
            "source string, offset long, message string",
        )
        bundles = sorted(
            merge_lines(ldf, ml).select("first_offset", "message").collect(),
            key=lambda r: r.first_offset,
        )
        # server-2.0.0's expected file is truncated to the first 100
        assert len(bundles) >= len(expected), log.name
        msgs = [r.message for r in bundles[: len(expected)]]
        df = spark.createDataFrame(
            list(enumerate(msgs)), "idx long, message string"
        )
        df = stage(df, g1, "message")
        df = stage(df, g2, "message")
        df = stage(df, g3, "kafka.log.trace.full")
        cols = [F.col("idx")] + [
            field_col(df, f).alias(f"f{i}") for i, f in enumerate(KAFKA_FIELDS)
        ]
        rows = sorted(df.select(*cols).collect(), key=lambda r: r.idx)
        for i, (r, e) in enumerate(zip(rows, expected)):
            g = {f: r[f"f{j}"] for j, f in enumerate(KAFKA_FIELDS)}
            # the date processor consumes the raw capture — every event
            # must have produced one
            assert g["kafka.log.timestamp"] is not None, (log.name, i)
            for k in KAFKA_FIELDS[:-1]:
                want = e.get(k)
                got = g[k]
                if k == "kafka.log.component" and got is None:
                    got = "unknown"  # stage-2 on_failure sets it
                if want is None:
                    continue
                assert got == want, (log.name, i, k, got, want)
                total += 1
                if k.startswith("kafka.log.trace."):
                    trace_checks += 1
    assert total >= 600, total  # 670 measured across the 8 corpora
    # stacktrace path non-vacuous: server-2.0.0 carries the only
    # trace-bearing expected event (2 trace fields in the corpus set)
    assert trace_checks >= 2, trace_checks


# --- haproxy/log ----------------------------------------------------------

HAPROXY_FIELDS = [
    "haproxy.frontend_name", "haproxy.backend_name", "haproxy.server_name",
    "haproxy.bytes_read", "http.response.status_code",
    "haproxy.total_waiting_time_ms", "haproxy.connection_wait_time_ms",
    "haproxy.http.request.time_wait_ms",
    "haproxy.http.request.time_wait_without_data_ms",
    "haproxy.connections.active", "haproxy.connections.frontend",
    "haproxy.connections.backend", "haproxy.connections.server",
    "haproxy.connections.retries", "haproxy.server_queue",
    "haproxy.backend_queue", "haproxy.termination_state",
    "haproxy.http.request.raw_request_line",
    "haproxy.http.request.captured_cookie",
    "haproxy.http.response.captured_cookie",
    "haproxy.error_message", "haproxy.mode", "haproxy.source",
    "source.address", "source.port", "destination.ip", "destination.port",
    "process.name", "process.pid", "http.request.method", "url.original",
    "http.version", "source.ip", "haproxy.bind_name",
    "haproxy.http.request.captured_headers",
    "haproxy.http.response.captured_headers",
]


def test_grok_golden_haproxy_log(spark):
    """The largest grok battery after mysql: 4 first-match-wins main
    patterns (HAPROXY_DATE pattern_definitions, :long casts) + 3
    follow-up groks (raw_request_line → method/url/version,
    source/destination.address → .ip), all four corpora — http, tcp,
    default and no-headers lines (`module/haproxy/log/ingest/
    pipeline.yml`). captured_headers compare uses Java String.split
    semantics (trailing empties dropped), matching the ES split
    processor."""
    g_main, g_req, g_src, g_dst = _grok_cfgs(
        MODULES / "haproxy/log/ingest/pipeline.yml"
    )

    def stage(df, grok, field):
        cfg = {
            "field": field,
            "patterns": grok["patterns"],
            "target_prefix": "",
            "anchored": False,  # syslog-prefixed lines match mid-string
            "ignore_failure": True,
        }
        if grok.get("pattern_definitions"):
            cfg["pattern_definitions"] = grok["pattern_definitions"]
        return compile_one({"grok": cfg})(df)

    total = 0
    for log in sorted((MODULES / "haproxy/log/test").glob("*.log")):
        expected = _expected(log)
        lines = [l for l in log.read_text().splitlines() if l]
        assert len(lines) == len(expected), log.name
        df = spark.createDataFrame(
            list(enumerate(lines)), "idx long, message string"
        )
        df = stage(df, g_main, "message")
        df = stage(df, g_req, "haproxy.http.request.raw_request_line")
        df = stage(df, g_src, "source.address")
        df = stage(df, g_dst, "destination.address")
        cols = [F.col("idx")] + [
            field_col(df, f).alias(f"f{i}") for i, f in enumerate(HAPROXY_FIELDS)
        ]
        rows = sorted(df.select(*cols).collect(), key=lambda r: r.idx)
        checks = 0
        for i, (r, e) in enumerate(zip(rows, expected)):
            for j, k in enumerate(HAPROXY_FIELDS):
                want, got = e.get(k), r[f"f{j}"]
                if want is None or got is None:
                    continue
                if k.endswith("captured_headers"):
                    got = got.split("|")
                    while got and got[-1] == "":
                        got.pop()
                assert got == want, (log.name, i, k, got, want)
                checks += 1
        assert checks >= 4 * len(expected), (log.name, checks)
        total += checks
    assert total >= 350, total  # 380 measured across the 4 corpora


# --- elasticsearch/server (multiline + grok + ndjson) ----------------------

ES_PT_FIELDS = [
    "log.level",
    "elasticsearch.component",
    "elasticsearch.node.name",
    "elasticsearch.index.name",
    "message",
    "elasticsearch.server.timestamp",
]
# pipeline-json-7's dot_expander+rename chain, flattened
ES_J7_RENAMES = {
    "level": "log.level",
    "component": "elasticsearch.component",
    "cluster.name": "elasticsearch.cluster.name",
    "node.name": "elasticsearch.node.name",
    "cluster.uuid": "elasticsearch.cluster.uuid",
    "node.id": "elasticsearch.node.id",
}
# pipeline-json-8: the 8.x log IS ECS-keyed already
ES_J8_RENAMES = {
    "log.level": "log.level",
    "log.logger": "log.logger",
    "elasticsearch.cluster.name": "elasticsearch.cluster.name",
    "elasticsearch.node.name": "elasticsearch.node.name",
    "elasticsearch.cluster.uuid": "elasticsearch.cluster.uuid",
    "elasticsearch.node.id": "elasticsearch.node.id",
    "message": "message",
}


def _es_plaintext(spark, msgs):
    (grok_cfg,) = _grok_cfgs(
        MODULES / "elasticsearch/server/ingest/pipeline-plaintext.yml"
    )
    df = spark.createDataFrame(list(enumerate(msgs)), "idx long, message string")
    df = compile_one(
        {
            "grok": {
                "field": "message",
                "patterns": grok_cfg["patterns"],
                "pattern_definitions": grok_cfg.get("pattern_definitions"),
                "target_prefix": "",
                "anchored": False,
                "ignore_failure": True,
            }
        }
    )(df)
    cols = [F.col("idx")] + [
        field_col(df, f).alias(f"f{i}") for i, f in enumerate(ES_PT_FIELDS)
    ]
    rows = sorted(df.select(*cols).collect(), key=lambda r: r.idx)
    return [{f: r[f"f{i}"] for i, f in enumerate(ES_PT_FIELDS)} for r in rows]


def test_grok_golden_elasticsearch_server(spark):
    """The full module chain: multiline (config: negate on
    '^(\\[date|{)' heads) → route by first char → plaintext grok with
    GREEDYMULTILINE message overwrite (rewritten from the JVM-fatal
    (.|\\n)* idiom), or ndjson decode (decode_json_fields → map) +
    the json-7 renames + the json-7 index/GC grok
    (`module/elasticsearch/server/ingest/pipeline*.yml`)."""
    from beats_spark.readers.multiline import merge_lines

    ml = {"pattern": r"^(\[[0-9]{4}-[0-9]{2}-[0-9]{2}|\{)", "negate": True,
          "match": "after"}
    j7 = yaml.safe_load(
        (MODULES / "elasticsearch/server/ingest/pipeline-json-7.yml").read_text()
    )
    (j7_grok,) = [p["grok"] for p in j7["processors"] if "grok" in p]

    def bundles_of(log):
        lines = log.read_text().splitlines()
        ldf = spark.createDataFrame(
            [("f", i, l) for i, l in enumerate(lines)],
            "source string, offset long, message string",
        )
        return [
            r.message
            for r in sorted(
                merge_lines(ldf, ml).select("first_offset", "message").collect(),
                key=lambda r: r.first_offset,
            )
        ]

    total = 0
    # plaintext corpora
    for name in ("test.log", "elasticsearch.624.log"):
        log = MODULES / "elasticsearch/server/test" / name
        expected = _expected(log)
        msgs = bundles_of(log)
        assert len(msgs) >= len(expected), name
        got = _es_plaintext(spark, msgs[: len(expected)])
        checks = 0
        for i, (g, e) in enumerate(zip(got, expected)):
            assert g["elasticsearch.server.timestamp"] is not None, (name, i)
            for k in ES_PT_FIELDS[:-1]:
                want = e.get(k)
                if want is None or g[k] is None:
                    continue
                assert g[k] == want, (name, i, k, g[k], want)
                checks += 1
        assert checks >= 3 * len(expected), (name, checks)
        total += checks

    # ndjson corpora (7.x schema + 8.x mixed): decode through the
    # engine's decode_json_fields, then the json-7 grok on message
    for name in ("test-json.log", "elasticsearch-json.800.mixed.log"):
        log = MODULES / "elasticsearch/server/test" / name
        expected = _expected(log)
        msgs = bundles_of(log)[: len(expected)]
        df = spark.createDataFrame(
            list(enumerate(msgs)), "idx long, message string"
        )
        df = compile_one(
            {
                "decode_json_fields": {
                    "fields": ["message"],
                    "target": "server_json",
                    "schemas": {"message": "map<string,string>"},
                }
            }
        )(df)
        df = (
            df.withColumn("j7msg", F.col("server_json").getItem("message"))
            .withColumn("j7type", F.col("server_json").getItem("type"))
            # the j7 grok below overwrites top-level `message` (its
            # GREEDYMULTILINE capture) — keep the raw line for routing
            .withColumn("orig_message", F.col("message"))
        )
        df = compile_one(
            {
                "grok": {
                    "field": "j7msg",
                    "patterns": j7_grok["patterns"],
                    "pattern_definitions": j7_grok.get("pattern_definitions"),
                    "target_prefix": "",
                    "anchored": False,
                    "ignore_failure": True,
                }
            }
        )(df)
        plain = []
        json_fields = [
            "message", "elasticsearch.index.name", "elasticsearch.index.id"
        ]
        cols = [F.col("idx"), F.col("orig_message"), F.col("server_json"),
                F.col("j7type")] + [
            field_col(df, f).alias(f"g{i}") for i, f in enumerate(json_fields)
        ]
        rows = sorted(df.select(*cols).collect(), key=lambda r: r.idx)
        checks = 0
        for i, (r, e) in enumerate(zip(rows, expected)):
            if not r.orig_message.startswith("{"):
                plain.append((r.orig_message, e))
                continue
            d = r.server_json
            renames = ES_J7_RENAMES if r.j7type is not None else ES_J8_RENAMES
            for src, dst in renames.items():
                if src in d and dst in e:
                    assert d[src] == e[dst], (name, i, dst, d[src], e[dst])
                    checks += 1
            if r.j7type is not None:
                # grokked message strips the [index] / [index/id] head
                for j, k in enumerate(json_fields):
                    want = e.get(k)
                    if want is None or r[f"g{j}"] is None:
                        continue
                    assert r[f"g{j}"] == want, (name, i, k, r[f"g{j}"], want)
                    checks += 1
        if plain:  # mixed file: the non-json bundles ride plaintext
            got = _es_plaintext(spark, [m for m, _ in plain])
            for g, (_, e) in zip(got, plain):
                for k in ES_PT_FIELDS[:-1]:
                    want = e.get(k)
                    if want is None or g[k] is None:
                        continue
                    assert g[k] == want, (name, k, g[k], want)
                    checks += 1
        assert checks >= 3 * len(expected), (name, checks)
        total += checks
    assert total >= 550, total  # ~620 measured across the 4 corpora


# --- redis/log --------------------------------------------------------------

REDIS_LEVELS = {".": "debug", "-": "verbose", "*": "notice", "#": "warning"}
REDIS_ROLES = {"M": "master", "S": "slave", "C": "child", "X": "sentinel"}
REDIS_FIELDS = [
    "process.pid", "redis.log.role", "redis.log.timestamp",
    "log.level", "message",
]


def test_grok_golden_redis_log(spark):
    """5 redis corpora through the ENGINE's read_lines exclude_lines
    (the module input drops asciiart banner lines before parsing,
    `module/redis/log/config/log.yml` exclude_lines) then the module
    grok (empty-alternation timestamp branch, [.\\-*#] severity
    symbols); the pipeline's painless level/role symbol maps are
    applied to the comparison (`module/redis/log/ingest/pipeline.yml`).
    """
    from beats_spark.readers.lines import read_lines

    (g,) = _grok_cfgs(MODULES / "redis/log/ingest/pipeline.yml")
    total = 0
    for log in sorted((MODULES / "redis/log/test").glob("*.log")):
        expected = _expected(log)
        lines_df = read_lines(
            spark,
            str(log),
            exclude_lines=[r"^\s+[\-`('.|_]"],  # the module's asciiart drop
        ).filter(F.length("message") > 0)  # Message.IsEmpty drop
        ordered = sorted(lines_df.collect(), key=lambda r: r.offset)
        assert len(ordered) >= len(expected), log.name
        msgs = [r.message for r in ordered[: len(expected)]]
        df = spark.createDataFrame(
            list(enumerate(msgs)), "idx long, message string"
        )
        df = compile_one(
            {
                "grok": {
                    "field": "message",
                    "patterns": g["patterns"],
                    "pattern_definitions": g.get("pattern_definitions"),
                    "target_prefix": "",
                    "anchored": False,
                    "ignore_failure": True,
                }
            }
        )(df)
        cols = [F.col("idx")] + [
            field_col(df, f).alias(f"f{i}") for i, f in enumerate(REDIS_FIELDS)
        ]
        rows = sorted(df.select(*cols).collect(), key=lambda r: r.idx)
        checks = 0
        for i, (r, e) in enumerate(zip(rows, expected)):
            g2 = {f: r[f"f{j}"] for j, f in enumerate(REDIS_FIELDS)}
            g2["log.level"] = REDIS_LEVELS.get(g2["log.level"], g2["log.level"])
            g2["redis.log.role"] = REDIS_ROLES.get(
                g2["redis.log.role"], g2["redis.log.role"]
            )
            for k in REDIS_FIELDS:
                want = e.get(k)
                if want is None or g2[k] is None:
                    continue
                assert g2[k] == want, (log.name, i, k, g2[k], want)
                checks += 1
        assert checks >= 2 * len(expected), (log.name, checks)
        total += checks
    assert total >= 330, total  # 350 measured across the 5 corpora


# --- mongodb/log ------------------------------------------------------------


def test_grok_golden_mongodb_log(spark):
    """Both mongodb formats (`module/mongodb/log/ingest/`): 3.x
    plaintext grok (MONGO3_SEVERITY/COMPONENT, optional [context]) and
    4.4 structured logging decoded through decode_json_fields with the
    json-7-style rename map (s→log.level, c→component, ctx→context,
    msg→message)."""
    (g,) = _grok_cfgs(
        MODULES / "mongodb/log/ingest/pipeline-plaintext.yml"
    )
    log = MODULES / "mongodb/log/test/mongodb-debian-3.2.11.log"
    expected = _expected(log)
    lines = log.read_text().splitlines()
    assert len(lines) == len(expected)
    fields = ["log.level", "mongodb.log.component", "mongodb.log.context",
              "message", "mongodb.log.timestamp"]
    got = _run_grok(spark, lines, g, fields)
    checks = 0
    for i, (gg, e) in enumerate(zip(got, expected)):
        assert gg["mongodb.log.timestamp"] is not None, i
        for k in fields[:-1]:
            want = e.get(k)
            if want is None or gg[k] is None:
                continue
            assert gg[k] == want, (i, k, gg[k], want)
            checks += 1
    assert checks >= 3 * len(expected), checks

    # 4.4 structured logging (ndjson)
    jlog = MODULES / "mongodb/log/test/mongodb-ubuntu-4.4.4-json.log"
    jexp = _expected(jlog)
    jlines = jlog.read_text().splitlines()
    assert len(jlines) == len(jexp)
    df = spark.createDataFrame(list(enumerate(jlines)), "idx long, message string")
    df = compile_one(
        {
            "decode_json_fields": {
                "fields": ["message"],
                "target": "mlog",
                "schemas": {
                    "message": "struct<t struct<`$date` string>, s string, "
                    "c string, ctx string, msg string>"
                },
            }
        }
    )(df)
    rows = sorted(
        df.select("idx", "message", "mlog").collect(), key=lambda r: r.idx
    )
    jchecks = 0
    for r, e in zip(rows, jexp):
        m = r.mlog
        for got_v, key in (
            (m.s, "log.level"),
            (m.c, "mongodb.log.component"),
            (m.ctx, "mongodb.log.context"),
            (m.msg, "message"),
            (r.message, "event.original"),
        ):
            want = e.get(key)
            if want is None or got_v is None:
                continue
            assert got_v == want, (key, got_v, want)
            jchecks += 1
        assert m.t["$date"] is not None
    assert jchecks >= 4 * len(jexp), jchecks

# --- iis access + error ----------------------------------------------------

IIS_ACCESS_FIELDS = [
    "iis.access.time", "destination.address", "destination.port",
    "destination.domain", "http.request.method", "http.version",
    "http.response.status_code", "http.response.body.bytes",
    "http.request.body.bytes", "user.name", "source.address",
    "user_agent.original", "http.request.referrer", "iis.access.cookie",
    "iis.access.site_name", "iis.access.server_name",
    "iis.access.sub_status", "iis.access.win32_status",
    "network.forwarded_ip", "_tmp.url_path", "_tmp.url_query",
    "temp.duration",
]


def test_grok_golden_iis_access(spark):
    """IIS W3C access logs (`module/iis/access/ingest/pipeline.yml`):
    5 first-match-wins patterns made almost entirely of (?:-|%{...})
    per-column alternations (W3C '-' placeholders), with the module
    config's exclude_lines ^# comment filter (`config/iis-access.yml`).
    Cross-checks the pipeline's derived fields too: url.original =
    _tmp.url_path, url.query = urldecode(_tmp.url_query),
    user_agent.original urldecoded ('+'→space URLDecoder semantics),
    event.duration = temp.duration × 1e6, and @timestamp from
    iis.access.time (UTC, yyyy-MM-dd HH:mm:ss)."""
    from urllib.parse import unquote_plus

    (g_main, g_dst, g_src) = _grok_cfgs(
        MODULES / "iis/access/ingest/pipeline.yml"
    )
    total = 0
    for log in sorted((MODULES / "iis/access/test").glob("*.log")):
        expected = _expected(log)
        lines = [
            l for l in log.read_text().splitlines()
            if l and not l.startswith("#")  # config exclude_lines: ^#
        ]
        assert len(lines) == len(expected), log.name
        got = _run_grok(spark, lines, g_main, IIS_ACCESS_FIELDS)
        for i, (g, e) in enumerate(zip(got, expected)):
            assert g["iis.access.time"] is not None, (log.name, i)
            # @timestamp = date(iis.access.time), UTC
            want_ts = g["iis.access.time"].replace(" ", "T") + ".000Z"
            assert e["@timestamp"] == want_ts, (log.name, i)
            for k in IIS_ACCESS_FIELDS:
                want, gv = e.get(k), g[k]
                if gv is None:
                    continue
                if k == "_tmp.url_path":
                    want, k = e.get("url.original"), "url.original"
                elif k == "_tmp.url_query":
                    gv = unquote_plus(gv)
                    want, k = e.get("url.query"), "url.query"
                elif k == "temp.duration":
                    gv = gv * 1_000_000
                    want, k = e.get("event.duration"), "event.duration"
                elif k == "user_agent.original":
                    gv = unquote_plus(gv)
                elif k == "iis.access.time":
                    continue
                if want is None:
                    continue
                if isinstance(want, list) and not isinstance(gv, list):
                    # ES grok emits an array when one field name is
                    # captured at several pattern positions
                    assert gv in want, (log.name, i, k, gv, want)
                else:
                    assert gv == want, (log.name, i, k, gv, want)
                total += 1
            # NOZONEIP follow-up groks strip the %zone suffix
            for addr, ip in (
                ("destination.address", "destination.ip"),
                ("source.address", "source.ip"),
            ):
                if g[addr] is not None and e.get(ip) is not None:
                    assert g[addr].split("%")[0] == e[ip], (log.name, i, addr)
                    total += 1
    assert total >= 300, total  # 373 measured across the 6 corpora


IIS_ERROR_FIELDS = [
    "iis.error.time", "source.address", "source.port",
    "destination.address", "destination.port", "http.version",
    "http.request.method", "http.response.status_code",
    "iis.error.reason_phrase", "iis.error.queue_name", "_tmp.url_orig",
]


def test_grok_golden_iis_error(spark):
    """IIS HTTPERR logs (`module/iis/error/ingest/pipeline.yml`):
    2-pattern battery (13- vs 12-column variants), IPORHOST carrying
    IPv6 zone ids (::1%0) with the NOZONEIP '[^%]*' follow-up grok
    deriving source/destination.ip, and a :long cast on an IPORHOST
    capture (destination.port) — the reference's own quirk."""
    (g_main, g_dst, g_src) = _grok_cfgs(
        MODULES / "iis/error/ingest/pipeline.yml"
    )
    total = 0
    for log in sorted((MODULES / "iis/error/test").glob("*.log")):
        expected = _expected(log)
        lines = [
            l for l in log.read_text().splitlines()
            if l and not l.startswith("#")
        ]
        assert len(lines) == len(expected), log.name
        got = _run_grok(spark, lines, g_main, IIS_ERROR_FIELDS)
        for i, (g, e) in enumerate(zip(got, expected)):
            assert g["iis.error.time"] is not None, (log.name, i)
            want_ts = g["iis.error.time"].replace(" ", "T") + ".000Z"
            assert e["@timestamp"] == want_ts, (log.name, i)
            for k in IIS_ERROR_FIELDS:
                want, gv = e.get(k), g[k]
                if gv is None or k == "iis.error.time":
                    continue
                if k == "_tmp.url_orig":
                    want, k = e.get("url.original"), "url.original"
                if isinstance(want, int) and isinstance(gv, str):
                    gv = int(gv)  # IPORHOST:...:long quirk
                if want is None:
                    continue
                assert gv == want, (log.name, i, k, gv, want)
                total += 1
            for addr, ip in (
                ("destination.address", "destination.ip"),
                ("source.address", "source.ip"),
            ):
                if g[addr] is not None and e.get(ip) is not None:
                    assert g[addr].split("%")[0] == e[ip], (log.name, i, addr)
                    total += 1
    assert total >= 60, total


# --- system/auth (header grok → delegated auth-messages grok → PAM grok) ---

AUTH_STAGE2_FIELDS = [
    "system.auth.ssh.event", "system.auth.ssh.method",
    "system.auth.ssh.signature", "system.auth.ssh.dropped_ip",
    "system.auth.sudo.error", "system.auth.sudo.tty",
    "system.auth.sudo.pwd", "system.auth.sudo.user",
    "system.auth.sudo.command", "user.name", "user.id",
    "source.address", "source.port", "group.name", "group.id",
    "system.auth.useradd.home", "system.auth.useradd.shell",
]
AUTH_FIELDS = (
    ["system.auth.timestamp", "host.hostname", "process.name",
     "process.pid", "_temp.message"]
    + AUTH_STAGE2_FIELDS
    + ["_temp.foruser", "_temp.byuser", "_temp.byuid", "_temp.user"]
)


def test_grok_golden_system_auth(spark):
    """system/auth (`module/system/auth/ingest/files.yml` +
    `grok-auth-messages.yml`): header grok (TIMESTAMP/SYSLOGHOST +
    GREEDYMULTILINE defs) → delegated auth-messages grok battery (ssh
    accepted/failed/invalid, sudo with unnamed optional error group,
    useradd/groupadd) whose on_failure renames the unmatched tail into
    `message` → PAM user grok with QUOTE/BOUNDARY pattern_definitions
    (the (?<! ) lookbehind). The ES rename chain (byuser→user.name,
    foruser→user.name-or-user.effective.name, sudo.user→
    user.effective.name, dropped_ip/source.address→source.ip) is
    applied row-side and every surviving key compared against the
    module's *-expected.json (1000-line corpora truncated to the
    reference's own first-100 expected events)."""
    files_yml = yaml.safe_load(
        (MODULES / "system/auth/ingest/files.yml").read_text()
    )
    groks = [p["grok"] for p in files_yml["processors"] if "grok" in p]
    g_header, g_pam = groks[0], groks[1]
    (g_auth,) = _grok_cfgs(MODULES / "system/auth/ingest/grok-auth-messages.yml")

    def stage(df, grok, field):
        cfg = {
            "field": field,
            "patterns": grok["patterns"],
            "target_prefix": "",
            "anchored": False,
            "ignore_failure": True,
        }
        if grok.get("pattern_definitions"):
            cfg["pattern_definitions"] = grok["pattern_definitions"]
        return compile_one({"grok": cfg})(df)

    total = pam_checks = 0
    for name in ["test.log", "secure-rhel7.log", "auth-ubuntu1204.log",
                 "timestamp.log"]:
        log = MODULES / "system/auth/test" / name
        expected = _expected(log)
        lines = [l for l in log.read_text().splitlines() if l]
        assert len(lines) >= len(expected), name
        df = spark.createDataFrame(
            list(enumerate(lines[: len(expected)])), "idx long, message string"
        )
        df = stage(df, g_header, "message")
        df = stage(df, g_auth, "_temp.message")
        df = stage(df, g_pam, "_temp.message")
        cols = [F.col("idx")] + [
            field_col(df, f).alias(f"f{i}") for i, f in enumerate(AUTH_FIELDS)
        ]
        rows = sorted(df.select(*cols).collect(), key=lambda r: r.idx)
        for i, (r, e) in enumerate(zip(rows, expected)):
            g = {f: r[f"f{j}"] for j, f in enumerate(AUTH_FIELDS)}
            assert g["system.auth.timestamp"] is not None, (name, i)
            matched2 = any(g[f] is not None for f in AUTH_STAGE2_FIELDS)
            derived = {k: g[k] for k in AUTH_STAGE2_FIELDS + [
                "host.hostname", "process.name", "process.pid"]}
            if matched2:
                # delegated grok matched: message never set, PAM skipped
                derived["message"] = None
            else:
                derived["message"] = g["_temp.message"]
                # rename chain (files.yml): byuser→user.name,
                # byuid→user.id, foruser fills user.name else
                # user.effective.name, _temp.user last resort
                if g["_temp.byuser"] is not None:
                    derived["user.name"] = g["_temp.byuser"]
                    if g["_temp.foruser"] is not None:
                        derived["user.effective.name"] = g["_temp.foruser"]
                elif g["_temp.foruser"] is not None:
                    derived["user.name"] = g["_temp.foruser"]
                elif g["_temp.user"] is not None:
                    derived["user.name"] = g["_temp.user"]
                if g["_temp.byuid"] is not None:
                    derived["user.id"] = g["_temp.byuid"]
            if g["system.auth.sudo.user"] is not None:
                derived["user.effective.name"] = g["system.auth.sudo.user"]
            # convert: source.address→source.ip, dropped_ip→source.ip
            ip = g["system.auth.ssh.dropped_ip"] or g["source.address"]
            if ip is not None and e.get("source.ip") is not None:
                assert ip == e["source.ip"], (name, i)
                total += 1
            for k, gv in derived.items():
                want = e.get(k)
                if gv is None or want is None:
                    continue
                if isinstance(want, int) and isinstance(gv, str):
                    gv = int(gv)
                assert gv == want, (name, i, k, gv, want)
                total += 1
                if not matched2 and k.startswith("user."):
                    pam_checks += 1
    assert total >= 900, total
    assert pam_checks >= 40, pam_checks  # PAM-path users non-vacuous


# --- logstash log + slowlog ------------------------------------------------


def test_grok_golden_logstash(spark):
    """logstash module, both formats: plain logs replay the config's
    multiline ('^((\\[date])|({.+}))' negate:after, `config/log.yml`)
    into the 3-pattern plaintext grok whose GREEDYMULTILINE def embeds
    a REAL newline in the alternation ('(.|\\n)*' with a literal LF —
    the YAML |- block form), exercising the (.|\\n)→(?s:) JVM rewrite
    on that variant; slowlog chains 3 groks (main → module-name split
    → ruby-hash plugin_params/took split); the json format decodes
    through decode_json_fields with the pipeline-json rename map
    (`module/logstash/log/ingest/pipeline-json.yml`)."""
    from beats_spark.readers.multiline import merge_lines

    (g_log,) = _grok_cfgs(MODULES / "logstash/log/ingest/pipeline-plaintext.yml")
    g_slow, g_mod, g_par = _grok_cfgs(
        MODULES / "logstash/slowlog/ingest/pipeline-plaintext.yml"
    )
    ml = {
        "pattern": r"^((\[[0-9]{4}-[0-9]{2}-[0-9]{2}[^\]]+\])|({.+}))",
        "negate": True,
        "match": "after",
    }
    total = 0
    # plain logs: multiline → grok
    for name in ["logstash-plain.log", "logstash-plain-7.4.log"]:
        log = MODULES / "logstash/log/test" / name
        expected = _expected(log)
        lines = log.read_text().splitlines()
        ldf = spark.createDataFrame(
            [("f", i, l) for i, l in enumerate(lines)],
            "source string, offset long, message string",
        )
        bundles = sorted(
            merge_lines(ldf, ml).select("first_offset", "message").collect(),
            key=lambda r: r.first_offset,
        )
        assert len(bundles) == len(expected), name
        fields = ["logstash.log.timestamp", "log.level", "logstash.log.module",
                  "logstash.log.pipeline_id", "logstash.log.plugin_id",
                  "message"]
        got = _run_grok(spark, [b.message for b in bundles], g_log, fields)
        for i, (g, e) in enumerate(zip(got, expected)):
            assert g["logstash.log.timestamp"] is not None, (name, i)
            # @timestamp = timestamp with ',' millis + event.timezone
            want_ts = g["logstash.log.timestamp"].replace(",", ".")
            assert e["@timestamp"].startswith(want_ts), (name, i)
            for k in fields[1:]:
                want = e.get(k)
                if want is None or g[k] is None:
                    continue
                assert g[k] == want, (name, i, k, g[k], want)
                total += 1
    # slowlog plain: 3-stage grok chain
    log = MODULES / "logstash/slowlog/test/slowlog-plain.log"
    expected = _expected(log)
    lines = [l for l in log.read_text().splitlines() if l]
    assert len(lines) == len(expected)
    df = spark.createDataFrame(list(enumerate(lines)), "idx long, message string")

    def stage(df, grok, field):
        cfg = {"field": field, "patterns": grok["patterns"],
               "target_prefix": "", "anchored": False, "ignore_failure": True}
        if grok.get("pattern_definitions"):
            cfg["pattern_definitions"] = grok["pattern_definitions"]
        return compile_one({"grok": cfg})(df)

    df = stage(df, g_slow, "message")
    df = stage(df, g_mod, "logstash.slowlog.module")
    df = stage(df, g_par, "message")
    slow_fields = ["logstash.slowlog.timestamp", "log.level",
                   "logstash.slowlog.module", "logstash.slowlog.plugin_type",
                   "logstash.slowlog.plugin_name",
                   "logstash.slowlog.plugin_params", "event.duration",
                   "logstash.slowlog.took_in_millis", "logstash.slowlog.event"]
    cols = [F.col("idx")] + [
        field_col(df, f).alias(f"f{i}") for i, f in enumerate(slow_fields)
    ]
    rows = sorted(df.select(*cols).collect(), key=lambda r: r.idx)
    for i, (r, e) in enumerate(zip(rows, expected)):
        for j, k in enumerate(slow_fields):
            want, gv = e.get(k), r[f"f{j}"]
            if k == "logstash.slowlog.timestamp":
                assert gv is not None and e["@timestamp"].startswith(
                    gv.replace(",", ".")
                ), (i, gv)
                continue
            if want is None or gv is None:
                continue
            if isinstance(want, int) and isinstance(gv, str):
                gv = int(gv)
            assert gv == want, (i, k, gv, want)
            total += 1
    # json format: decode_json_fields + pipeline-json rename map
    jlog = MODULES / "logstash/log/test/logstash-json.log"
    jexp = _expected(jlog)
    jlines = [l for l in jlog.read_text().splitlines() if l]
    assert len(jlines) == len(jexp)
    jdf = spark.createDataFrame(list(enumerate(jlines)), "idx long, message string")
    jdf = compile_one(
        {
            "decode_json_fields": {
                "fields": ["message"],
                "target": "jlog",
                "schemas": {
                    "message": "struct<timeMillis long, level string, "
                    "loggerName string, `logEvent` struct<message string>>"
                },
            }
        }
    )(jdf)
    jrows = sorted(jdf.select("idx", "jlog").collect(), key=lambda r: r.idx)
    for r, e in zip(jrows, jexp):
        m = r.jlog
        for gv, key in ((m.level, "log.level"),
                        (m.loggerName, "logstash.log.module"),
                        (m.logEvent.message, "message")):
            want = e.get(key)
            if want is None or gv is None:
                continue
            assert gv == want, (key, gv, want)
            total += 1
        assert m.timeMillis is not None
    assert total >= 30, total


# --- nats/log --------------------------------------------------------------

NATS_LEVELS = {"INF": "info", "DBG": "debug", "WRN": "warning",
               "ERR": "error", "FTL": "fatal", "TRC": "trace"}
NATS_TYPES = {"MSG": "message", "PUB": "publish", "SUB": "subscribe",
              "UNSUB": "unsubscribe", "MSG_PAYLOAD": "payload",
              "-ERROR": "error", "PING": "ping", "PONG": "pong",
              "OK": "acknowledge", "CONNECT": "connection",
              "INFO": "information"}
NATS_DIRECTION = {"<<-": "inbound", "->>": "outbound"}


def test_grok_golden_nats_log(spark):
    """nats/log (`module/nats/log/ingest/pipeline.yml`): 3-stage grok
    fan-in — header ([pid] time [LVL] info), client-line split
    (ip:port - cid:N - msg), then a 9-pattern protocol battery
    (MSG/PUB/SUB/UNSUB/CONNECT/INFO/PING…) built from
    pattern_definitions that reference each other (NATSCONNECTION =
    %{NATSCONNECT}|%{NATSINFO}), including the reference's own broken
    9th pattern (unclosed %{...\\]} brace — Oniguruma keeps it literal,
    as does our post-expansion brace escape). The painless level /
    msg-type / direction maps are applied row-side."""
    g_head, g_client, g_msg = _grok_cfgs(MODULES / "nats/log/ingest/pipeline.yml")
    log = MODULES / "nats/log/test/test.log"
    expected = _expected(log)
    lines = [l for l in log.read_text().splitlines() if l]
    assert len(lines) == len(expected)
    df = spark.createDataFrame(list(enumerate(lines)), "idx long, message string")

    def stage(df, grok, field):
        cfg = {"field": field, "patterns": grok["patterns"],
               "target_prefix": "", "anchored": False, "ignore_failure": True}
        if grok.get("pattern_definitions"):
            cfg["pattern_definitions"] = grok["pattern_definitions"]
        return compile_one({"grok": cfg})(df)

    df = stage(df, g_head, "message")
    df = stage(df, g_client, "nats.log.info")
    df = stage(df, g_msg, "nats.log.msg.info")
    fields = ["nats.log.timestamp", "process.pid", "log.level",
              "client.ip", "client.port", "nats.log.client.id",
              "network.direction", "nats.log.msg.type",
              "nats.log.msg.subject", "nats.log.msg.sid",
              "nats.log.msg.reply_to", "nats.log.msg.bytes",
              "nats.log.msg.data", "nats.log.msg.payload"]
    cols = [F.col("idx")] + [
        field_col(df, f).alias(f"f{i}") for i, f in enumerate(fields)
    ]
    rows = sorted(df.select(*cols).collect(), key=lambda r: r.idx)
    total = 0
    for i, (r, e) in enumerate(zip(rows, expected)):
        g = {f: r[f"f{j}"] for j, f in enumerate(fields)}
        assert g["nats.log.timestamp"] is not None, i
        # @timestamp = date(yyyy/MM/dd HH:mm:ss.SSSSSS) — micros kept
        # at millisecond precision by ES
        ts = g["nats.log.timestamp"].replace("/", "-").replace(" ", "T")
        assert e["@timestamp"].startswith(ts[:23]), (i, ts, e["@timestamp"])
        g["log.level"] = NATS_LEVELS.get(g["log.level"], g["log.level"])
        if g["nats.log.msg.type"] is not None:
            g["nats.log.msg.type"] = NATS_TYPES.get(
                g["nats.log.msg.type"], g["nats.log.msg.type"])
        if g["network.direction"] is not None:
            g["network.direction"] = NATS_DIRECTION[g["network.direction"]]
        # rename: msg.data → message (payload removed)
        g["message"] = g.pop("nats.log.msg.data")
        g.pop("nats.log.msg.payload")
        g.pop("nats.log.timestamp")
        for k, gv in g.items():
            want = e.get(k)
            if gv is None or want is None:
                continue
            assert gv == want, (i, k, gv, want)
            total += 1
        if e.get("related.ip") is not None and g["client.ip"] is not None:
            assert g["client.ip"] in e["related.ip"], i
            total += 1
    assert total >= 80, total  # ~5 checked fields/event over 18 events


# --- pensando/dfw + santa/log ---------------------------------------------

SANTA_FIELDS = [
    "process.start", "timestamp", "log.level", "santa.action",
    "santa.decision", "santa.reason", "process.hash.sha256",
    "process.executable", "santa.args", "santa.certificate.sha256",
    "santa.certificate.common_name", "process.pid", "process.parent.pid",
    "user.id", "user.name", "group.id", "group.name", "santa.mode",
    "santa.disk.mount", "santa.disk.volume", "santa.disk.bsdname",
    "santa.disk.fs", "santa.disk.model", "santa.disk.serial",
    "santa.disk.bus", "santa.disk.dmgpath",
]


def test_grok_golden_santa_log(spark):
    """Google Santa (`module/santa/log/ingest/pipeline.yml`): 2-pattern
    grok (exec-decision vs disk-mount lines) over a NOT_SEPARATOR
    '[^\\|]+' pattern_definition with optional trailing groups, :long
    casts, and the args split → process.args append chain replayed
    row-side ([executable] + split(santa.args))."""
    (g,) = _grok_cfgs(MODULES / "santa/log/ingest/pipeline.yml")
    log = MODULES / "santa/log/test/santa.log"
    expected = _expected(log)
    lines = [l for l in log.read_text().splitlines() if l]
    assert len(lines) == len(expected)
    got = _run_grok(spark, lines, g, SANTA_FIELDS)
    total = 0
    for i, (g_, e) in enumerate(zip(got, expected)):
        ts = g_["process.start"] or g_["timestamp"]
        assert ts is not None, i
        assert e["@timestamp"] == ts, (i, ts)
        args = [g_["process.executable"]] if g_["process.executable"] else []
        if g_["santa.args"]:
            args += g_["santa.args"].split(" ")
        if e.get("process.args") is not None:
            assert args == e["process.args"], (i, args)
            total += 1
        for k in SANTA_FIELDS:
            if k in ("process.start", "timestamp", "santa.args"):
                continue
            want, gv = e.get(k), g_[k]
            if gv is None or want is None:
                continue
            assert gv == want, (i, k, gv, want)
            total += 1
        # cert_cn flows into file.x509.issuer.common_name too
        if g_["santa.certificate.common_name"] is not None and \
                e.get("file.x509.issuer.common_name") is not None:
            assert g_["santa.certificate.common_name"] == \
                e["file.x509.issuer.common_name"], i
            total += 1
    assert total >= 100, total


def test_grok_golden_pensando_dfw(spark):
    """Pensando DFW (`module/pensando/dfw/ingest/pipeline.yml`):
    RFC5424 header grok using the SYSLOG5424PRI composite (a library
    pattern carrying its own named capture) + SYSLOG5424PRINTASCII /
    NONNEGINT, bracketed JSON payload → decode_json_fields with
    dash-keyed fields (rule-id, session-id), rename map replayed
    row-side."""
    (g,) = _grok_cfgs(MODULES / "pensando/dfw/ingest/pipeline.yml")
    log = MODULES / "pensando/dfw/test/test.log"
    expected = _expected(log)
    lines = [l for l in log.read_text().splitlines() if l]
    assert len(lines) == len(expected)
    df = spark.createDataFrame(list(enumerate(lines)), "idx long, message string")
    df = compile_one(
        {
            "grok": {
                "field": "message",
                "patterns": g["patterns"],
                "target_prefix": "",
                "anchored": False,
                "ignore_failure": True,
            }
        }
    )(df)
    df = compile_one(
        {
            "decode_json_fields": {
                "fields": ["payload_raw"],
                "target": "json",
                "schemas": {
                    "payload_raw": "struct<time string, destaddr string, "
                    "destport long, srcaddr string, srcport long, "
                    "protocol string, action string, direction string, "
                    "`rule-id` long, `session-id` long, "
                    "`session-state` string>"
                },
            }
        }
    )(df)
    rows = sorted(
        df.select(
            "idx", "message",
            field_col(df, "syslog5424_pri").alias("pri"),
            field_col(df, "syslog5424_ts").alias("ts"),
            "json",
        ).collect(),
        key=lambda r: r.idx,
    )
    total = 0
    renames = {
        "action": "pensando.dfw.action",
        "destaddr": "pensando.dfw.destination_address",
        "destport": "pensando.dfw.destination_port",
        "direction": "pensando.dfw.direction",
        "protocol": "pensando.dfw.protocol",
        "srcaddr": "pensando.dfw.source_address",
        "srcport": "pensando.dfw.source_port",
        "rule-id": "pensando.dfw.rule_id",
        "session-id": "pensando.dfw.session_id",
        "session-state": "pensando.dfw.session_state",
    }
    for r, e in zip(rows, expected):
        assert r.pri == "14" and r.ts is not None
        assert r.message == e["event.original"]
        j = r.json.asDict()
        for src, dst in renames.items():
            want, gv = e.get(dst), j.get(src)
            if want is None or gv is None:
                continue
            assert gv == want, (dst, gv, want)
            total += 1
        # derived ECS twins
        assert j["destaddr"] == e["destination.address"]
        assert j["srcaddr"] == e["source.address"]
        assert str(j["rule-id"]) == e["rule.id"]
        total += 3
    assert total >= 35, total


# --- auditd/log (grok prefix battery + kv splitter) ------------------------

AUDITD_HEX_KEYS = {
    "exe", "cmd", "data", "path", "comm", "file", "name", "watch", "cwd",
    "acct", "dir", "vm", "old-chardev", "new-chardev", "old-disk",
    "new-disk", "old-fs", "new-fs", "old-net", "new-net", "device",
    "cgroup", "apparmor", "operation", "denied_mask", "info", "profile",
    "requested_mask", "old-rng", "new-rng", "ocomm", "grp", "new_group",
    "invalid_context", "sw", "root_dir", "proctitle",
}


def _auditd_hex(v: str) -> str:
    """convertHexToString from the module's painless script: decode
    only when some byte needs caret-encoding or is a space/quote/DEL;
    control chars become ^X (cp^64)."""
    if not v or len(v) % 2 or any(c not in "0123456789abcdefABCDEF" for c in v):
        return v
    out, needed = [], False
    for i in range(0, len(v) - 1, 2):
        cp = int(v[i : i + 2], 16)
        if cp < 33 or cp == 34 or cp == 127:
            needed = True
        if cp < 32 or cp == 127:
            out.append("^")
            cp ^= 64
        out.append(chr(cp))
    return "".join(out) if needed else v


def _auditd_norm(kv: dict) -> dict:
    out = {}
    for k, v in kv.items():
        if v in ("?", "(null)", ""):
            continue
        if k in AUDITD_HEX_KEYS:
            v = _auditd_hex(v)
        if v[:1] in "'\"":
            v = v[1:]
        if v[-1:] in "'\"":
            v = v[:-1]
        if k == "arch" and v == "c000003e":
            v = "x86_64"
        out[k.replace("-", "_") if k in ("old-auid", "old-ses") else k] = v
    return out


def test_grok_golden_auditd_log(spark):
    """auditd (`module/auditd/log/ingest/pipeline.yml`): the 5-pattern
    AUDIT_PREFIX grok (nested pattern_definitions, optional node=,
    epoch:sequence) feeds the ES `kv` processor twice — field_split
    with a negative lookahead ('\\s(?![\\w\"]+?(\\s+|$))' keeps
    unquoted values with spaces whole), value_split with a lookbehind
    ((?<!\\\\)=) — exercising our kv processor's JVM split semantics on
    all 10 corpora. The painless normalization (drop ?/(null), hex→
    ASCII for the go-libaudit key list, quote trim, arch map) is
    replayed row-side; every expected auditd.log.* key must match, plus
    the direct ECS renames (pid/uid/auid/ses, cwd, hex-decoded cmd →
    process.args) and the UNIX-epoch @timestamp."""
    import datetime

    g = _grok_cfgs(MODULES / "auditd/log/ingest/pipeline.yml")[0]
    kv_cfgs = [
        p["kv"]
        for p in yaml.safe_load(
            (MODULES / "auditd/log/ingest/pipeline.yml").read_text()
        )["processors"]
        if "kv" in p
    ]
    assert len(kv_cfgs) == 2
    total = hex_checks = 0
    for log in sorted((MODULES / "auditd/log/test").glob("*.log")):
        expected = _expected(log)
        lines = [l for l in log.read_text().splitlines() if l]
        df = spark.createDataFrame(
            list(enumerate(lines[: len(expected)])), "idx long, message string"
        )
        df = compile_one(
            {
                "grok": {
                    "field": "message",
                    "patterns": g["patterns"],
                    "pattern_definitions": g["pattern_definitions"],
                    "target_prefix": "",
                    "anchored": False,
                    "ignore_failure": True,
                }
            }
        )(df)
        for cfg, tgt in zip(kv_cfgs, ("_kv1", "_kv2")):
            df = compile_one(
                {
                    "kv": {
                        "field": cfg["field"],
                        "target_field": tgt,
                        "field_split": cfg["field_split"],
                        "value_split": cfg["value_split"],
                        "ignore_missing": True,
                    }
                }
            )(df)
        fields = ["auditd.log.record_type", "auditd.log.node",
                  "auditd.log.epoch", "auditd.log.sequence"]
        cols = [F.col("idx"), F.col("_kv1"), F.col("_kv2")] + [
            field_col(df, f).alias(f"f{i}") for i, f in enumerate(fields)
        ]
        rows = sorted(df.select(*cols).collect(), key=lambda r: r.idx)
        for i, (r, e) in enumerate(zip(rows, expected)):
            want_rt = e.get("auditd.log.record_type")
            if want_rt is not None:
                assert r.f0 == want_rt, (log.name, i)
            else:
                # some record types fold into event.action and are
                # removed (e.g. MAC_IPSEC_EVENT → mac_ipsec_event)
                assert r.f0 is not None, (log.name, i)
                if isinstance(e.get("event.action"), str):
                    assert r.f0.lower() == e["event.action"], (log.name, i)
            assert int(r.f3) == e["auditd.log.sequence"], (log.name, i)
            if e.get("auditd.log.node") is not None:
                assert r.f1 == e["auditd.log.node"], (log.name, i)
            # @timestamp = date(epoch, UNIX) at millisecond precision
            ts = datetime.datetime.fromtimestamp(
                float(r.f2), datetime.timezone.utc
            )
            want_ts = ts.strftime("%Y-%m-%dT%H:%M:%S.") + (
                "%03dZ" % round(ts.microsecond / 1000)
            )
            assert e["@timestamp"] == want_ts, (log.name, i, want_ts)
            total += 3
            merged = _auditd_norm({**(r._kv1 or {}), **(r._kv2 or {})})
            for k, want in e.items():
                if k.startswith("auditd.log.") and k not in (
                    "auditd.log.record_type", "auditd.log.sequence",
                    "auditd.log.epoch", "auditd.log.node",
                    "auditd.log.kv", "auditd.log.sub_kv",
                ):
                    short = k[len("auditd.log."):]
                    gv = merged.get(short)
                    if gv is None:
                        continue  # keys produced by later ECS stages
                    if isinstance(want, int):
                        gv = int(gv)
                    if isinstance(want, list):
                        # ES kv accumulates duplicate keys into arrays;
                        # our map keeps one (LAST_WIN) — membership
                        assert gv in want, (log.name, i, k, gv, want)
                    else:
                        assert gv == want, (log.name, i, k, gv, want)
                    total += 1
            # direct ECS renames
            # (uid→user.id is record-type-dependent in the go-libaudit
            # table — USER_* events take user.id from auid — so only
            # the stable renames are asserted)
            for src, dst in (("pid", "process.pid"),
                             ("auid", "user.audit.id"), ("ses", "auditd.log.ses"),
                             ("cwd", "process.working_directory"),
                             ("exe", "process.executable"),
                             ("comm", "process.name")):
                want, gv = e.get(dst), merged.get(src)
                if want is None or gv is None:
                    continue
                if isinstance(want, int):
                    gv = int(gv)
                assert gv == want, (log.name, i, dst, gv, want)
                total += 1
                if src in ("cwd", "exe", "comm"):
                    hex_checks += 1
            # hex-decoded cmd → space-split process.args
            if merged.get("cmd") is not None and e.get("process.args"):
                assert merged["cmd"].split(" ") == e["process.args"], (
                    log.name, i, merged["cmd"])
                total += 1
                hex_checks += 1
    assert total >= 1000, total
    assert hex_checks >= 20, hex_checks  # hex-decode path non-vacuous


# --- osquery/result + kibana/log (ndjson pipelines) ------------------------


def test_grok_golden_osquery_result(spark):
    """osquery/result (`module/osquery/result/ingest/pipeline.json`):
    pure ndjson decode — dynamic `columns`/`decorations` objects land
    as map<string,string> (the Spark analog of ES dynamic keys), the
    snake_case rename map (hostIdentifier→host_identifier, …) and the
    UNIX-seconds unixTime → @timestamp replayed against all 4 corpora."""
    import datetime

    total = 0
    for log in sorted((MODULES / "osquery/result/test").glob("*.log")):
        expected = _expected(log)
        lines = [l for l in log.read_text().splitlines() if l]
        # darwin corpus: expected truncated to the first 100 events
        assert len(lines) >= len(expected), log.name
        df = spark.createDataFrame(
            list(enumerate(lines[: len(expected)])), "idx long, message string"
        )
        df = compile_one(
            {
                "decode_json_fields": {
                    "fields": ["message"],
                    "target": "oq",
                    "schemas": {
                        "message": "struct<name string, hostIdentifier "
                        "string, calendarTime string, unixTime string, "
                        "epoch string, counter string, action string, "
                        "columns map<string,string>, "
                        "decorations map<string,string>>"
                    },
                }
            }
        )(df)
        rows = sorted(df.select("idx", "oq").collect(), key=lambda r: r.idx)
        for i, (r, e) in enumerate(zip(rows, expected)):
            o = r.oq
            for gv, key in (
                (o.name, "osquery.result.name"),
                (o.action, "osquery.result.action"),
                (o.calendarTime, "osquery.result.calendar_time"),
                (o.hostIdentifier, "osquery.result.host_identifier"),
                (o.epoch, "osquery.result.epoch"),
                (o.counter, "osquery.result.counter"),
                (o.unixTime, "osquery.result.unix_time"),
            ):
                want = e.get(key)
                if want is None or gv is None:
                    continue
                if isinstance(want, int):
                    gv = int(gv)
                assert gv == want, (log.name, i, key, gv, want)
                total += 1
            for k, v in (o.columns or {}).items():
                want = e.get(f"osquery.result.columns.{k}")
                if want is not None:
                    assert v == want, (log.name, i, k, v, want)
                    total += 1
            if o.unixTime is not None:
                ts = datetime.datetime.fromtimestamp(
                    int(o.unixTime), datetime.timezone.utc
                )
                assert e["@timestamp"] == ts.strftime(
                    "%Y-%m-%dT%H:%M:%S.000Z"
                ), (log.name, i)
                total += 1
    assert total >= 400, total


def test_grok_golden_kibana_log(spark):
    """kibana/log, both generations: 6.x json (84-event 624 corpus —
    message/state/pid extracted, leftovers under kibana.log.meta, tags
    compared as sets) and the 8.x ECS-keyed stream (830 corpus —
    nested http request/response structs surfacing as the flattened
    http.* expected keys) (`module/kibana/log/ingest/`)."""
    log = MODULES / "kibana/log/test/log.624.log"
    expected = _expected(log)
    lines = [l for l in log.read_text().splitlines() if l]
    assert len(lines) == len(expected)
    df = spark.createDataFrame(list(enumerate(lines)), "idx long, message string")
    df = compile_one(
        {
            "decode_json_fields": {
                "fields": ["message"],
                "target": "kb",
                "schemas": {
                    "message": "struct<type string, tags array<string>, "
                    "pid long, state string, message string, "
                    "prevState string, prevMsg string>"
                },
            }
        }
    )(df)
    rows = sorted(df.select("idx", "kb").collect(), key=lambda r: r.idx)
    total = 0
    for i, (r, e) in enumerate(zip(rows, expected)):
        k = r.kb
        for gv, key in ((k.message, "message"),
                        (k.state, "kibana.log.state"),
                        (k.pid, "process.pid"),
                        (k.type, "kibana.log.meta.type"),
                        (k.prevState, "kibana.log.meta.prevState"),
                        (k.prevMsg, "kibana.log.meta.prevMsg")):
            want = e.get(key)
            if want is None or gv is None:
                continue
            assert gv == want, (i, key, gv, want)
            total += 1
        if k.tags is not None and e.get("kibana.log.tags") is not None:
            assert sorted(k.tags) == sorted(e["kibana.log.tags"]), i
            total += 1
    # 8.x ECS-keyed corpus
    log = MODULES / "kibana/log/test/log.830.log"
    expected = _expected(log)
    lines = [l for l in log.read_text().splitlines() if l]
    assert len(lines) == len(expected)
    df = spark.createDataFrame(list(enumerate(lines)), "idx long, message string")
    df = compile_one(
        {
            "decode_json_fields": {
                "fields": ["message"],
                "target": "kb",
                "schemas": {
                    "message": "struct<http struct<request struct<"
                    "id string, method string>, response struct<"
                    "body struct<bytes long>, status_code long>>, "
                    "url struct<path string>, message string, "
                    "log struct<level string, logger string>>"
                },
            }
        }
    )(df)
    rows = sorted(df.select("idx", "kb").collect(), key=lambda r: r.idx)
    for i, (r, e) in enumerate(zip(rows, expected)):
        k = r.kb
        checks = (
            (k.http.request.id if k.http and k.http.request else None,
             "http.request.id"),
            (k.http.request.method if k.http and k.http.request else None,
             "http.request.method"),
            (k.http.response.status_code if k.http and k.http.response
             else None, "http.response.status_code"),
            (k.http.response.body.bytes if k.http and k.http.response
             and k.http.response.body else None, "http.response.body.bytes"),
            (k.url.path if k.url else None, "url.path"),
            (k.message, "message"),
            (k.log.level if k.log else None, "log.level"),
        )
        for gv, key in checks:
            want = e.get(key)
            if want is None or gv is None:
                continue
            assert gv == want, (i, key, gv, want)
            total += 1
    assert total >= 250, total
