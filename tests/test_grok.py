"""Grok compiler golden tests.

Golden captures mirror the reference's grok behavior
(vendor/github.com/vjeantet/grok/grok.go) for the seven app patterns
(main.go:558-568) and a sample of the default library (patterns.go).
"""

from __future__ import annotations

import duckdb
import pytest

from cga_kinesis_to_elasticsearch_spark.grok import (
    Grok,
    GrokError,
    default_grok,
    duckdb_exprs,
    grok_columns,
    grok_match,
    grok_schema,
    grok_struct,
)

ROUTER_LINE = (
    'app.example.com - [2026-08-13T01:02:03+0000] "GET /path?q=1 HTTP/1.1" '
    '200 0 1024 "-" "Mozilla/5.0" "10.0.0.1:34567" "10.0.1.2:61001" '
    'x_forwarded_for:"1.2.3.4" x_forwarded_proto:"https" '
    'vcap_request_id:"a1b2" response_time:0.003 app_id:"abc-def" '
    'app_index:"0" x_b3_traceid:"abc" x_b3_spanid:"def" '
    'x_b3_parentspanid:"-"'
)

ROUTER_EXPECTED = {
    "rtr_hostname": "app.example.com",
    "rtr_time": "2026-08-13T01:02:03+0000",
    "rtr_verb": "GET",
    "rtr_path": "/path?q=1",
    "rtr_http_spec": "HTTP/1.1",
    "rtr_status": 200,
    "rtr_request_bytes_received": 0,
    "rtr_body_bytes_sent": 1024,
    "rtr_referer": "-",
    "rtr_http_user_agent": "Mozilla/5.0",
    "rtr_src_host": "10.0.0.1",
    "rtr_src_port": 34567,
    "rtr_dst_host": "10.0.1.2",
    "rtr_dst_port": 61001,
    "rtr_x_forwarded_for": "1.2.3.4",
    "rtr_x_forwarded_proto": "https",
    "rtr_vcap_request_id": "a1b2",
    "rtr_response_time_sec": 0.003,
    "rtr_app_id": "abc-def",
    "rtr_app_index": 0,
    "x_b3_traceid": "abc",
    "x_b3_spanid": "def",
    "x_b3_parentspanid": "-",
}


@pytest.fixture(scope="module")
def grok() -> Grok:
    return default_grok()


class TestCompile:
    def test_routeraccess_capture_count(self, grok):
        cp = grok.compile("ROUTERACCESS")
        assert len(cp.fields) == 23

    def test_typed_captures(self, grok):
        cp = grok.compile("ROUTERACCESS")
        types = {c.name: c.type for c in cp.fields}
        assert types["rtr_status"] == "int"
        assert types["rtr_response_time_sec"] == "float"
        assert types["rtr_hostname"] == "string"

    def test_unknown_pattern_raises(self, grok):
        with pytest.raises(GrokError, match="no pattern found"):
            grok.compile("%{NOPE:x}")

    def test_invalid_type_raises(self, grok):
        # grok.go:244-250: unknown type is an error
        with pytest.raises(GrokError, match="invalid type"):
            grok.compile("%{INT:x:decimal}")

    def test_cycle_detection(self):
        g = Grok(patterns={"A": "%{B}", "B": "%{A}"}, include_defaults=False)
        with pytest.raises(GrokError, match="cyclic"):
            g.compile("%{A:x}")

    def test_compile_cache(self, grok):
        assert grok.compile("ROUTERACCESS") is grok.compile("ROUTERACCESS")

    def test_patterns_from_text(self):
        g = Grok()
        g.add_patterns_from_text("# comment\nMYNUM %{INT:n:int}\n\n")
        cp = g.compile("MYNUM")
        assert cp.parse_typed("x -42 y") == {"n": -42}

    def test_named_captures_only_false_exposes_syntax_names(self):
        # Reference app's actual config (grok.Config zero value):
        # un-named references surface under their syntax name.
        g = default_grok(named_captures_only=False)
        caps = g.compile("%{INT} %{WORD:w}").parse("7 abc")
        assert caps == {"INT": "7", "w": "abc"}


class TestPythonParse:
    def test_routeraccess_golden(self, grok):
        assert grok.compile("ROUTERACCESS").parse_typed(ROUTER_LINE) == ROUTER_EXPECTED

    def test_no_match_empty_map(self, grok):
        # grok.go:211-214: non-matching line -> empty capture map
        assert grok.compile("ROUTERACCESS").parse("garbage") == {}

    def test_generic(self, grok):
        assert grok.compile("GENERIC").parse("hello world") == {
            "log_event": "hello world"
        }

    def test_linuxmessages(self, grok):
        got = grok.compile("LINUXMESSAGES").parse("2026-08-13T01:02:03Z kernel: oops")
        assert got == {
            "os_time": "2026-08-13T01:02:03Z",
            "var_log_messages": "kernel: oops",
        }

    def test_boshdirectorerr(self, grok):
        got = grok.compile("BOSHDIRECTORERR").parse(
            "10.0.0.1 - - [13/Aug/2026:01:02:03 +0000] GET /foo"
        )
        assert got["client_ip"] == "10.0.0.1"
        assert got["director_time"] == "13/Aug/2026:01:02:03 +0000"
        assert got["bosh_director_err"] == "GET /foo"

    def test_boshdirectorout(self, grok):
        got = grok.compile("BOSHDIRECTOROUT").parse(
            "D, [2026-08-13T01:02:03+0000 #123] DEBUG -- : stuff"
        )
        assert got["director_time"] == "2026-08-13T01:02:03+0000"
        assert got["bosh_director_out"] == "DEBUG -- : stuff"

    def test_match_predicate(self, grok):
        cp = grok.compile("ROUTERACCESS")
        assert cp.matches(ROUTER_LINE)
        assert not cp.matches("nope")

    def test_multimap_accumulates_duplicates(self):
        g = Grok()
        cp = g.compile("%{INT:n} %{INT:n}")
        assert cp.parse_to_multimap("1 2") == {"n": ["1", "2"]}

    def test_duplicate_semantic_last_wins(self):
        # map-assignment order of grok.go:218-225
        g = Grok()
        assert g.compile("%{INT:n} %{INT:n}").parse("1 2") == {"n": "2"}

    def test_apachelog_library_pattern(self, grok):
        line = (
            '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
            '"GET /apache_pb.gif HTTP/1.0" 200 2326'
        )
        got = grok.compile("COMMONAPACHELOG").parse(line)
        assert got["clientip"] == "127.0.0.1"
        assert got["verb"] == "GET"
        assert got["response"] == "200"
        assert got["bytes"] == "2326"


class TestSparkParity:
    def test_columns_match_python(self, spark, grok):
        df = spark.createDataFrame([(ROUTER_LINE,), ("garbage",)], ["line"])
        rows = df.select(*grok_columns(grok, "line", "ROUTERACCESS")).collect()
        assert rows[0].asDict() == ROUTER_EXPECTED
        bad = rows[1].asDict()
        assert bad["rtr_status"] is None  # try_cast('') -> NULL
        assert bad["rtr_verb"] == ""  # regexp_extract no-match -> ''

    def test_struct_null_on_nonmatch(self, spark, grok):
        df = spark.createDataFrame([(ROUTER_LINE,), ("garbage",)], ["line"])
        rows = df.select(
            grok_struct(grok, "line", "ROUTERACCESS").alias("g")
        ).collect()
        assert rows[0].g.rtr_status == 200
        assert rows[1].g is None

    def test_match_column(self, spark, grok):
        df = spark.createDataFrame([(ROUTER_LINE,), ("garbage",)], ["line"])
        flags = [r.m for r in df.select(grok_match(grok, "line", "ROUTERACCESS").alias("m")).collect()]
        assert flags == [True, False]

    def test_schema_is_static(self, grok):
        schema = grok_schema(grok, "ROUTERACCESS")
        assert [f.name for f in schema.fields][:2] == ["rtr_hostname", "rtr_time"]
        assert schema["rtr_status"].dataType.typeName() == "integer"
        assert schema["rtr_response_time_sec"].dataType.typeName() == "double"


class TestDuckDBParity:
    def test_oracle_exprs_match(self, grok):
        con = duckdb.connect()
        sql = "SELECT " + ", ".join(
            duckdb_exprs(grok, "line", "ROUTERACCESS")
        ) + " FROM (SELECT ? AS line)"
        row = con.execute(sql, [ROUTER_LINE]).fetchdf().iloc[0].to_dict()
        for k, v in ROUTER_EXPECTED.items():
            assert str(row[k]) == str(v), k


class TestSentinelInjection:
    """Round-6 VERDICT item: a line CONTAINING the packed-parse
    sentinel bytes (\\x01 / \\x02 — binary garbage, malicious payload)
    must never shift or fabricate captures. The parse strips the
    sentinel bytes from its input (grok/spark._sanitize) — clean lines
    are byte-identical; a garbage line parses as if the control bytes
    were absent (documented divergence: a capture adjacent to a
    control byte omits it — fields still can never shift)."""

    def _parse(self, spark, grok, lines, pattern="GENERIC"):
        from cga_kinesis_to_elasticsearch_spark.grok.spark import (
            grok_parse_into,
        )

        df = spark.createDataFrame([(ln,) for ln in lines], ["line"])
        return grok_parse_into(grok, df, "line", pattern, "g").select(
            "line", "g"
        ).collect()

    def test_control_chars_parse_exactly(self, spark, grok):
        grok.add_pattern(
            "KV2", r"k1=%{WORD:k1} k2=%{WORD:k2} k3=%{INT:k3:int}"
        )
        clean = "k1=a k2=b k3=3"
        # sentinel bytes OUTSIDE the captures: captures must be exact
        dirty_pad = "\x02noise\x01 k1=a k2=b k3=3 \x01tail\x02"
        # sentinel bytes that would FABRICATE a capture boundary if
        # the packed path ran: 'b\x01evil' is one WORD token? \x01 is
        # not \w, so k2 captures 'b' and the \x01 sits between fields
        rows = self._parse(spark, grok, [clean, dirty_pad], "KV2")
        assert rows[0].g.asDict() == {"k1": "a", "k2": "b", "k3": 3}
        assert rows[1].g.asDict() == {"k1": "a", "k2": "b", "k3": 3}

    def test_control_char_nonmatch_is_null(self, spark, grok):
        grok.add_pattern("KV1", r"k1=%{INT:k1:int}")
        rows = self._parse(
            spark, grok, ["\x01\x02 nothing here"], "KV1"
        )
        assert rows[0].g is None

    def test_parity_with_per_capture_path(self, spark, grok):
        from cga_kinesis_to_elasticsearch_spark.grok import grok_struct

        grok.add_pattern("NUMS", r"%{INT:a:int}-%{INT:b:int}")
        lines = ["12-34", "\x0112-34", "12-34\x02", "no", None]
        df = spark.createDataFrame([(ln,) for ln in lines], "line string")
        from cga_kinesis_to_elasticsearch_spark.grok.spark import (
            grok_parse_into,
        )

        fast = [
            r.g
            for r in grok_parse_into(
                grok, df, "line", "NUMS", "g"
            ).collect()
        ]
        slow = [
            r.g
            for r in df.select(
                grok_struct(grok, "line", "NUMS").alias("g")
            ).collect()
        ]
        assert fast == slow

    def test_sentinel_inside_token_never_shifts(self, spark, grok):
        # a sentinel INSIDE a would-be capture: under the strip
        # semantics the token fuses ('a\x01b' -> 'ab') — the value
        # diverges from raw-grok by exactly the removed byte, but the
        # SHAPE is stable: k2/k3 land in their own fields, nothing
        # shifts, nothing is fabricated
        grok.add_pattern(
            "KV3", r"k1=%{WORD:k1} k2=%{WORD:k2} k3=%{INT:k3:int}"
        )
        rows = self._parse(
            spark, grok, ["k1=a\x01b k2=c k3=7"], "KV3"
        )
        assert rows[0].g.asDict() == {"k1": "ab", "k2": "c", "k3": 7}

    def test_multimap_with_sentinels(self, spark, grok):
        from cga_kinesis_to_elasticsearch_spark.grok.spark import (
            grok_multimap,
        )

        grok.add_pattern("PAIR", r"%{WORD:v} %{WORD:v}")
        df = spark.createDataFrame(
            [("x y",), ("\x02 x y \x01",), ("-",)], ["line"]
        )
        rows = grok_multimap(grok, df, "line", "PAIR").collect()
        assert rows[0].v_values == ["x", "y"]
        assert rows[1].v_values == ["x", "y"]
        assert rows[2].v_values is None
