"""Unit tests for the web-curation / mixing operators: URL domain
filter, paragraph-level keep-first dedup, linear quality classifier,
temperature-based source mixing (declared-query counterparts live in
plans/webmix.py)."""

from __future__ import annotations

import hashlib

import pytest

from cga_kinesis_to_elasticsearch_spark.operators import dedup as D
from cga_kinesis_to_elasticsearch_spark.operators import sampling as SM
from cga_kinesis_to_elasticsearch_spark.operators import text as T
from cga_kinesis_to_elasticsearch_spark.operators import web as W


class TestDomainFilter:
    def _run(self, spark, urls, **kw):
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)], "id int, url string"
        )
        return {r.id: r for r in W.domain_filter(df, "url", "id", **kw).collect()}

    def test_parses_host_domain_tld_path(self, spark):
        out = self._run(
            spark, ["https://www.news.example.org/a/b?q=1#frag"]
        )
        r = out[0]
        assert r.host == "www.news.example.org"
        assert r.domain == "example.org"
        assert r.tld == "org"
        assert not r.blocked and r.reason is None

    def test_rule_precedence_domain_tld_path(self, spark):
        urls = [
            "https://bad.spam.biz/x?utm_source=a",  # domain+tld+path -> domain
            "https://ok.other.biz/x",  # tld only
            "https://ok.fine.org/x?utm_campaign=z",  # path only
            "https://ok.fine.org/plain",  # kept
        ]
        out = self._run(
            spark,
            urls,
            blocked_domains=["spam.biz"],
            blocked_tlds=["biz"],
            spam_path_re=r"[?&]utm_",
        )
        assert [out[i].reason for i in range(4)] == ["domain", "tld", "path", None]
        assert [out[i].blocked for i in range(4)] == [True, True, True, False]


class TestParagraphDedup:
    def test_keep_first_across_docs(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "alpha\nshared"),
                (2, "shared\nbeta"),  # 'shared' first seen in doc 1
                (3, "shared\nshared"),  # both copies lose
            ],
            "doc_id int, text string",
        )
        out = {
            r.doc_id: r for r in D.paragraph_dedup(docs, "text", "doc_id").collect()
        }
        assert out[1].n_dropped == 0
        assert out[2].n_dropped == 1
        assert out[3].n_dropped == 2
        assert out[2].retained_md5 == hashlib.md5(b"beta").hexdigest()
        assert out[3].retained_md5 == hashlib.md5(b"").hexdigest()

    def test_within_doc_duplicate_keeps_first_position(self, spark):
        docs = spark.createDataFrame(
            [(7, "x\ny\nx")], "doc_id int, text string"
        )
        r = D.paragraph_dedup(docs, "text", "doc_id").collect()[0]
        assert r.n_paras == 3 and r.n_dropped == 1
        assert r.retained_md5 == hashlib.md5(b"x\ny").hexdigest()


class TestQualityClassifier:
    def test_features_and_linear_score(self, spark):
        docs = spark.createDataFrame(
            [(1, "the cat sat on the mat")], "doc_id int, text string"
        )
        r = T.quality_classifier(docs, "text", "doc_id").collect()[0]
        # 'the' x2 + 'on' -> 3 stopword hits of 6 tokens
        assert r.stop_ratio == pytest.approx(0.5)
        assert r.uniq_ratio == pytest.approx(5 / 6)
        assert r.mean_wlen == pytest.approx(17 / 6, abs=1e-6)
        assert r.digit_ratio == 0.0
        expected = round(-1.0 + 3.0 * r.stop_ratio + 2.0 * r.uniq_ratio
                         + 0.2 * r.mean_wlen + -4.0 * r.digit_ratio, 6)
        assert r.score == pytest.approx(expected)
        assert r.keep

    def test_digit_dump_scores_low(self, spark):
        docs = spark.createDataFrame(
            [(1, "123 456 789 000")], "doc_id int, text string"
        )
        r = T.quality_classifier(docs, "text", "doc_id").collect()[0]
        assert r.digit_ratio == pytest.approx(1.0)
        assert not r.keep


class TestMixturePlan:
    def test_long_and_short_sources(self, spark):
        # web: 10 docs x 10 tokens = 100 tokens; code: 2 x 10 = 20
        rows = [(i, "t " * 9 + "t", "web") for i in range(10)]
        rows += [(100 + i, "t " * 9 + "t", "code") for i in range(2)]
        rows += [(200, "ignored words here", "other")]  # not in weights
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {
            r.source: r
            for r in SM.mixture_plan(
                df, "text", "source", {"web": 0.5, "code": 0.5}, 80
            ).collect()
        }
        assert set(out) == {"web", "code"}
        web, code = out["web"], out["code"]
        assert (web.available_tokens, code.available_tokens) == (100, 20)
        assert web.target_share == code.target_share == 0.5
        assert web.allotted_tokens == code.allotted_tokens == 40
        # web is long: downsample to 40/100; one epoch
        assert web.keep_fraction == pytest.approx(0.4) and web.epochs == 1.0
        # code is short: keep everything, repeat 2x
        assert code.keep_fraction == 1.0 and code.epochs == pytest.approx(2.0)

    def test_absent_and_empty_sources_still_get_rows(self, spark):
        # "code" weighted but absent from corpus; "blank" present but
        # zero tokens — both must appear with defined (0.0, 1.0) knobs
        df = spark.createDataFrame(
            [(1, "a b c d", "web"), (2, "   ", "blank")],
            "doc_id long, text string, source string",
        )
        out = {
            r.source: r
            for r in SM.mixture_plan(
                df, "text", "source",
                {"web": 0.5, "code": 0.3, "blank": 0.2}, 100,
            ).collect()
        }
        assert set(out) == {"web", "code", "blank"}
        assert out["code"].available_tokens == 0
        assert out["code"].allotted_tokens == 30
        assert out["code"].keep_fraction == 0.0
        assert out["code"].epochs == 1.0
        assert out["blank"].available_tokens == 0
        assert out["blank"].keep_fraction == 0.0
        assert out["blank"].epochs == 1.0
        assert out["web"].available_tokens == 4

    def test_validates_inputs(self, spark):
        df = spark.createDataFrame([(0, "x", "a")], "doc_id long, text string, source string")
        with pytest.raises(ValueError, match="token_budget"):
            SM.mixture_plan(df, "text", "source", {"a": 1.0}, 0)
        with pytest.raises(ValueError, match="weights"):
            SM.mixture_plan(df, "text", "source", {}, 10)
        with pytest.raises(ValueError, match="weights"):
            SM.mixture_plan(df, "text", "source", {"a": -0.5}, 10)


class TestTemperatureMix:
    def _df(self, spark, sizes: dict[str, int]):
        rows, i = [], 0
        for src, n in sizes.items():
            for _ in range(n):
                rows.append((i, src))
                i += 1
        return spark.createDataFrame(rows, "doc_id long, source string")

    def test_alpha_half_upsamples_rare_sources(self, spark):
        df = self._df(spark, {"big": 900, "small": 100})
        out = SM.temperature_mix(df, "doc_id", "source", 200, alpha=0.5)
        fr = {r.source: r.mix_fraction for r in
              out.select("source", "mix_fraction").distinct().collect()}
        # tempered weights: sqrt(900)=30, sqrt(100)=10 -> quota 150/50
        assert fr["big"] == pytest.approx(150 / 900, abs=1e-6)
        assert fr["small"] == pytest.approx(50 / 100, abs=1e-6)
        # rare source's fraction is boosted over proportional (0.2)
        assert fr["small"] > fr["big"]

    def test_deterministic_and_nested(self, spark):
        df = self._df(spark, {"a": 400, "b": 100})
        kept1 = {r.doc_id for r in
                 SM.temperature_mix(df, "doc_id", "source", 100).collect()}
        kept2 = {r.doc_id for r in
                 SM.temperature_mix(df, "doc_id", "source", 100).collect()}
        assert kept1 == kept2
        smaller = {r.doc_id for r in
                   SM.temperature_mix(df, "doc_id", "source", 50).collect()}
        assert smaller <= kept1

    def test_quota_capped_at_source_size(self, spark):
        df = self._df(spark, {"tiny": 10, "big": 1000})
        out = SM.temperature_mix(df, "doc_id", "source", 5000)
        fr = {r.source: r.mix_fraction for r in
              out.select("source", "mix_fraction").distinct().collect()}
        assert fr["tiny"] == pytest.approx(1.0)
        n_tiny = out.filter("source = 'tiny'").count()
        assert n_tiny == 10


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _hash_exchanges(plan: str) -> int:
    return sum(
        1 for l in plan.splitlines() if "Arguments: hashpartitioning" in l
    )


class TestPlanShapes:
    """Pin the scale-critical physical properties of the webmix /
    multimodal queries: narrow ops stay narrow, small sides broadcast,
    and shuffle budgets don't regress."""

    def test_url_filter_and_classifier_are_scan_speed(self, spark, sf_dir):
        from cga_kinesis_to_elasticsearch_spark.plans import queries

        qs = queries()
        for name in ("url_domain_filter", "quality_classifier_keep"):
            plan = _plan(qs[name](spark, sf_dir))
            # only the source-spread repartition; the operator itself
            # adds no exchange, no join, no window
            assert _hash_exchanges(plan) == 1, name
            assert "Join" not in plan, name
            assert ") Window" not in plan, name

    def test_multimodal_chain_adds_no_exchange(self, spark, sf_dir):
        from cga_kinesis_to_elasticsearch_spark.plans import queries

        plan = _plan(queries()["multimodal_meta_pipeline"](spark, sf_dir))
        assert _hash_exchanges(plan) == 1
        assert "Join" not in plan

    def test_temperature_mix_corpus_never_shuffled(self, spark, sf_dir):
        from cga_kinesis_to_elasticsearch_spark.plans import queries

        plan = _plan(queries()["temperature_mix_sample"](spark, sf_dir))
        # fraction table joins back by broadcast, never sort-merge
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # exchanges: source spread + the two tiny count/sum aggs
        assert _hash_exchanges(plan) <= 3

    def test_paragraph_dedup_shuffles_keys_not_cross_products(
        self, spark, sf_dir
    ):
        from cga_kinesis_to_elasticsearch_spark.plans import queries

        plan = _plan(queries()["paragraph_dedup_stats"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # owner election + join-back + per-doc reassembly, bounded
        assert _hash_exchanges(plan) <= 5


class TestSamplingProperties:
    """Pure-Python hypothesis properties of the hash-sampling threshold
    arithmetic (no Spark session needed)."""

    def test_hex_threshold_monotone_in_fraction(self):
        from hypothesis import given, strategies as st

        from cga_kinesis_to_elasticsearch_spark.operators.sampling import (
            hex_threshold,
        )

        @given(
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        )
        def check(a, b):
            lo, hi = sorted((a, b))
            # nested-sample invariant: smaller fraction -> <= threshold,
            # so every doc kept at `lo` is kept at `hi`
            assert hex_threshold(lo) <= hex_threshold(hi)

        check()

    def test_hex_threshold_bounds(self):
        from cga_kinesis_to_elasticsearch_spark.operators.sampling import (
            hex_threshold,
        )

        assert hex_threshold(0.0) == "00000000"
        assert hex_threshold(1.0) == "gggggggg"  # above every hex digit
        # md5 prefixes are hex, so threshold at 1.0 keeps everything
        assert "ffffffff" < hex_threshold(1.0)


class TestSpanDedup:
    """span_dedup: exact w-token-window dedup with keep-first rewrite."""

    def _run(self, spark, docs, w=3):
        df = spark.createDataFrame(docs, "doc_id long, text string")
        rows = D.span_dedup(df, "text", "doc_id", w=w).collect()
        return {r["doc_id"]: r for r in rows}

    @staticmethod
    def _md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    def test_cross_doc_keep_first(self, spark):
        got = self._run(
            spark,
            [
                (0, "alpha beta gamma delta"),
                (1, "zz alpha beta gamma yy"),  # repeats doc 0's window
                (2, "totally different words here"),
            ],
            w=3,
        )
        # doc 0 owns every window it contains: untouched
        assert got[0]["n_removed"] == 0
        assert got[0]["retained_md5"] == self._md5("alpha beta gamma delta")
        # doc 1: window 'alpha beta gamma' (pos 1) is a duplicate ->
        # tokens 1..3 removed, the flanking zz/yy survive
        assert got[1]["n_removed"] == 3
        assert got[1]["retained_md5"] == self._md5("zz yy")
        assert got[2]["n_removed"] == 0

    def test_within_doc_repeat(self, spark):
        got = self._run(spark, [(0, "a b c x a b c")], w=3)
        # second 'a b c' (window at pos 4) is covered; first copy and
        # the separator survive. Windows spanning the junction ('c x a',
        # 'x a b') occur once, so only pos-4's window dedups.
        assert got[0]["n_removed"] == 3
        assert got[0]["retained_md5"] == self._md5("a b c x")

    def test_short_doc_never_rewritten(self, spark):
        got = self._run(spark, [(0, "a b"), (1, "a b")], w=3)
        assert got[0]["n_removed"] == 0 and got[1]["n_removed"] == 0
        assert got[1]["retained_md5"] == self._md5("a b")

    def test_identical_docs_fully_covered(self, spark):
        got = self._run(
            spark, [(0, "p q r s"), (1, "p q r s")], w=3
        )
        assert got[0]["n_removed"] == 0
        # every token of doc 1 sits under some duplicate window
        assert got[1]["n_removed"] == 4
        assert got[1]["retained_md5"] == self._md5("")

    @pytest.mark.parametrize("bad_id", [2**32, -1])
    def test_id_outside_key_range_fails_loudly(self, spark, bad_id):
        # an id outside [0, 2^32) would wrap the (id * 2^31 + pos) key
        # and silently reorder ownership; the staged checkpoint raises
        with pytest.raises(Exception, match=r"outside \[0, 2\^32\)"):
            self._run(spark, [(0, "p q r s"), (bad_id, "p q r s")], w=3)

    def test_largest_id_in_range_accepted(self, spark):
        got = self._run(spark, [(0, "p q r s"), (2**32 - 1, "p q r s")], w=3)
        assert got[0]["n_removed"] == 0
        assert got[2**32 - 1]["n_removed"] == 4

    def test_normalization_feeds_windows(self, spark):
        # punctuation/case differences must not defeat the exact match
        got = self._run(
            spark,
            [(0, "Alpha, beta GAMMA delta!"), (1, "xx alpha beta gamma delta")],
            w=4,
        )
        assert got[1]["n_removed"] == 4
        assert got[1]["retained_md5"] == self._md5("xx")
