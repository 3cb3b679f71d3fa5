"""Round-7 search surface: match_phrase_prefix / match_bool_prefix,
intervals, rank_feature / distance_feature, sloppy-phrase
transpositions, the Unicode standard analyzer, and sliced scrolls."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.querydsl import (
    apply_query,
    compile_query,
    run_search_body,
)
from cga_kinesis_to_elasticsearch_spark.operators.scroll import (
    run_scroll,
    run_sliced_export,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "quick brown fox jumps", 5.0, 10),
            (2, "quick brawny fox", 0.0, 50),
            (3, "fox quick brown", 2.0, 100),
            (4, "the brown quick fox", None, 30),
            (5, "quick br", 9.0, 70),
            (6, None, 1.0, 60),
        ],
        "doc_id long, text string, feat double, ts long",
    )


def _ids(df, q):
    return sorted(r.doc_id for r in apply_query(df, q).collect())


class TestMatchPhrasePrefix:
    def test_short_form(self, corpus):
        # 'quick' then a token starting 'br' at the NEXT position
        assert _ids(corpus, {"match_phrase_prefix": {"text": "quick br"}}) \
            == [1, 2, 3, 5]

    def test_slop(self, corpus):
        got = _ids(corpus, {"match_phrase_prefix": {"text": {
            "query": "quick fox", "slop": 1}}})
        assert got == [1, 2, 4]

    def test_single_term_is_prefix(self, corpus):
        assert _ids(corpus, {"match_phrase_prefix": {"text": "bro"}}) \
            == [1, 3, 4]

    def test_max_expansions_rejected(self, corpus):
        with pytest.raises(ValueError, match="max_expansions"):
            compile_query({"match_phrase_prefix": {"text": {
                "query": "quick br", "max_expansions": 50}}})

    def test_empty_query_rejected(self):
        with pytest.raises(ValueError, match="tokens"):
            compile_query({"match_phrase_prefix": {"text": "  "}})

    def test_null_field_does_not_match(self, corpus):
        # doc 6 has NULL text: never a match, never a NULL poison
        got = _ids(corpus, {"bool": {"must_not": [
            {"match_phrase_prefix": {"text": "quick br"}}]}})
        assert 6 in got


class TestMatchBoolPrefix:
    def test_or_default(self, corpus):
        # any of: term 'jumps' OR prefix 'qui'
        assert _ids(corpus, {"match_bool_prefix": {"text": "jumps qui"}}) \
            == [1, 2, 3, 4, 5]

    def test_and_operator(self, corpus):
        got = _ids(corpus, {"match_bool_prefix": {"text": {
            "query": "jumps qui", "operator": "and"}}})
        assert got == [1]

    def test_minimum_should_match(self, corpus):
        got = _ids(corpus, {"match_bool_prefix": {"text": {
            "query": "brown fox qui", "minimum_should_match": 3}}})
        assert got == [1, 3, 4]

    def test_unknown_option_rejected(self):
        with pytest.raises(ValueError, match="unsupported options"):
            compile_query({"match_bool_prefix": {"text": {
                "query": "a b", "fuzziness": 1}}})


class TestIntervals:
    def test_ordered_max_gaps(self, corpus):
        got = _ids(corpus, {"intervals": {"text": {"match": {
            "query": "quick fox", "ordered": True, "max_gaps": 1}}}})
        assert got == [1, 2, 4]

    def test_ordered_unbounded_gaps(self, corpus):
        got = _ids(corpus, {"intervals": {"text": {"match": {
            "query": "quick fox", "ordered": True}}}})
        assert got == [1, 2, 4]  # doc 3 has fox BEFORE quick

    def test_unordered(self, corpus):
        got = _ids(corpus, {"intervals": {"text": {"match": {
            "query": "quick fox", "max_gaps": 0}}}})
        assert got == [3, 4]  # adjacent in either order

    def test_combinators(self, corpus):
        got = _ids(corpus, {"intervals": {"text": {"all_of": {
            "intervals": [
                {"match": {"query": "quick brown", "ordered": True,
                           "max_gaps": 0}},
                {"any_of": {"intervals": [
                    {"match": {"query": "jumps"}},
                    {"match": {"query": "fox"}},
                ]}},
            ]}}}})
        assert got == [1, 3]

    def test_unordered_limit(self):
        with pytest.raises(ValueError, match="up to 3 tokens"):
            compile_query({"intervals": {"text": {"match": {
                "query": "a b c d"}}}})

    def test_unknown_rule_rejected(self):
        with pytest.raises(ValueError, match="unsupported rule"):
            compile_query({"intervals": {"text": {"fuzzy": {
                "term": "x"}}}})

    def test_all_of_with_ordering_rejected(self):
        with pytest.raises(ValueError, match="endpoint algebra"):
            compile_query({"intervals": {"text": {"all_of": {
                "intervals": [{"match": {"query": "a"}}],
                "ordered": True}}}})


class TestRankFeature:
    def test_saturation_log_sigmoid_values(self, spark):
        df = spark.createDataFrame(
            [(1, 4.0), (2, 16.0)], "doc_id long, s double"
        )
        for body, fn in (
            ({"field": "s", "saturation": {"pivot": 8}},
             lambda s: s / (s + 8.0)),
            ({"field": "s", "log": {"scaling_factor": 2}},
             lambda s: math.log(2 * s + 1)),
            ({"field": "s", "sigmoid": {"pivot": 8, "exponent": 2}},
             lambda s: s**2 / (s**2 + 64.0)),
        ):
            out = run_search_body(df, {
                "query": {"rank_feature": body},
                "sort": [{"_score": "desc"}],
                "size": 2,
            }).collect()
            got = {r.doc_id: r._score for r in out}
            assert got[1] == pytest.approx(fn(4.0))
            assert got[2] == pytest.approx(fn(16.0))

    def test_explicit_function_required(self):
        with pytest.raises(ValueError, match="explicit function"):
            compile_query({"rank_feature": {"field": "s"}})

    def test_matches_positive_only(self, corpus):
        # feat 0.0 (doc 2) and NULL (doc 4) do not match
        got = _ids(corpus, {"rank_feature": {
            "field": "feat", "saturation": {"pivot": 5}}})
        assert got == [1, 3, 5, 6]


class TestDistanceFeature:
    def test_formula(self, corpus):
        out = run_search_body(corpus, {
            "query": {"bool": {
                "filter": [{"exists": {"field": "text"}}],
                "should": [{"distance_feature": {
                    "field": "ts", "origin": 60, "pivot": 20,
                    "boost": 3}}],
            }},
            "sort": [{"_score": "desc"}],
            "size": 10,
        }).collect()
        got = {r.doc_id: r._score for r in out}
        assert got[5] == pytest.approx(3 * 20 / (20 + 10))  # ts 70
        assert got[2] == pytest.approx(3 * 20 / (20 + 10))  # ts 50
        assert got[1] == pytest.approx(3 * 20 / (20 + 50))  # ts 10

    def test_validation(self):
        with pytest.raises(ValueError, match="needs origin"):
            compile_query({"distance_feature": {"field": "ts",
                                                "pivot": 1}})
        with pytest.raises(ValueError, match="numbers"):
            compile_query({"distance_feature": {
                "field": "ts", "origin": "2024-01-01", "pivot": "7d"}})


class TestSlopTranspositions:
    def test_two_token_boundaries(self, spark):
        df = spark.createDataFrame(
            [(1, "a b"), (2, "b a"), (3, "b x a"), (4, "a x x b")],
            "doc_id long, text string",
        )

        def ids(slop):
            return _ids(df, {"match_phrase": {"text": {
                "query": "a b", "slop": slop}}})

        assert ids(0) == [1]
        assert ids(1) == [1]            # transposition needs 2
        assert ids(2) == [1, 2, 4]      # swap, no residual gap
        assert ids(3) == [1, 2, 3, 4]   # swap + 1 gap

    def test_variant_budget_guard(self):
        with pytest.raises(ValueError, match="variants"):
            compile_query({"match_phrase": {"text": {
                "query": "a b c d e f g h i j", "slop": 12}}})


class TestUnicodeStandardAnalyzer:
    def test_accented_match(self, spark):
        df = spark.createDataFrame(
            [(1, "Café au lait"), (2, "cafe au lait"), (3, "CAFÉ noir")],
            "doc_id long, text string",
        )
        got = _ids(df, {"match": {"text": {
            "query": "café", "analyzer": "standard"}}})
        assert got == [1, 3]

    def test_ascii_behavior_unchanged(self, spark):
        df = spark.createDataFrame(
            [(1, "Merge,SCAN"), (2, "merge")], "doc_id long, text string"
        )
        got = _ids(df, {"match": {"text": {
            "query": "MERGE scan", "analyzer": "standard"}}})
        assert got == [1, 2]

    def test_underscore_separates(self, spark):
        # documented divergence boundary: a_b tokenizes as [a, b]
        df = spark.createDataFrame(
            [(1, "foo_bar")], "doc_id long, text string"
        )
        assert _ids(df, {"match": {"text": {
            "query": "bar", "analyzer": "standard"}}}) == [1]


class TestSlicedScroll:
    def _df(self, spark, n=67):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("g"), (F.col("id") % 7).cast("string"))
            .alias("grp"),
        )

    def test_slices_disjoint_exhaustive_ordered(self, spark):
        df = self._df(spark)
        out = run_sliced_export(
            df, {"sort": [{"doc_id": "asc"}]}, page_size=10, n_slices=4
        ).collect()
        assert sorted(r.doc_id for r in out) == list(range(67))
        assert len({r.doc_id for r in out}) == 67
        by_slice = {}
        for r in out:
            by_slice.setdefault(r.slice_id, []).append(r.doc_id)
        assert set(by_slice) == {0, 1, 2, 3}
        for sid, docs in by_slice.items():
            assert all(d % 4 == sid for d in docs)  # numeric modulo
            assert docs == sorted(docs)  # internally ordered

    def test_slice_in_body_filters_run_scroll(self, spark):
        df = self._df(spark)
        pages = list(run_scroll(
            df,
            {"sort": [{"doc_id": "asc"}], "slice": {"id": 1, "max": 3}},
            page_size=9,
        ))
        seen = [r.doc_id for p in pages for r in p]
        assert seen == [d for d in range(67) if d % 3 == 1]

    def test_string_field_slices_cover(self, spark):
        df = self._df(spark)
        out = run_sliced_export(
            df, {"sort": [{"doc_id": "asc"}]}, page_size=25, n_slices=3
        )
        # explicit string field: hash-based, still disjoint+exhaustive
        rows = []
        for i in range(3):
            pages = list(run_scroll(
                df,
                {"sort": [{"doc_id": "asc"}],
                 "slice": {"id": i, "max": 3, "field": "grp"}},
                page_size=25,
            ))
            rows += [r.doc_id for p in pages for r in p]
        assert sorted(rows) == list(range(67))
        assert out.count() == 67

    def test_bad_slice_specs(self, spark):
        df = self._df(spark)
        for spec in ({"id": 3, "max": 3}, {"id": 0, "max": 1},
                     {"id": 0}, {"max": 2}):
            with pytest.raises(ValueError, match="slice"):
                list(run_scroll(
                    df,
                    {"sort": [{"doc_id": "asc"}], "slice": spec},
                    page_size=10,
                ))


class TestBoosting:
    def test_demotes_not_excludes(self, spark):
        df = spark.createDataFrame(
            [(1, "en", 10.0), (2, "fr", 10.0), (3, "en", 5.0)],
            "doc_id long, lang string, feat double",
        )
        out = run_search_body(df, {
            "query": {"boosting": {
                "positive": {"rank_feature": {
                    "field": "feat", "saturation": {"pivot": 10}}},
                "negative": {"term": {"lang": "fr"}},
                "negative_boost": 0.5,
            }},
            "sort": [{"_score": "desc"}],
            "size": 10,
        }).collect()
        got = {r.doc_id: r._score for r in out}
        assert set(got) == {1, 2, 3}  # fr doc demoted, NOT excluded
        assert got[1] == pytest.approx(0.5)
        assert got[2] == pytest.approx(0.25)  # 0.5 * negative_boost
        assert got[3] == pytest.approx(1 / 3)

    def test_requires_all_parts(self):
        with pytest.raises(ValueError, match="boosting needs"):
            compile_query({"boosting": {"positive": {"match_all": {}}}})


class TestPinned:
    def test_list_order_above_organic(self, spark):
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 8)],
            "doc_id long, feat double",
        )
        out = run_search_body(df, {
            "query": {"pinned": {
                "ids": [5, 2],
                "organic": {"rank_feature": {
                    "field": "feat", "saturation": {"pivot": 3}}},
            }},
            "sort": [{"_score": "desc"}],
            "size": 7,
        }).collect()
        order = [r.doc_id for r in out]
        assert order[:2] == [5, 2]  # pinned first, in LIST order
        # organic tail by descending saturation (feat desc)
        assert order[2:] == [7, 6, 4, 3, 1]

    def test_pinned_outside_organic_still_returned(self, spark):
        df = spark.createDataFrame(
            [(1, "en"), (2, "fr"), (3, "en")],
            "doc_id long, lang string",
        )
        out = run_search_body(df, {
            "query": {"pinned": {
                "ids": [2],
                "organic": {"term": {"lang": "en"}},
            }},
            "sort": [{"_score": "desc"}],
            "size": 10,
        }).collect()
        assert [r.doc_id for r in out][0] == 2
        assert {r.doc_id for r in out} == {1, 2, 3}


class TestSpanQueries:
    def test_span_term_and_first(self, spark):
        df = spark.createDataFrame(
            [(1, "join scan merge"), (2, "x y z join"), (3, "scan")],
            "doc_id long, text string",
        )
        assert _ids(df, {"span_term": {"text": "join"}}) == [1, 2]
        # join must END within the first 2 positions (0-based pos < 2)
        assert _ids(df, {"span_first": {
            "match": {"span_term": {"text": "join"}}, "end": 2}}) == [1]

    def test_span_near_in_order_and_unordered(self, spark):
        df = spark.createDataFrame(
            [(1, "a x b"), (2, "b a"), (3, "a b"), (4, "b x x a")],
            "doc_id long, text string",
        )
        near = lambda slop, in_order: _ids(df, {"span_near": {
            "clauses": [{"span_term": {"text": "a"}},
                        {"span_term": {"text": "b"}}],
            "slop": slop, "in_order": in_order}})
        assert near(1, True) == [1, 3]
        assert near(0, False) == [2, 3]   # adjacent, either order
        assert near(2, False) == [1, 2, 3, 4]

    def test_span_near_field_and_nesting_guards(self):
        with pytest.raises(ValueError, match="share one field"):
            compile_query({"span_near": {"clauses": [
                {"span_term": {"a": "x"}}, {"span_term": {"b": "y"}}]}})
        with pytest.raises(ValueError, match="span_term"):
            compile_query({"span_near": {"clauses": [
                {"span_near": {"clauses": []}}]}})


class TestCaseInsensitive:
    def test_term_prefix_wildcard(self, spark):
        df = spark.createDataFrame(
            [(1, "BUILDING"), (2, "building"), (3, "AUTOMOBILE")],
            "doc_id long, seg string",
        )
        for q in (
            {"term": {"seg": {"value": "BuIlDiNg",
                              "case_insensitive": True}}},
            {"prefix": {"seg": {"value": "BUILD",
                                "case_insensitive": True}}},
            {"wildcard": {"seg": {"value": "b*ing",
                                  "case_insensitive": True}}},
        ):
            assert _ids(spark.createDataFrame(
                [(1, "BUILDING"), (2, "building"), (3, "AUTOMOBILE")],
                "doc_id long, seg string"), q) == [1, 2]
        # sensitive by default
        assert _ids(df, {"term": {"seg": {"value": "building"}}}) == [2]
        assert _ids(df, {"prefix": {"seg": {"value": "BUILD"}}}) == [1]


class TestResponseShaping:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "b")],
            "doc_id long, price double, tag string",
        )

    def test_script_fields_with_source_false(self, spark):
        out = run_search_body(self._df(spark), {
            "query": {"match_all": {}},
            "sort": [{"doc_id": "asc"}],
            "size": 5,
            "_source": False,
            "script_fields": {"double_price": {"script": {
                "source": "doc['price'].value * 2"}}},
        })
        assert out.columns == ["double_price"]
        assert [r.double_price for r in out.collect()] == [20.0, 40.0]

    def test_docvalue_fields_format(self, spark):
        df = spark.createDataFrame(
            [(1, "2024-03-05 10:00:00")], "doc_id long, ts string"
        ).selectExpr("doc_id", "CAST(ts AS TIMESTAMP) AS ts")
        out = run_search_body(df, {
            "sort": [{"doc_id": "asc"}],
            "size": 5,
            "_source": ["doc_id"],
            "docvalue_fields": [{"field": "ts", "format": "yyyy-MM-dd"}],
        }).collect()
        assert out[0]["ts__dv"] == "2024-03-05"

    def test_fields_epoch_millis(self, spark):
        df = spark.createDataFrame(
            [(1, "2024-03-05 00:00:01")], "doc_id long, ts string"
        ).selectExpr("doc_id", "CAST(ts AS TIMESTAMP) AS ts")
        out = run_search_body(df, {
            "sort": [{"doc_id": "asc"}], "size": 5,
            "_source": ["doc_id"],
            "fields": [{"field": "ts", "format": "epoch_millis"}],
        }).collect()
        assert isinstance(out[0]["ts__dv"], int)

    def test_unknown_field_rejected(self, spark):
        with pytest.raises(ValueError, match="unknown field"):
            run_search_body(self._df(spark), {
                "sort": [{"doc_id": "asc"}], "size": 5,
                "docvalue_fields": ["nope"],
            })

    def test_source_true_keeps_all(self, spark):
        out = run_search_body(self._df(spark), {
            "sort": [{"doc_id": "asc"}], "size": 5, "_source": True,
        })
        assert set(out.columns) == {"doc_id", "price", "tag"}


class TestAnalyzeApi:
    def test_standard_tokens_offsets(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_analyze,
        )

        rows = run_analyze(spark, {
            "text": "Quick,brown naïve_case", "analyzer": "standard",
        }).collect()
        toks = [(r.token, r.start_offset, r.end_offset) for r in rows]
        assert toks == [
            ("quick", 0, 5), ("brown", 6, 11),
            ("naïve", 12, 17), ("case", 18, 22),
        ]

    def test_whitespace_default(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_analyze,
        )

        rows = run_analyze(spark, {"text": "A,b  C"}).collect()
        assert [r.token for r in rows] == ["A,b", "C"]
        assert [r.position for r in rows] == [0, 1]


class TestSearchTemplate:
    def test_render_types(self):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            render_search_template,
        )

        body = render_search_template(
            '{"query": {"bool": {"filter": ['
            '{"term": {"k": "{{v}}"}},'
            '{"range": {"n": {"gte": {{lo}}}}},'
            '{"terms": {"m": {{#toJson}}vals{{/toJson}}}}]}},'
            '"size": {{sz}}}',
            {"v": 'x"y', "lo": 3.5, "vals": [1, 2], "sz": 7},
        )
        assert body["size"] == 7
        f = body["query"]["bool"]["filter"]
        assert f[0]["term"]["k"] == 'x"y'  # escaped through render
        assert f[1]["range"]["n"]["gte"] == 3.5
        assert f[2]["terms"]["m"] == [1, 2]

    def test_missing_param_fails_loud(self):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            render_search_template,
        )

        with pytest.raises(ValueError, match="missing param"):
            render_search_template('{"size": {{n}}}', {})

    def test_list_without_tojson_rejected(self):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            render_search_template,
        )

        with pytest.raises(ValueError, match="toJson"):
            render_search_template('{"a": "{{v}}"}', {"v": [1]})


class TestValidateQuery:
    def test_valid_and_invalid(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_validate_query,
        )

        df = spark.createDataFrame([(1, "a")], "doc_id long, tag string")
        ok = run_validate_query(df, {"query": {"term": {"tag": "a"}}})
        assert ok.first()["valid"] is True
        bad = run_validate_query(df, {"query": {"nope": {}}})
        row = bad.first()
        assert row["valid"] is False and "nope" in row["error"]
        missing = run_validate_query(df, {"query": {"term": {"zz": 1}}})
        assert missing.first()["valid"] is False


class TestRound7Aggs:
    def test_geo_bounds_centroid(self, spark):
        df = spark.createDataFrame(
            [(1, 10, 20), (2, -5, 40), (3, 30, -10)],
            "doc_id long, lat long, lon long",
        ).select(
            "doc_id",
            F.struct(F.col("lat"), F.col("lon")).alias("loc"),
        )
        out = run_search_body(df, {"aggs": {
            "b": {"geo_bounds": {"field": "loc"}},
            "c": {"geo_centroid": {"field": "loc"}},
        }}).first()
        assert (out["b"]["top"], out["b"]["bottom"]) == (30, -5)
        assert (out["b"]["left"], out["b"]["right"]) == (-10, 40)
        assert out["c"]["lat"] == pytest.approx(35 / 3)
        assert out["c"]["count"] == 3

    def test_matrix_stats_skips_incomplete_docs(self, spark):
        df = spark.createDataFrame(
            [(1, 1.0, 2.0), (2, 2.0, 4.0), (3, 3.0, None), (4, 4.0, 8.0)],
            "doc_id long, x double, y double",
        )
        out = run_search_body(df, {"aggs": {
            "m": {"matrix_stats": {"fields": ["x", "y"]}},
        }}).first()["m"]
        # doc 3 (missing y) is excluded from EVERY statistic
        assert out["x_count"] == 3
        assert out["x_mean"] == pytest.approx((1 + 2 + 4) / 3)
        assert out["corr_x_y"] == pytest.approx(1.0)  # y = 2x exactly

    def test_matrix_stats_field_count_guard(self):
        from cga_kinesis_to_elasticsearch_spark.operators.aggsdsl import (
            _metric_expr,
        )

        with pytest.raises(ValueError, match="2..4 fields"):
            _metric_expr("matrix_stats", {"fields": ["only_one"]})

    def test_random_sampler_deterministic_subset(self, spark):
        df = spark.range(1000).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
        )
        body = {"aggs": {"s": {
            "random_sampler": {"probability": 0.3, "seed": 11},
            "aggs": {"n": {"value_count": {"field": "v"}}},
        }}}
        a = run_search_body(df, body).first()
        b = run_search_body(df.repartition(13), body).first()
        # deterministic across partitionings, roughly p of the corpus
        assert a["doc_count"] == b["doc_count"]
        assert 200 <= a["doc_count"] <= 400

    def test_random_sampler_probability_guard(self, spark):
        df = spark.range(5).select(F.col("id").alias("doc_id"))
        with pytest.raises(ValueError, match="probability"):
            run_search_body(df, {"aggs": {"s": {
                "random_sampler": {"probability": 1.5},
                "aggs": {"n": {"value_count": {"field": "doc_id"}}},
            }}})


class TestMultiMatchTypes:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "alpha beta", "en"), (2, "beta", "alpha"),
             (3, "gamma alpha beta", "fr"), (4, "beta alpha", "en")],
            "doc_id long, text string, lang string",
        )

    def test_cross_fields_term_centric(self, spark):
        df = self._df(spark)
        # each term in at least one field: doc 2 has alpha in lang,
        # beta in text — field-centric "and" would reject it
        got = _ids(df, {"multi_match": {
            "query": "alpha beta", "fields": ["text", "lang"],
            "type": "cross_fields", "operator": "and"}})
        assert got == [1, 2, 3, 4]
        # best_fields "and" demands both terms in ONE field
        got = _ids(df, {"multi_match": {
            "query": "alpha beta", "fields": ["text", "lang"],
            "type": "best_fields", "operator": "and"}})
        assert got == [1, 3, 4]

    def test_phrase_and_bool_prefix_types(self, spark):
        df = self._df(spark)
        assert _ids(df, {"multi_match": {
            "query": "alpha beta", "fields": ["text", "lang"],
            "type": "phrase"}}) == [1, 3]
        assert _ids(df, {"multi_match": {
            "query": "gamma alp", "fields": ["text", "lang"],
            "type": "bool_prefix", "operator": "and"}}) == [3]

    def test_most_fields_scores_sum(self, spark):
        df = self._df(spark)
        body = {"query": {"multi_match": {
            "query": "alpha", "fields": ["text", "lang"],
            "type": "most_fields"}},
            "sort": [{"_score": "desc"}], "size": 10}
        out = {r.doc_id: r._score for r in run_search_body(df, body).collect()}
        # doc 2 hits in lang only; docs 1/3/4 in text only; the SUM
        # dispatch means a doc hitting BOTH fields would outrank —
        # here just assert every match scores > 0 and 2 is included
        assert set(out) == {1, 2, 3, 4}
        assert all(v > 0 for v in out.values())

    def test_unknown_type_rejected(self):
        with pytest.raises(ValueError, match="unsupported type"):
            compile_query({"multi_match": {
                "query": "x", "fields": ["a"], "type": "nope"}})


class TestWrapperQuery:
    def test_decodes_and_compiles(self, spark):
        import base64
        import json

        df = spark.createDataFrame(
            [(1, "en"), (2, "fr")], "doc_id long, lang string"
        )
        b64 = base64.b64encode(
            json.dumps({"term": {"lang": "fr"}}).encode()
        ).decode()
        assert _ids(df, {"wrapper": {"query": b64}}) == [2]

    def test_bad_base64_rejected(self):
        with pytest.raises(ValueError, match="cannot decode"):
            compile_query({"wrapper": {"query": "!!not-base64!!"}})


class TestPercolate:
    def test_one_scan_match_pairs(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_percolate,
        )

        df = spark.createDataFrame(
            [(1, "alpha beta", 10), (2, "gamma", 50), (3, "alpha", 99)],
            "doc_id long, text string, n long",
        )
        out = run_percolate(df, [
            ("q_alpha", {"match": {"text": "alpha"}}),
            ("q_big", {"range": {"n": {"gte": 50}}}),
        ]).collect()
        pairs = sorted((r.query_id, r.doc_id) for r in out)
        assert pairs == [
            ("q_alpha", 1), ("q_alpha", 3), ("q_big", 2), ("q_big", 3),
        ]

    def test_empty_queries_rejected(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_percolate,
        )

        df = spark.createDataFrame([(1,)], "doc_id long")
        with pytest.raises(ValueError, match="stored queries"):
            run_percolate(df, [])


class TestCategorizeText:
    def test_digit_tokens_dropped(self, spark):
        df = spark.createDataFrame(
            [(1, "connect from 10.0.0.1 port 22"),
             (2, "connect from 10.9.9.9 port 8080"),
             (3, "disconnect idle timeout")],
            "doc_id long, msg string",
        )
        out = run_search_body(df, {"aggs": {"c": {"categorize_text": {
            "field": "msg"}}}}).collect()
        got = {r["c"]: r["doc_count"] for r in out}
        assert got == {"connect from port": 2,
                       "disconnect idle timeout": 1}

    def test_tuning_params_rejected(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, msg string")
        with pytest.raises(ValueError, match="categorize_text"):
            run_search_body(df, {"aggs": {"c": {"categorize_text": {
                "field": "msg", "similarity_threshold": 70}}}})


class TestRandomScoreAndScriptParams:
    def test_random_score_deterministic(self, spark):
        df = spark.createDataFrame(
            [(i,) for i in range(1, 6)], "doc_id long"
        )
        body = {"query": {"function_score": {
            "query": {"match_all": {}},
            "random_score": {"seed": 9, "field": "doc_id"},
            "boost_mode": "replace",
        }}, "sort": [{"_score": "desc"}], "size": 5}
        a = [r.doc_id for r in run_search_body(df, body).collect()]
        b = [r.doc_id for r in run_search_body(
            df.repartition(3), body).collect()]
        assert a == b  # reproducible across partitionings
        scores = [r._score for r in run_search_body(df, body).collect()]
        assert all(0.0 <= s < 1.0 for s in scores)
        assert len(set(scores)) == 5  # distinct per doc

    def test_random_score_needs_seed_and_field(self, spark):
        df = spark.createDataFrame([(1,)], "doc_id long")
        with pytest.raises(ValueError, match="seed AND field"):
            run_search_body(df, {"query": {"function_score": {
                "random_score": {}}},
                "sort": [{"_score": "desc"}], "size": 1})

    def test_script_params_substitute(self, spark):
        df = spark.createDataFrame(
            [(1, 10.0), (2, 20.0)], "doc_id long, v double"
        )
        out = run_search_body(df, {
            "query": {"script_score": {
                "query": {"match_all": {}},
                "script": {
                    "source": "doc['v'].value * params.k + params.b",
                    "params": {"k": 3, "b": 1.5},
                },
            }},
            "sort": [{"_score": "desc"}], "size": 5,
        }).collect()
        got = {r.doc_id: r._score for r in out}
        assert got == {1: 31.5, 2: 61.5}

    def test_missing_param_fails_at_plan_time(self, spark):
        df = spark.createDataFrame([(1, 1.0)], "doc_id long, v double")
        with pytest.raises(ValueError, match="missing script param"):
            run_search_body(df, {
                "query": {"script_score": {
                    "query": {"match_all": {}},
                    "script": {"source": "doc['v'].value * params.k"},
                }},
                "sort": [{"_score": "desc"}], "size": 1,
            })


class TestKnnSimilarity:
    def test_cutoff_excludes_low_cosine(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [-1.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        out = run_search_body(df, {
            "knn": {"field": "embedding", "query_vector": [1.0, 0.0],
                    "k": 10, "similarity": 0.5},
        }).collect()
        assert sorted(r.vec_id for r in out) == [1, 2]

    def test_bad_similarity_rejected(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
        )
        with pytest.raises(ValueError, match="similarity"):
            run_search_body(df, {
                "knn": {"field": "embedding", "query_vector": [1.0, 0.0],
                        "k": 10, "similarity": 2.0},
            })


class TestStreamingPercolate:
    def test_alerts_over_micro_batches(self, spark, tmp_path):
        """Percolation is a stateless projection, so the same stored
        queries run unchanged over a Structured Streaming source —
        the alerting deployment shape (stored alerts x incoming
        stream, one pass per micro-batch)."""
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_percolate,
        )

        src = str(tmp_path / "in")
        spark.createDataFrame(
            [(1, "disk full on node7", 95),
             (2, "all systems nominal", 10),
             (3, "disk latency high", 80)],
            "doc_id long, msg string, pct long",
        ).write.parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, msg string, pct long"
        ).parquet(src)
        alerts = run_percolate(stream, [
            ("disk_alert", {"match": {"msg": "disk"}}),
            ("saturation", {"range": {"pct": {"gte": 90}}}),
        ])
        q = (
            alerts.writeStream.format("memory")
            .queryName("percolate_alerts")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = sorted(
            (r.query_id, r.doc_id)
            for r in spark.sql("SELECT * FROM percolate_alerts").collect()
        )
        assert rows == [
            ("disk_alert", 1), ("disk_alert", 3), ("saturation", 1),
        ]


class TestFieldCaps:
    def test_type_mapping_and_wildcards(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_field_caps,
        )

        df = spark.createDataFrame(
            [(1, "x", 1.0, True, [0.1], [{"a": 1}])],
            "doc_id long, tag string, score double, ok boolean, "
            "emb array<float>, items array<struct<a: long>>",
        )
        rows = {r.field: (r.type, r.aggregatable)
                for r in run_field_caps(df).collect()}
        assert rows["doc_id"] == ("long", True)
        assert rows["tag"] == ("keyword", True)
        assert rows["emb"] == ("dense_vector", False)
        assert rows["items"] == ("nested", False)
        # wildcard filter
        got = [r.field for r in run_field_caps(df, ["doc_*"]).collect()]
        assert got == ["doc_id"]
        import pytest as _pt
        with _pt.raises(ValueError, match="no field matches"):
            run_field_caps(df, ["zzz*"])


class TestRecursiveHighlight:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "beta delta"), (3, "gamma")],
            "doc_id long, text string",
        )

    def test_bool_wrapped_terms_highlight(self, spark):
        out = run_search_body(self._df(spark), {
            "query": {"bool": {
                "must": [{"match": {"text": "beta"}}],
                "should": [{"match_phrase": {"text": "alpha beta"}}],
                "must_not": [{"match": {"text": "zzz"}}],
            }},
            "highlight": {"fields": {"text": {}}},
            "sort": [{"doc_id": "asc"}], "size": 5,
            "_source": ["doc_id"],
        }).collect()
        marks = {r.doc_id: r.text_highlight for r in out}
        assert marks[1] == "<em>alpha</em> <em>beta</em> gamma"
        assert marks[2] == "<em>beta</em> delta"

    def test_prefix_leaf_highlights_expansions(self, spark):
        out = run_search_body(self._df(spark), {
            "query": {"match_bool_prefix": {"text": "beta gam"}},
            "highlight": {"fields": {"text": {}}},
            "sort": [{"doc_id": "asc"}], "size": 5,
            "_source": ["doc_id"],
        }).collect()
        marks = {r.doc_id: r.text_highlight for r in out}
        assert marks[1] == "alpha <em>beta</em> <em>gamma</em>"
        assert marks[3] == "<em>gamma</em>"

    def test_query_string_wildcard_highlights(self, spark):
        out = run_search_body(self._df(spark), {
            "query": {"query_string": {
                "query": "ga*a OR delta", "default_field": "text"}},
            "highlight": {"fields": {"text": {}}},
            "sort": [{"doc_id": "asc"}], "size": 5,
            "_source": ["doc_id"],
        }).collect()
        marks = {r.doc_id: r.text_highlight for r in out}
        assert marks[1].endswith("<em>gamma</em>")
        assert marks[2] == "beta <em>delta</em>"

    def test_no_highlightable_terms_still_rejected(self, spark):
        with pytest.raises(ValueError, match="no\\s+highlightable"):
            run_search_body(self._df(spark), {
                "query": {"range": {"doc_id": {"gte": 1}}},
                "highlight": {"fields": {"text": {}}},
                "sort": [{"doc_id": "asc"}], "size": 5,
            })


class TestBoolPrefixMsmZero:
    def test_msm_zero_constrains_nothing(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id long, text string"
        )
        got = _ids(df, {"match_bool_prefix": {"text": {
            "query": "gamma delt", "minimum_should_match": "0%"}}})
        assert got == [1, 2]  # msm 0: ES matches everything


class TestRankEval:
    def _df(self, spark):
        return spark.createDataFrame(
            [(i, "hit" if i % 2 == 0 else "miss") for i in range(10)],
            "doc_id long, text string",
        )

    def _body(self, metric):
        return {
            "requests": [{
                "id": "q1",
                "request": {"query": {"match": {"text": "hit"}},
                            "sort": [{"doc_id": "asc"}]},
                # relevant: 0 and 4 (2 of the 5 even docs at k=5...)
                "ratings": [{"_id": 0, "rating": 2},
                            {"_id": 4, "rating": 1},
                            {"_id": 99, "rating": 1}],
            }],
            "metric": metric,
        }

    def test_precision_recall_mrr(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_rank_eval,
        )

        df = self._df(spark)
        # hits at k=5 (doc_id order): 0, 2, 4, 6, 8
        p = run_rank_eval(df, self._body({"precision": {"k": 5}}))
        got = {r.request_id: r.metric_score for r in p.collect()}
        assert got["q1"] == pytest.approx(2 / 5)
        assert got["_overall"] == got["q1"]
        r = run_rank_eval(df, self._body({"recall": {"k": 5}}))
        # 3 rated-relevant overall, 2 retrieved
        assert {x.request_id: x.metric_score for x in r.collect()}[
            "q1"] == pytest.approx(2 / 3)
        m = run_rank_eval(
            df, self._body({"mean_reciprocal_rank": {"k": 5}}))
        assert {x.request_id: x.metric_score for x in m.collect()}[
            "q1"] == pytest.approx(1.0)  # first hit is relevant

    def test_ndcg_normalized(self, spark):
        import math

        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_rank_eval,
        )

        df = self._df(spark)
        out = run_rank_eval(
            df, self._body({"dcg": {"k": 5, "normalize": True}}))
        got = {r.request_id: r.metric_score for r in out.collect()}
        # gains at ranks 1..5: [2,0,1,0,0]; ideal: [2,1,1]
        dcg = (2**2 - 1) / math.log2(2) + (2**1 - 1) / math.log2(4)
        idcg = ((2**2 - 1) / math.log2(2) + (2**1 - 1) / math.log2(3)
                + (2**1 - 1) / math.log2(4))
        assert got["q1"] == pytest.approx(round(dcg / idcg, 6))

    def test_unknown_metric_rejected(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_rank_eval,
        )

        with pytest.raises(ValueError, match="unsupported metric"):
            run_rank_eval(self._df(spark), {
                "requests": [{"id": "x", "request": {}, "ratings": []}],
                "metric": {"bogus": {}},
            })


class TestAliases:
    def test_filtered_union_and_persistence(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.operators.aliases import (
            cat_aliases,
            load_aliases,
            resolve_alias,
            save_aliases,
        )

        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        spark.createDataFrame(
            [(1, "x", 10), (2, "x", 3)], "doc_id long, src string, v long"
        ).write.parquet(a)
        spark.createDataFrame(
            [(3, "y", 99)], "doc_id long, src string, v long"
        ).write.parquet(b)
        reg = {"all": [
            {"path": a, "filter": {"range": {"v": {"gte": 5}}}},
            {"path": b},
        ]}
        p = str(tmp_path / "aliases.json")
        save_aliases(reg, p)
        frame = resolve_alias(spark, load_aliases(p), "all")
        assert sorted(r.doc_id for r in frame.collect()) == [1, 3]
        cat = cat_aliases(spark, reg).collect()
        assert [(r.alias, r.filtered) for r in cat] == [
            ("all", True), ("all", False)]

    def test_unknown_alias_fails_loud(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.aliases import (
            resolve_alias,
        )

        with pytest.raises(ValueError, match="unknown alias"):
            resolve_alias(spark, {}, "nope")

    def test_frame_member_cannot_persist(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.operators.aliases import (
            save_aliases,
        )

        df = spark.range(1)
        with pytest.raises(ValueError, match="frame"):
            save_aliases({"x": [{"df": df}]}, str(tmp_path / "r.json"))


class TestSparseVector:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, {"cat": 2.0, "dog": 1.0}), (2, {"dog": 3.0}),
             (3, {"fish": 1.0}), (4, None)],
            "doc_id long, exp map<string, double>",
        )

    def test_dot_product_scoring(self, spark):
        out = run_search_body(self._df(spark), {
            "query": {"sparse_vector": {
                "field": "exp", "query_vector": {"cat": 2.0, "dog": 0.5},
            }},
            "sort": [{"_score": "desc"}], "size": 10,
        }).collect()
        got = {r.doc_id: r._score for r in out}
        assert got == {1: pytest.approx(4.5), 2: pytest.approx(1.5)}
        assert 3 not in got and 4 not in got  # no query term / null map

    def test_composes_in_scored_bool(self, spark):
        out = run_search_body(self._df(spark), {
            "query": {"bool": {"should": [
                {"sparse_vector": {"field": "exp",
                                   "query_vector": {"fish": 10.0}}},
                {"term": {"doc_id": {"value": 2, "boost": 7.0}}},
            ]}},
            "sort": [{"_score": "desc"}], "size": 10,
        }).collect()
        got = {r.doc_id: r._score for r in out}
        assert got[3] == pytest.approx(10.0)
        assert got[2] == pytest.approx(7.0)

    def test_validation(self):
        with pytest.raises(ValueError, match="query_vector"):
            compile_query({"sparse_vector": {"field": "exp",
                                             "query_vector": {}}})
        with pytest.raises(ValueError, match="non-numeric"):
            compile_query({"sparse_vector": {
                "field": "exp", "query_vector": {"a": "x"}}})


class TestMsearchTemplate:
    def test_batch_renders_and_unions(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_msearch_template,
        )

        df = spark.createDataFrame(
            [(1, "a"), (2, "b")], "doc_id long, tag string"
        )
        t = ('{"query": {"term": {"tag": "{{t}}"}}, '
             '"sort": [{"doc_id": "asc"}], "size": 5, '
             '"_source": ["doc_id"]}')
        out = run_msearch_template(df, [(t, {"t": "a"}), (t, {"t": "b"})])
        rows = sorted((r.request, r.doc_id) for r in out.collect())
        assert rows == [(1, 1), (2, 2)]


class TestHighlightFragments:
    def test_token_window_snippets(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c HIT d e f g HIT h"), (2, "HIT x")],
            "doc_id long, text string",
        )
        out = run_search_body(df, {
            "query": {"match": {"text": "HIT"}},
            "highlight": {"fields": {"text": {
                "number_of_fragments": 2, "fragment_token_radius": 1}}},
            "sort": [{"doc_id": "asc"}], "size": 5,
            "_source": ["doc_id"],
        }).collect()
        marks = {r.doc_id: r.text_highlight for r in out}
        assert marks[1] == "c <em>HIT</em> d ... g <em>HIT</em> h"
        assert marks[2] == "<em>HIT</em> x"  # edge clamp

    def test_fragment_count_cap(self, spark):
        df = spark.createDataFrame(
            [(1, "HIT a HIT b HIT")], "doc_id long, text string"
        )
        out = run_search_body(df, {
            "query": {"match": {"text": "HIT"}},
            "highlight": {"fields": {"text": {
                "number_of_fragments": 1, "fragment_token_radius": 0}}},
            "sort": [{"doc_id": "asc"}], "size": 5,
            "_source": ["doc_id"],
        }).first()
        assert out.text_highlight == "<em>HIT</em>"  # first match only

    def test_fragment_size_rejected(self, spark):
        df = spark.createDataFrame(
            [(1, "x")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="fragment_size"):
            run_search_body(df, {
                "query": {"match": {"text": "x"}},
                "highlight": {"fields": {"text": {
                    "number_of_fragments": 1, "fragment_size": 100}}},
                "sort": [{"doc_id": "asc"}], "size": 1,
            })


class TestMultiKnn:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, [1.0, 0.0], [0.0, 1.0]),
             (2, [0.0, 1.0], [1.0, 0.0]),
             (3, [0.7, 0.7], [0.7, 0.7])],
            "doc_id long, v1 array<float>, v2 array<float>",
        )

    def test_sections_sum(self, spark):
        out = run_search_body(self._df(spark), {
            "knn": [
                {"field": "v1", "query_vector": [1.0, 0.0], "k": 2},
                {"field": "v2", "query_vector": [1.0, 0.0], "k": 2,
                 "boost": 2.0},
            ],
            "size": 3,
        }).collect()
        got = {r.doc_id: r._score for r in out}
        # v1 arm top-2: doc1 (cos 1 -> 1.0), doc3 (~0.854)
        # v2 arm top-2 (boost 2): doc2 (2.0), doc3 (~1.707)
        assert got[1] == pytest.approx(1.0)
        assert got[2] == pytest.approx(2.0)
        assert got[3] == pytest.approx(0.8535534 + 1.7071068, abs=1e-4)

    def test_query_composition_rejected(self, spark):
        with pytest.raises(ValueError, match="multi-knn"):
            run_search_body(self._df(spark), {
                "knn": [{"field": "v1", "query_vector": [1.0, 0.0],
                         "k": 1}],
                "query": {"match_all": {}},
                "size": 1,
            })


class TestCatIndices:
    def test_listing_counts(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.bulk import (
            ParquetIndexSink,
        )

        sink = ParquetIndexSink(str(tmp_path / "lake"))
        docs = spark.createDataFrame(
            [("idx-2024-01-01", "a", 1), ("idx-2024-01-01", "b", 2),
             ("idx-2024-01-02", "c", 3)],
            "es_index string, doc_id string, v long",
        )
        sink.write(docs)
        got = {r["index"]: r["doc_count"]
               for r in sink.cat_indices(spark).collect()}
        assert got == {"idx-2024-01-01": 2, "idx-2024-01-02": 1}


class TestTermsEnum:
    def test_prefix_case_and_keyword_modes(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_terms_enum,
        )

        df = spark.createDataFrame(
            [(1, "Alpha beta", "X1"), (2, "alps gamma", "X2"),
             (3, "beta", None)],
            "doc_id long, text string, tag string",
        )
        # analyzed tokens, case-sensitive
        got = [r.term for r in run_terms_enum(df, {
            "field": "text", "string": "al"}).collect()]
        assert got == ["alps"]
        # case-insensitive includes 'Alpha'
        got = [r.term for r in run_terms_enum(df, {
            "field": "text", "string": "al",
            "case_insensitive": True}).collect()]
        assert got == ["Alpha", "alps"]
        # keyword (unanalyzed) values; NULLs dropped
        got = [r.term for r in run_terms_enum(df, {
            "field": "tag", "string": "X", "analyzed": False}).collect()]
        assert got == ["X1", "X2"]

    def test_size_caps(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esapi import (
            run_terms_enum,
        )

        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(30)))],
            "doc_id long, text string",
        )
        assert run_terms_enum(df, {"field": "text", "size": 5}).count() == 5


class TestEsql:
    def _ev(self, spark):
        return spark.createDataFrame(
            [(1, "click", 10.0), (2, "view", 3.0), (3, "click", 7.5),
             (4, "error", 99.0)],
            "event_id long, event_type string, value double",
        )

    def test_pipe_chain(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esql import (
            run_esql,
        )

        out = run_esql(
            'FROM events | WHERE value > 4 AND event_type == "click" '
            "| EVAL cents = value * 100 "
            "| STATS n = count(*), total = sum(cents) BY event_type "
            "| SORT total DESC | LIMIT 5",
            {"events": self._ev(spark)},
        ).collect()
        assert [r.asDict() for r in out] == [
            {"event_type": "click", "n": 2, "total": 1750.0}]

    def test_keep_drop_rename_limit(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esql import (
            run_esql,
        )

        out = run_esql(
            "FROM events | RENAME event_type AS et | KEEP event_id, et "
            "| SORT event_id ASC | LIMIT 2",
            {"events": self._ev(spark)},
        )
        assert out.columns == ["event_id", "et"]
        assert out.count() == 2

    def test_global_stats_and_string_pipe(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esql import (
            run_esql,
        )

        # a | inside a string literal must not split the pipe chain
        out = run_esql(
            'FROM events | WHERE event_type != "a|b" '
            "| STATS n = count(*)",
            {"events": self._ev(spark)},
        ).first()
        assert out["n"] == 4

    def test_grok_command(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esql import (
            run_esql,
        )

        df = spark.createDataFrame(
            [(1, "alice GET 200")], "id long, line string"
        )
        out = run_esql(
            'FROM t | GROK line "%{WORD:user} %{WORD:verb} '
            '%{INT:code:int}" | KEEP user, verb, code',
            {"t": df},
        ).first()
        assert (out.user, out.verb, out.code) == ("alice", "GET", 200)

    def test_grok_nonmatching_row_is_null(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esql import (
            run_esql,
        )

        df = spark.createDataFrame(
            [(1, "alice GET 200"), (2, "???")], "id long, line string"
        )
        rows = run_esql(
            'FROM t | GROK line "%{WORD:user} %{WORD:verb} '
            '%{INT:code:int}" | SORT id | KEEP user, verb, code',
            {"t": df},
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("alice", "GET", 200),
            (None, None, None),
        ]

    def test_errors_fail_loud(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esql import (
            run_esql,
        )

        ev = self._ev(spark)
        with pytest.raises(ValueError, match="must start with FROM"):
            run_esql("WHERE x > 1", {"events": ev})
        with pytest.raises(ValueError, match="unknown index"):
            run_esql("FROM nope | LIMIT 1", {"events": ev})
        with pytest.raises(ValueError, match="inference endpoint"):
            # COMPLETION needs a live inference model — a dedicated
            # loud gap since round 9
            run_esql('FROM events | COMPLETION "prompt" WITH m',
                     {"events": ev})
        with pytest.raises(ValueError, match="unsupported command"):
            run_esql("FROM events | FROBNICATE x", {"events": ev})
        # LOOKUP is a command now (round 8) — but only as LOOKUP JOIN
        with pytest.raises(ValueError, match="LOOKUP needs"):
            run_esql("FROM events | LOOKUP t ON k", {"events": ev})
        with pytest.raises(ValueError, match="unterminated"):
            run_esql('FROM events | WHERE x == "broken', {"events": ev})


class TestEsqlEnrich:
    def test_enrich_and_mv_expand(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esql import (
            run_esql,
        )

        ev = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 99)], "event_id long, cid long"
        )
        dim = spark.createDataFrame(
            [(10, "gold", "x"), (20, "silver", "y")],
            "cid long, tier string, junk string",
        )
        out = run_esql(
            "FROM events | ENRICH dim ON cid WITH tier "
            "| SORT event_id ASC",
            {"events": ev, "dim": dim},
        ).collect()
        assert [(r.event_id, r.tier) for r in out] == [
            (1, "gold"), (2, "silver"), (3, None)]  # missing tolerated
        assert "junk" not in out[0].asDict()  # WITH narrows
        mv = spark.createDataFrame(
            [(1, ["a", "b"])], "id long, tags array<string>"
        )
        rows = run_esql(
            "FROM t | MV_EXPAND tags | SORT tags ASC", {"t": mv}
        ).collect()
        assert [r.tags for r in rows] == ["a", "b"]

    def test_enrich_errors(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.esql import (
            run_esql,
        )

        ev = spark.createDataFrame([(1, 1)], "id long, k long")
        with pytest.raises(ValueError, match="unknown policy"):
            run_esql("FROM e | ENRICH nope ON k", {"e": ev})
        with pytest.raises(ValueError, match="no match"):
            run_esql("FROM e | ENRICH e ON missing_col",
                     {"e": ev})
