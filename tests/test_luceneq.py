"""Lucene query-syntax parsers (operators/luceneq.py): query_string
(strict) and simple_query_string (error-tolerant), lowered to the
engine's query-DSL tree and executed through compile_query."""

from __future__ import annotations

import pytest

from cga_kinesis_to_elasticsearch_spark.operators.luceneq import (
    query_string_to_dsl,
    simple_query_string_to_dsl,
)
from cga_kinesis_to_elasticsearch_spark.operators.querydsl import (
    apply_query,
    run_search_body,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox", "en", "web", 100),
            (2, "a lazy dog sleeps", "en", "wiki", 250),
            (3, "quick quick silver", "fr", "web", 5500),
            (4, "nothing to see here", "de", "book", 40),
            (5, None, "en", "web", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _ids(df, dsl):
    return sorted(
        r.doc_id for r in apply_query(df, dsl).select("doc_id").collect()
    )


class TestQueryStringLowering:
    def test_lower_case_operators_are_terms(self, docs):
        # ES query_string: only upper-case AND/OR/NOT are operators
        dsl = query_string_to_dsl(
            {"query": "text:(not OR nothing)", "default_field": "text"}
        )
        assert _ids(docs, dsl) == [4]
        dsl = query_string_to_dsl(
            {"query": "quick and lazy", "default_field": "text"}
        )
        assert _ids(docs, dsl) == [1, 2, 3]

    def test_field_terms_and_bools(self, docs):
        dsl = query_string_to_dsl(
            {"query": "lang:en AND (source:web OR source:wiki)",
             "default_field": "text"}
        )
        assert _ids(docs, dsl) == [1, 2, 5]

    def test_default_field_and_implicit_or(self, docs):
        dsl = query_string_to_dsl(
            {"query": "quick lazy", "default_field": "text"}
        )
        assert _ids(docs, dsl) == [1, 2, 3]

    def test_default_operator_and(self, docs):
        dsl = query_string_to_dsl(
            {"query": "quick fox", "default_field": "text",
             "default_operator": "AND"}
        )
        assert _ids(docs, dsl) == [1]

    def test_phrase_and_negation(self, docs):
        # Lucene occurs-bucketing, NOT boolean algebra: `a OR NOT b`
        # becomes should=[a], must_not=[b] in ONE BooleanQuery — the
        # doc must match a AND must not match b (Lucene's famously
        # surprising pure-negative-in-OR behavior, reproduced exactly)
        dsl = query_string_to_dsl(
            {"query": '"quick brown" OR NOT lang:en',
             "default_field": "text"}
        )
        assert _ids(docs, dsl) == []
        # standalone NOT: a bool with only must_not
        dsl = query_string_to_dsl(
            {"query": "NOT lang:en", "default_field": "text"}
        )
        assert _ids(docs, dsl) == [3, 4]
        # phrase alone
        dsl = query_string_to_dsl(
            {"query": 'text:"quick brown"', "default_field": "lang"}
        )
        assert _ids(docs, dsl) == [1]

    def test_wildcards_and_exists(self, docs):
        dsl = query_string_to_dsl(
            {"query": "text:qu?ck*", "default_field": "text"}
        )
        # token-level, like Lucene's multi-term expansion against the
        # analyzed field: any TOKEN matching qu?ck* qualifies the doc
        assert _ids(docs, dsl) == [1, 3]
        dsl = query_string_to_dsl(
            {"query": "text:*", "default_field": "lang"}
        )
        assert _ids(docs, dsl) == [1, 2, 3, 4]  # exists
        dsl = query_string_to_dsl(
            {"query": "_exists_:text", "default_field": "lang"}
        )
        assert _ids(docs, dsl) == [1, 2, 3, 4]

    def test_ranges(self, docs):
        dsl = query_string_to_dsl(
            {"query": "n_chars:[100 TO 250]", "default_field": "text"}
        )
        assert _ids(docs, dsl) == [1, 2]
        dsl = query_string_to_dsl(
            {"query": "n_chars:{100 TO 250]", "default_field": "text"}
        )
        assert _ids(docs, dsl) == [2]
        dsl = query_string_to_dsl(
            {"query": "n_chars:>5000 OR n_chars:<=40",
             "default_field": "text"}
        )
        assert _ids(docs, dsl) == [3, 4, 5]
        dsl = query_string_to_dsl(
            {"query": "n_chars:[1000 TO *]", "default_field": "text"}
        )
        assert _ids(docs, dsl) == [3]

    def test_field_scoped_group(self, docs):
        dsl = query_string_to_dsl(
            {"query": "lang:(en OR fr) AND -source:wiki",
             "default_field": "text"}
        )
        assert _ids(docs, dsl) == [1, 3, 5]

    def test_plus_minus_occurs_bucketing(self, docs):
        # `quick +lang:en -source:wiki`: must lang:en, must_not wiki,
        # `quick` optional (msm 0 because a must exists)
        dsl = query_string_to_dsl(
            {"query": "quick +lang:en -source:wiki",
             "default_field": "text"}
        )
        assert _ids(docs, dsl) == [1, 5]

    def test_multi_fields(self, docs):
        dsl = query_string_to_dsl(
            {"query": "web", "fields": ["text", "source"]}
        )
        assert _ids(docs, dsl) == [1, 3, 5]

    def test_fuzzy_suffix(self, docs):
        dsl = query_string_to_dsl(
            {"query": "lang:eN~1".lower(), "default_field": "text"}
        )
        assert _ids(docs, dsl) == [1, 2, 5]

    def test_escapes(self, docs):
        # \* is a literal star: no doc contains one
        dsl = query_string_to_dsl(
            {"query": "text:qu\\*", "default_field": "text"}
        )
        assert _ids(docs, dsl) == []

    def test_syntax_errors_raise(self):
        for bad in (
            '"unbalanced',
            "(a OR b",
            "a AND",
            "boost^2",
            "text:",
            "a ~ b",
            "mid~dle",
            "n_chars:[1 TO",
            "n_chars:[1 2 3]",
        ):
            with pytest.raises(ValueError):
                query_string_to_dsl(
                    {"query": bad, "default_field": "text"}
                )
        with pytest.raises(ValueError, match="default_field or fields"):
            query_string_to_dsl({"query": "a"})
        with pytest.raises(ValueError, match="boost"):
            query_string_to_dsl({"query": "a", "fields": ["text^2"]})

    def test_scoring_through_search_body(self, docs):
        # a query_string with a match leaf scores like the lowered
        # bool: BM25 addition under the scored-bool path
        rows = run_search_body(docs, {
            "query": {"query_string": {
                "query": "quick OR silver", "default_field": "text"}},
            "size": 3,
            "_source": ["doc_id"],
        }).collect()
        assert rows[0].doc_id == 3  # two matching clauses add scores


class TestSimpleQueryString:
    def test_operators(self, docs):
        dsl = simple_query_string_to_dsl(
            {"query": 'quick + lazy | "nothing to see"',
             "fields": ["text"]}
        )
        # (quick AND lazy) -> none; phrase -> 4
        assert _ids(docs, dsl) == [4]

    def test_negation_and_prefix(self, docs):
        dsl = simple_query_string_to_dsl(
            {"query": "qu* -lang:en", "fields": ["text"]}
        )
        # simple syntax has NO field:value — "-lang:en" is the literal
        # token "lang:en" negated, which matches nothing, so the
        # negation keeps everything qu* matched
        assert _ids(docs, dsl) == [1, 3]

    def test_error_tolerance_never_raises(self, docs):
        for q in ('"unbalanced', "(a | b", "a +", "| | |", ")(", ""):
            dsl = simple_query_string_to_dsl(
                {"query": q, "fields": ["text"]}
            )
            apply_query(docs, dsl).count()  # executes fine

    def test_empty_matches_nothing(self, docs):
        dsl = simple_query_string_to_dsl(
            {"query": "| |", "fields": ["text"]}
        )
        assert _ids(docs, dsl) == []

    def test_multi_field(self, docs):
        dsl = simple_query_string_to_dsl(
            {"query": "web | wiki", "fields": ["source", "text"]}
        )
        assert _ids(docs, dsl) == [1, 2, 3, 5]

    def test_body_errors_still_raise(self):
        with pytest.raises(ValueError):
            simple_query_string_to_dsl({"query": "a"})
        with pytest.raises(ValueError, match="default_operator"):
            simple_query_string_to_dsl(
                {"query": "a", "fields": ["text"],
                 "default_operator": "nand"}
            )


class TestMinimumShouldMatch:
    def test_integer_and_negative(self, docs):
        base = [
            {"term": {"lang": "en"}},
            {"term": {"source": "web"}},
            {"match": {"text": "quick"}},
        ]
        two = {"bool": {"should": base, "minimum_should_match": 2}}
        # doc1 matches all 3; doc2 en+0+0... doc2: lang en (1), source
        # wiki (0), text no quick (0) -> 1; doc3: fr, web, quick -> 2;
        # doc5: en, web, text null -> 2
        assert _ids(docs, two) == [1, 3, 5]
        neg = {"bool": {"should": base, "minimum_should_match": -1}}
        assert _ids(docs, neg) == [1, 3, 5]  # n-1 == 2

    def test_percentage_forms(self, docs):
        base = [
            {"term": {"lang": "en"}},
            {"term": {"source": "web"}},
            {"match": {"text": "quick"}},
        ]
        # 67% of 3 -> floor(2.01) = 2
        pct = {"bool": {"should": base, "minimum_should_match": "67%"}}
        assert _ids(docs, pct) == [1, 3, 5]
        # -34% -> 34% of 3 may be missing: floor(1.02)=1 -> need 2
        npct = {"bool": {"should": base, "minimum_should_match": "-34%"}}
        assert _ids(docs, npct) == [1, 3, 5]
        # 100% == all three
        allp = {"bool": {"should": base, "minimum_should_match": "100%"}}
        assert _ids(docs, allp) == [1]

    def test_string_integer(self, docs):
        base = [{"term": {"lang": "en"}}, {"term": {"lang": "fr"}}]
        assert _ids(
            docs, {"bool": {"should": base, "minimum_should_match": "1"}}
        ) == [1, 2, 3, 5]

    def test_rejects_conditional_spec(self, docs):
        with pytest.raises(ValueError, match="conditional"):
            apply_query(docs, {"bool": {
                "should": [{"term": {"lang": "en"}}],
                "minimum_should_match": "3<90%",
            }})


class TestStandardAnalyzer:
    def test_match_analyzer_standard(self, spark):
        df = spark.createDataFrame(
            [(1, "Foo,bar baz"), (2, "foo bar"), (3, "nothing")],
            "doc_id long, text string",
        )
        std = {"match": {"text": {"query": "foo", "analyzer": "standard"}}}
        assert _ids(df, std) == [1, 2]
        # whitespace default: 'Foo,bar' is one token; 'foo' only in 2
        ws = {"match": {"text": "foo"}}
        assert _ids(df, ws) == [2]
        # query-side analysis: 'FOO,BAZ' -> [foo, baz] under standard
        both = {"match": {"text": {"query": "FOO,BAZ",
                                   "analyzer": "standard"}}}
        assert _ids(df, both) == [1, 2]
        with pytest.raises(ValueError, match="analyzer"):
            apply_query(df, {"match": {"text": {
                "query": "x", "analyzer": "klingon"}}})

    def test_match_phrase_analyzer(self, spark):
        df = spark.createDataFrame(
            [(1, "Quick,Brown fox"), (2, "quick brown cat")],
            "doc_id long, text string",
        )
        dsl = {"match_phrase": {"text": {
            "query": "quick BROWN", "analyzer": "standard"}}}
        assert _ids(df, dsl) == [1, 2]
        assert _ids(df, {"match_phrase": {"text": "quick brown"}}) == [2]

    def test_bm25_scoring_uses_same_tokenization(self, spark):
        df = spark.createDataFrame(
            [(1, "Alpha,beta beta"), (2, "alpha gamma"), (3, "delta")],
            "doc_id long, text string",
        )
        rows = run_search_body(df, {
            "query": {"match": {"text": {
                "query": "BETA", "analyzer": "standard"}}},
            "size": 5,
            "_source": ["doc_id"],
        }).collect()
        # only doc 1 has beta (tf=2 under standard split)
        assert [r.doc_id for r in rows] == [1]
        assert rows[0]._score > 0

    def test_multi_match_analyzer(self, spark):
        df = spark.createDataFrame(
            [(1, "X,y", "none"), (2, "none", "Y,z")],
            "doc_id long, a string, b string",
        )
        dsl = {"multi_match": {"query": "y", "fields": ["a", "b"],
                               "analyzer": "standard"}}
        assert _ids(df, dsl) == [1, 2]
        assert _ids(df, {"multi_match": {
            "query": "y", "fields": ["a", "b"]}}) == []


class TestConstantScoreLeaves:
    def test_term_clause_outranks_nonmatch(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta", "en"), (2, "alpha", "fr"),
             (3, "alpha", "en"), (4, "nope", "en")],
            "doc_id long, text string, lang string",
        )
        rows = run_search_body(df, {
            "query": {"bool": {
                "should": [
                    {"match": {"text": "alpha"}},
                    {"term": {"lang": "en"}},
                ],
            }},
            "size": 4,
            "_source": ["doc_id"],
        }).collect()
        got = [r.doc_id for r in rows]
        # docs 1,3: match + term (BM25 + 1.0); doc 2: match only;
        # doc 4: term only (1.0 > 0) — matched, ranked, not dropped
        assert set(got) == {1, 2, 3, 4}
        assert got.index(4) > got.index(1)
        scores = {r.doc_id: r._score for r in rows}
        assert scores[4] == 1.0
        # doc3 = doc2's BM25 (same text) + the term's constant 1.0
        assert abs((scores[3] - scores[2]) - 1.0) < 1e-9
        assert scores[1] > 1.0 and scores[2] > 0

    def test_explicit_boost_forms(self, spark):
        df = spark.createDataFrame(
            [(1, 50, "en"), (2, 500, "fr")],
            "doc_id long, n long, lang string",
        )
        rows = run_search_body(df, {
            "query": {"bool": {"should": [
                {"term": {"lang": {"value": "en", "boost": 2.5}}},
                {"range": {"n": {"gte": 100, "boost": 3.0}}},
            ]}},
            "size": 2,
            "_source": ["doc_id"],
        }).collect()
        scores = {r.doc_id: r._score for r in rows}
        assert scores[1] == 2.5 and scores[2] == 3.0

    def test_nested_bool_scores_recursively(self, spark):
        df = spark.createDataFrame(
            [(1, "x y", "en"), (2, "x", "en")],
            "doc_id long, text string, lang string",
        )
        rows = run_search_body(df, {
            "query": {"bool": {
                "must": [{"term": {"lang": "en"}}],
                "should": [{"bool": {"should": [
                    {"match": {"text": "y"}},
                ]}}],
            }},
            "size": 2,
            "_source": ["doc_id"],
        }).collect()
        scores = {r.doc_id: r._score for r in rows}
        # doc1: term 1.0 + inner bool BM25(y); doc2: term 1.0 only
        assert scores[1] > scores[2] == 1.0
