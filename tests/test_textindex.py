"""Persisted inverted text index + BM25 search (sinks/textindex.py):
index round-trip, AND semantics, BM25 ranking sanity, and the
partition-pruning contract (queries must not scan unqueried term
buckets)."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
    bm25_topk,
    build_text_index,
    fuzzy_search,
    search_and,
    search_boolean,
)

_DOCS = [
    (0, "spark merges the batch merge merge"),
    (1, "vector scan joins the spark plan"),
    (2, "merge vector spark"),
    (3, "totally unrelated words here"),
    (4, "spark spark spark merge vector vector"),
]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("tix") / "idx"
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    build_text_index(docs, root)
    return root


class TestSearch:
    def test_and_semantics(self, spark, index):
        got = {
            r["doc_id"]: r["total_tf"]
            for r in search_and(spark, index, ["spark", "merge"]).collect()
        }
        # docs 0 (spark 1 + merge 2; "merges" is a different term),
        # 2 (1+1), 4 (3+1) contain both; 1 and 3 don't
        assert got == {0: 3, 2: 2, 4: 4}

    def test_bm25_matches_reference_formula(self, spark, index):
        k1, b = 1.2, 0.75
        terms = ["spark", "merge", "vector"]
        got = {
            r["doc_id"]: (r["n_hit_terms"], r["score"])
            for r in bm25_topk(spark, index, terms, k=10, k1=k1, b=b).collect()
        }
        # pure-Python reference over the same tokenization
        toks = {i: t.split() for i, t in _DOCS}
        dls = {i: len(t) for i, t in toks.items()}
        n_docs, total = len(toks), sum(dls.values())
        avgdl = total / n_docs
        want = {}
        for i, t in toks.items():
            tf = Counter(t)
            score, hits = 0.0, 0
            for term in sorted(terms):
                if tf[term] == 0:
                    continue
                df = sum(1 for tt in toks.values() if term in tt)
                idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                score += idf * (
                    tf[term] * (1.0 + k1)
                    / (tf[term] + k1 * (1.0 - b + b * (dls[i] / avgdl)))
                )
                hits += 1
            if hits:
                want[i] = (hits, round(score, 6))
        assert got == want
        # the triple-term heavy doc must outrank the single-hit docs
        ranked = [
            r["doc_id"]
            for r in bm25_topk(spark, index, terms, k=2, k1=k1, b=b).collect()
        ]
        assert set(ranked) <= {0, 2, 4}

    def test_boolean_must_should_mustnot(self, spark, index):
        # must=spark, should>=1 of {merge, batch}, not vector:
        # doc 0 (spark + merge + batch, no vector) matches;
        # doc 2/4 have vector; doc 1 lacks should; doc 3 lacks must
        got = {
            r["doc_id"]: (r["n_should_hits"], r["total_tf"])
            for r in search_boolean(
                spark,
                index,
                must=["spark"],
                should=["merge", "batch"],
                must_not=["vector"],
            ).collect()
        }
        # doc 0: spark tf 1, merge tf 2, batch tf 1 -> total 4, 2 should terms
        assert got == {0: (2, 4)}

    def test_boolean_should_only_is_any_of(self, spark, index):
        got = {
            r["doc_id"]
            for r in search_boolean(
                spark, index, should=["batch", "joins"]
            ).collect()
        }
        assert got == {0, 1}

    def test_boolean_must_only_equals_search_and(self, spark, index):
        a = {
            (r["doc_id"], r["total_tf"])
            for r in search_and(spark, index, ["spark", "merge"]).collect()
        }
        b = {
            (r["doc_id"], r["total_tf"])
            for r in search_boolean(
                spark, index, must=["spark", "merge"]
            ).collect()
        }
        assert a == b

    def test_boolean_validates_clauses(self, spark, index):
        with pytest.raises(ValueError, match="must/should"):
            search_boolean(spark, index, must_not=["spark"])
        with pytest.raises(ValueError, match="multiple clauses"):
            search_boolean(spark, index, must=["spark"], must_not=["spark"])

    def test_fuzzy_matches_all_edit_kinds(self, spark, index):
        # query 'vectr' vs vocab: 'vector' (insertion) — and a
        # substitution/deletion case via 'scan' vs 'span'-less vocab
        got = {
            r["doc_id"]: (r["n_terms"], r["total_tf"])
            for r in fuzzy_search(spark, index, "vectr").collect()
        }
        # docs 1, 2, 4 contain 'vector'
        assert set(got) == {1, 2, 4}
        assert got[4] == (1, 2)  # 'vector' twice in doc 4

    def test_fuzzy_candidates_complete_vs_bruteforce(self, spark, index):
        """The SymSpell deletion neighborhood must find EXACTLY the
        terms a brute-force levenshtein scan finds (distance 1)."""
        import re as _re

        def lev1(a: str, b: str) -> bool:
            if abs(len(a) - len(b)) > 1:
                return False
            # tiny DP
            import functools

            @functools.lru_cache(maxsize=None)
            def d(i, j):
                if i == 0:
                    return j
                if j == 0:
                    return i
                return min(
                    d(i - 1, j) + 1,
                    d(i, j - 1) + 1,
                    d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
                )

            return d(len(a), len(b)) <= 1

        vocab = {
            w
            for _, text in _DOCS
            for w in _re.sub(r"[^a-z0-9\s]", "", text.lower()).split()
        }
        for q in ["spark", "merg", "vectr", "the", "xyzzy"]:
            want_docs_terms = {t for t in vocab if lev1(q, t)}
            got = fuzzy_search(spark, index, q).collect()
            got_docs = {r["doc_id"] for r in got}
            want_docs = {
                doc_id
                for doc_id, text in _DOCS
                if want_docs_terms
                & set(_re.sub(r"[^a-z0-9\s]", "", text.lower()).split())
            }
            assert got_docs == want_docs, (q, got_docs, want_docs)

    def test_more_like_this_selects_rare_terms_and_ranks(self, spark, index):
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            more_like_this,
        )

        # 'vector' (df 3) outweighs 'the' (common); unknown terms drop
        out = more_like_this(
            spark, index, "vector vector the qqqqzz", max_query_terms=1, k=5
        ).collect()
        got = {r["doc_id"] for r in out}
        assert got == {1, 2, 4}  # exactly the vector docs
        # doc 4 has vector twice -> highest tf -> ranks first
        assert out[0]["doc_id"] == 4

    def test_suggest_terms_prefix_popularity(self, spark, index):
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            suggest_terms,
        )

        got = [
            (r["term"], r["df"], r["rank"])
            for r in suggest_terms(spark, index, "s", k=5).collect()
        ]
        # 'spark' in docs 0,1,2,4 (df 4); 'scan' in doc 1 only
        assert got[0] == ("spark", 4, 1)
        assert ("scan", 1, 2) in got
        with pytest.raises(ValueError, match="prefix"):
            suggest_terms(spark, index, "")

    def test_more_like_this_empty_inputs(self, spark, index):
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            more_like_this,
        )

        assert more_like_this(spark, index, "").count() == 0
        assert more_like_this(spark, index, "zzz qqq").count() == 0

    def test_unknown_term_empty(self, spark, index):
        assert search_and(spark, index, ["zzzznope"]).count() == 0


class TestPruning:
    def test_partition_filter_pins_buckets(self, spark, index):
        plan = (
            search_and(spark, index, ["spark"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert scan and "bucket" in scan[0]
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan[0])
        assert m and m.group(1).strip(), "empty partition filter — no pruning"


class TestPhraseSearch:
    def test_phrase_counts(self, spark, index):
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            phrase_search,
        )

        got = {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_search(spark, index, ["merge", "merge"]).collect()
        }
        # doc 0: "... merge merge" -> one consecutive pair
        assert got == {0: 1}
        got2 = {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_search(spark, index, ["spark", "spark"]).collect()
        }
        # doc 4: "spark spark spark" -> two overlapping pairs
        assert got2 == {4: 2}

    def test_three_term_phrase(self, spark, index):
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            phrase_search,
        )

        got = {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_search(
                spark, index, ["spark", "spark", "spark"]
            ).collect()
        }
        assert got == {4: 1}
        # doc 2 is exactly "merge vector spark"
        got3 = {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_search(
                spark, index, ["merge", "vector", "spark"]
            ).collect()
        }
        assert got3 == {2: 1}

    def test_absent_phrase_empty(self, spark, index):
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            phrase_search,
        )

        # both terms exist corpus-wide but never adjacently in doc 3
        assert phrase_search(spark, index, ["vector", "merge"]).count() == 0


class TestIncrementalAppend:
    def test_appends_equal_one_shot_build(self, spark, sf_dir, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.io import load_table
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            append_to_text_index,
            bm25_topk,
            build_text_index,
        )

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        inc = tmp_path / "inc"
        for part in range(3):
            n = append_to_text_index(
                spark, docs.filter(F.col("doc_id") % 3 == part), inc
            )
            assert n > 0
        ref = tmp_path / "ref"
        build_text_index(docs, ref)

        def postings(root):
            return {
                (r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
                for r in spark.read.parquet(f"{root}/postings").collect()
            }

        assert postings(inc) == postings(ref)
        dl = lambda root: {
            (r["doc_id"], r["dl"])
            for r in spark.read.parquet(f"{root}/docs").collect()
        }
        assert dl(inc) == dl(ref)
        st = lambda root: spark.read.parquet(f"{root}/stats").first()
        assert st(inc).asDict() == st(ref).asDict()
        # and the search surface agrees
        q = ["spark", "merge", "vector"]
        a = [tuple(r) for r in bm25_topk(spark, inc, q, k=10).collect()]
        b = [tuple(r) for r in bm25_topk(spark, ref, q, k=10).collect()]
        assert a == b

    def test_replayed_batch_is_noop(self, spark, sf_dir, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.io import load_table
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            append_to_text_index,
        )

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        root = tmp_path / "t"
        b1 = docs.filter(F.col("doc_id") < 100)
        assert append_to_text_index(spark, b1, root) > 0
        before = {
            (r["term"], r["doc_id"], r["tf"])
            for r in spark.read.parquet(f"{root}/postings").collect()
        }
        stats_before = spark.read.parquet(f"{root}/stats").first().asDict()
        # at-least-once redelivery: nothing changes
        assert append_to_text_index(spark, b1, root) == 0
        after = {
            (r["term"], r["doc_id"], r["tf"])
            for r in spark.read.parquet(f"{root}/postings").collect()
        }
        assert after == before
        assert spark.read.parquet(f"{root}/stats").first().asDict() == stats_before


class TestStreamingIndexHook:
    def test_stream_builds_searchable_index(self, spark, sf_dir, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.operators.enrichment import (
            flatten_dimensions,
        )
        from cga_kinesis_to_elasticsearch_spark.pipeline import PipelineConfig
        from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            append_to_text_index,
            search_and,
        )
        from cga_kinesis_to_elasticsearch_spark.sources.envelopes import (
            ALLOWED_ORIGINS,
            synthesize_cf_dimensions,
            synthesize_envelopes,
        )
        from cga_kinesis_to_elasticsearch_spark.sources.records import (
            read_raw_record_stream,
            write_raw_records,
        )
        from cga_kinesis_to_elasticsearch_spark.streaming.job import (
            StreamConfig,
            drain,
            run_stream,
        )

        records = synthesize_envelopes(spark, sf_dir)
        src = tmp_path / "raw"
        write_raw_records(records, str(src))
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()
        sink = ParquetIndexSink(tmp_path / "sink")
        idx = tmp_path / "textidx"
        cfg = StreamConfig(
            checkpoint_location=str(tmp_path / "ck"),
            available_now=True,
            pipeline=PipelineConfig(allowed_origins=ALLOWED_ORIGINS),
            after_write=(
                lambda d, touched, batch_id: append_to_text_index(
                    d.sparkSession,
                    d.select(
                        "doc_id",
                        F.col("parsed_generic.log_event").alias("text"),
                    ).filter(F.col("text").isNotNull()),
                    str(idx),
                    text_col="text",
                    id_col="doc_id",
                ),
            ),
        )
        query, _ = run_stream(
            spark,
            read_raw_record_stream(spark, str(src)),
            lambda s: dim,
            sink,
            cfg,
        )
        drain(query)
        # the landed docs are now full-text searchable: pick a term
        # from one landed document and find it through the index
        docs = spark.read.parquet(str(tmp_path / "sink" / "data"))
        sample = (
            docs.select("doc_id", F.col("parsed_generic.log_event").alias("t"))
            .filter(F.col("t").isNotNull())
            .first()
        )
        # derive the probe term with the INDEX's own normalization
        # (strip non-alnum without spacing: "evt=view" -> "evtview")
        import re as _re

        norm = _re.sub(
            r"\s+", " ", _re.sub(r"[^a-z0-9\s]", "", sample["t"].lower())
        ).strip()
        term = next(w for w in norm.split() if len(w) > 2)
        hits = {r["doc_id"] for r in search_and(spark, idx, [term]).collect()}
        assert sample["doc_id"] in hits
        # index doc table covers every indexed (non-null-text) doc
        n_indexed = spark.read.parquet(str(idx / "docs")).count()
        n_docs_with_text = docs.filter(
            F.col("parsed_generic.log_event").isNotNull()
        ).count()
        assert n_indexed == n_docs_with_text

    def test_crash_between_postings_and_docs_append_recovers(
        self, spark, sf_dir, tmp_path
    ):
        """Simulate a crash after the postings swap but before the
        doc-table append: the replayed batch passes the doc-id gate,
        and the (term, doc) dedup in the merge must keep the postings
        single — no double counting in search."""
        import shutil

        from cga_kinesis_to_elasticsearch_spark.io import load_table
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            append_to_text_index,
        )

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        root = tmp_path / "t"
        b1 = docs.filter(F.col("doc_id") < 60)
        append_to_text_index(spark, b1, root)
        want = {
            (r["term"], r["doc_id"], r["tf"])
            for r in spark.read.parquet(f"{root}/postings").collect()
        }
        # crash simulation: the doc table vanishes, postings survive
        shutil.rmtree(root / "docs")
        append_to_text_index(spark, b1, root)  # replay of the same batch
        got = {
            (r["term"], r["doc_id"], r["tf"])
            for r in spark.read.parquet(f"{root}/postings").collect()
        }
        assert got == want


class TestHybridRRF:
    """hybrid_rrf_search: RRF fusion of the BM25 and cosine arms."""

    def test_fused_scores_and_order(self, spark):
        from cga_kinesis_to_elasticsearch_spark.plans.searchindex import (
            _RRF_DEPTH,
            _RRF_K,
            _RRF_QVEC,
            _RRF_TOPK,
            _TERMS,
            _built_index,
            _hybrid_rrf_search,
        )
        from cga_kinesis_to_elasticsearch_spark.operators.similarity import (
            cosine_topk,
        )
        from cga_kinesis_to_elasticsearch_spark.sinks.textindex import (
            bm25_topk,
        )

        sf_dir = "/root/testdata/sf0.001"
        rows = _hybrid_rrf_search(spark, sf_dir).collect()
        assert 0 < len(rows) <= _RRF_TOPK

        # recompute both arms' rank lists independently
        root = _built_index(spark, sf_dir)
        bm = bm25_topk(spark, root, _TERMS, k=_RRF_DEPTH).collect()
        bm_rank = {
            r["doc_id"]: i + 1
            for i, r in enumerate(
                sorted(bm, key=lambda r: (-r["score"], r["doc_id"]))
            )
        }
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        sem = cosine_topk(
            emb, emb.filter(F.col("vec_id") == _RRF_QVEC), k=_RRF_DEPTH
        ).collect()
        cos_rank = {r["vec_id"]: r["rank"] for r in sem}

        for r in rows:
            expect = round(
                (1.0 / (_RRF_K + bm_rank[r["doc_id"]])
                 if r["doc_id"] in bm_rank else 0.0)
                + (1.0 / (_RRF_K + cos_rank[r["doc_id"]])
                   if r["doc_id"] in cos_rank else 0.0),
                6,
            )
            assert r["rrf_score"] == pytest.approx(expect, abs=1e-9)
            assert r["bm25_rank"] == bm_rank.get(r["doc_id"])
            assert r["cos_rank"] == cos_rank.get(r["doc_id"])
        # output is the global fused top-k, ordered desc with id tiebreak
        got = [(r["rrf_score"], r["doc_id"]) for r in rows]
        assert got == sorted(got, key=lambda t: (-t[0], t[1]))
        # a doc ranked by BOTH arms must beat one ranked by neither arm
        # at equal depth: every fused score is positive
        assert all(r["rrf_score"] > 0 for r in rows)
