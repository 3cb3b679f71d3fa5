"""Unit tests for the corpus-curation operators: vocabulary coverage,
boilerplate line removal, semantic dedup, label-centroid outlier
scores (declared-query counterparts live in plans/corpus.py)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators import similarity as S
from cga_kinesis_to_elasticsearch_spark.operators import text as T


class TestVocabCoverage:
    def test_counts_rank_and_cumulative_share(self, spark):
        docs = spark.createDataFrame(
            [(1, "a a a b b c"), (2, "a b d")],
            "doc_id int, text string",
        )
        rows = {
            r.term: r
            for r in T.vocab_coverage(docs, "text", top_k=10).collect()
        }
        assert rows["a"].n == 4 and rows["a"].rank == 1
        assert rows["b"].n == 3 and rows["b"].rank == 2
        # ties broken by term asc
        assert rows["c"].rank == 3 and rows["d"].rank == 4
        assert rows["a"].cum_share == pytest.approx(4 / 9)
        # full vocab within top_k -> last cumulative share is 1.0
        assert rows["d"].cum_share == pytest.approx(1.0)

    def test_top_k_truncates_but_denominator_is_corpus_total(self, spark):
        docs = spark.createDataFrame(
            [(1, "x x x y y z")], "doc_id int, text string"
        )
        rows = T.vocab_coverage(docs, "text", top_k=2).collect()
        assert [r.term for r in rows] == ["x", "y"]
        assert rows[-1].cum_share == pytest.approx(5 / 6)


class TestLineBoilerplate:
    def test_repeated_lines_flagged_and_stripped(self, spark):
        footer = "all rights reserved"
        docs = spark.createDataFrame(
            [
                (1, f"unique one\n{footer}"),
                (2, f"unique two\n{footer}"),
                (3, f"unique three\n{footer}\nextra"),
            ],
            "doc_id int, text string",
        )
        out = {
            r.doc_id: r
            for r in T.line_boilerplate(docs, "text", "doc_id", min_docs=2).collect()
        }
        assert out[1].n_lines == 2 and out[1].n_boiler == 1
        assert out[3].n_lines == 3 and out[3].n_boiler == 1
        assert out[1].boiler_frac == pytest.approx(0.5)
        import hashlib

        assert out[3].retained_md5 == hashlib.md5(
            b"unique three\nextra"
        ).hexdigest()

    def test_no_boilerplate_keeps_everything(self, spark):
        docs = spark.createDataFrame(
            [(1, "a\nb"), (2, "c\nd")], "doc_id int, text string"
        )
        out = T.line_boilerplate(docs, "text", "doc_id", min_docs=2).collect()
        assert all(r.n_boiler == 0 for r in out)
        assert all(r.boiler_frac == 0.0 for r in out)


def _vec(seed: int, dim: int = 64) -> list[float]:
    rng = np.random.RandomState(seed)
    v = rng.rand(dim) - 0.5
    return [float(x) for x in v]


class TestSemanticDedup:
    def test_duplicate_drops_higher_id_only(self, spark):
        base = _vec(7)
        rows = [(0, base), (1, base), (2, _vec(99))]
        emb = spark.createDataFrame(
            rows, "vec_id int, embedding array<double>"
        )
        out = {r.vec_id: r.kept for r in S.semantic_dedup(emb, 0.99).collect()}
        assert out == {0: True, 1: False, 2: True}

    def test_all_kept_when_nothing_similar(self, spark):
        rows = [(i, _vec(i)) for i in range(4)]
        emb = spark.createDataFrame(
            rows, "vec_id int, embedding array<double>"
        )
        out = S.semantic_dedup(emb, 0.999).collect()
        assert all(r.kept for r in out)


class TestLabelCentroidDistance:
    def test_matches_numpy(self, spark):
        vecs = {0: _vec(1), 1: _vec(2), 2: _vec(3)}
        rows = [(0, vecs[0], 10), (1, vecs[1], 10), (2, vecs[2], 20)]
        emb = spark.createDataFrame(
            rows, "vec_id int, embedding array<double>, label int"
        )
        out = {
            r.vec_id: r.dist_to_centroid
            for r in S.label_centroid_distance(emb).collect()
        }
        cent10 = np.round((np.array(vecs[0]) + np.array(vecs[1])) / 2, 9)
        exp0 = math.sqrt(float(np.sum((np.array(vecs[0]) - cent10) ** 2)))
        assert out[0] == pytest.approx(exp0, abs=1e-6)
        # a label's lone member sits on its own centroid
        assert out[2] == pytest.approx(0.0, abs=1e-6)


class TestBpeAndOov:
    def _patch(self, monkeypatch, docs):
        from cga_kinesis_to_elasticsearch_spark.plans import corpus as C

        monkeypatch.setattr(C, "_tp", lambda s, d, n: docs)
        return C

    def test_bpe_pair_counts(self, spark, monkeypatch):
        docs = spark.createDataFrame(
            [(1, "abab ab"), (2, "ba")], "doc_id int, text string"
        )
        C = self._patch(monkeypatch, docs)
        rows = {r.pair: r for r in C._bpe_merge_pairs(spark, "u").collect()}
        # 'abab' -> ab,ba,ab ; 'ab' -> ab ; 'ba' -> ba
        assert rows["ab"].n == 3 and rows["ab"].rank == 1
        assert rows["ba"].n == 2 and rows["ba"].rank == 2

    def test_oov_rate_against_top_vocab(self, spark, monkeypatch):
        # vocab (top-20) easily covers all terms except the rare one
        common = " ".join(["tok"] * 30)
        docs = spark.createDataFrame(
            [(1, common), (2, "tok zzzrare tok zzzrare")],
            "doc_id int, text string",
        )
        C = self._patch(monkeypatch, docs)
        out = {r.doc_id: r for r in C._oov_rate(spark, "u").collect()}
        assert out[1].n_oov == 0 and out[1].oov_rate == 0.0
        # both terms fit in top-20 vocab here, so craft >20 distinct rares
        many = " ".join(f"r{i}" for i in range(25))
        docs2 = spark.createDataFrame(
            [(1, " ".join(["tok"] * 50)), (2, many)],
            "doc_id int, text string",
        )
        C2 = self._patch(monkeypatch, docs2)
        out2 = {r.doc_id: r for r in C2._oov_rate(spark, "u").collect()}
        # 25 distinct rares + tok = 26 terms; vocab keeps top 20 -> 6 oov
        assert out2[2].n_oov == 6
        assert out2[2].oov_rate == round(6 / 25, 6)


class TestUnigramLogprob:
    def test_common_tokens_score_higher(self, spark):
        import math

        from cga_kinesis_to_elasticsearch_spark.operators.text import (
            unigram_logprob,
        )

        docs = spark.createDataFrame(
            [
                (1, "common common common common"),
                (2, "common common rare common"),
            ],
            "doc_id int, text string",
        )
        out = {r.doc_id: r for r in unigram_logprob(docs, "text", "doc_id").collect()}
        assert out[1].n_tokens == 4 and out[2].n_tokens == 4
        # corpus: common x7, rare x1, total 8
        exp1 = round(math.log(7 / 8), 6)
        assert abs(out[1].avg_logprob - exp1) < 1e-6
        exp2 = round((3 * math.log(7 / 8) + math.log(1 / 8)) / 4, 6)
        assert abs(out[2].avg_logprob - exp2) < 1e-6
        # the atypical doc scores strictly lower
        assert out[2].avg_logprob < out[1].avg_logprob


class TestSignificantTerms:
    def test_jlh_scores_and_filters(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.text import (
            significant_terms,
        )

        docs = spark.createDataFrame(
            [
                (0, "der hund common", "de"),
                (1, "der katze common", "de"),
                (2, "the cat common", "en"),
                (3, "the dog common", "en"),
                (4, "the bird common", "en"),
            ],
            "doc_id long, text string, lang string",
        )
        got = {
            r["term"]: r
            for r in significant_terms(
                docs, F.col("lang") == "de", "text", "doc_id", k=10
            ).collect()
        }
        # 'der' in 2/2 fg docs, 2/5 bg: fg_pct=1, bg_pct=0.4
        assert got["der"].fg_count == 2 and got["der"].bg_count == 2
        assert got["der"].score == round((1 - 0.4) * (1 / 0.4), 6)
        assert got["der"].rank == 1
        # 'common' is in everything: fg_pct == bg_pct -> score 0, excluded
        assert "common" not in got
        # 'hund' appears in only 1 fg doc -> below min_doc_count
        assert "hund" not in got
        # background-only terms have fg_count 0 -> excluded
        assert "cat" not in got


class TestBigramLogprob:
    def test_matches_python_reference_incl_backoff(self, spark):
        import math
        from collections import Counter

        from cga_kinesis_to_elasticsearch_spark.operators.text import (
            bigram_logprob,
        )

        train_rows = [(0, "a b a b c"), (1, "a b c a")]
        score_rows = train_rows + [(2, "c b zz a")]  # unseen bigram + token
        train = spark.createDataFrame(train_rows, "doc_id int, text string")
        docs = spark.createDataFrame(score_rows, "doc_id int, text string")
        got = {
            r.doc_id: r
            for r in bigram_logprob(docs, train, "text", "doc_id").collect()
        }

        uni: Counter = Counter()
        big: Counter = Counter()
        for _, text in train_rows:
            ts = text.split()
            uni.update(ts)
            big.update(zip(ts, ts[1:]))
        U, V = sum(uni.values()), len(uni)

        def ref(text: str) -> tuple[int, float]:
            ts = text.split()
            s = 0.0
            for i, cur in enumerate(ts):
                if i == 0:
                    s += math.log(uni.get(cur, 0) + 1.0) - math.log(U + V)
                elif (ts[i - 1], cur) in big:
                    s += math.log(big[(ts[i - 1], cur)]) - math.log(
                        uni[ts[i - 1]]
                    )
                else:
                    s += (
                        math.log(0.4)
                        + math.log(uni.get(cur, 0) + 1.0)
                        - math.log(U + V)
                    )
            return len(ts), round(s / len(ts), 6)

        for doc_id, text in score_rows:
            n, lp = ref(text)
            assert got[doc_id].n_tokens == n
            assert abs(got[doc_id].avg_logprob - lp) < 2e-6
        # the doc full of unseen transitions scores lowest
        assert got[2].avg_logprob < min(got[0].avg_logprob, got[1].avg_logprob)

    def test_empty_and_single_token_docs(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.text import (
            bigram_logprob,
        )

        train = spark.createDataFrame([(0, "a b")], "doc_id int, text string")
        docs = spark.createDataFrame(
            [(1, "a"), (2, "")], "doc_id int, text string"
        )
        out = {r.doc_id: r for r in bigram_logprob(docs, train, "text", "doc_id").collect()}
        assert out[1].n_tokens == 1  # unigram-only scoring
        assert 2 not in out  # zero-token docs produce no score row


class TestCdcChunking:
    """cdc_chunk_tokens: boundary locality — an edit re-chunks only
    its neighborhood, later chunks are byte-identical."""

    def test_edit_locality(self, spark):
        from cga_kinesis_to_elasticsearch_spark.operators.text import (
            cdc_chunk_tokens,
        )

        words = [f"w{i}" for i in range(120)]
        orig = " ".join(words)
        edited = " ".join(["CHANGED"] + words[1:])  # token 0 edited
        df = spark.createDataFrame(
            [(0, orig), (1, edited)], "doc_id long, text string"
        )
        rows = cdc_chunk_tokens(df, "text", "doc_id", w=4).collect()
        chunks = {0: {}, 1: {}}
        for r in rows:
            chunks[r["doc_id"]][r["chunk_id"]] = (
                r["n_chunk_tokens"], r["chunk_md5"]
            )
        a = [chunks[0][i] for i in sorted(chunks[0])]
        b = [chunks[1][i] for i in sorted(chunks[1])]
        # token sums must cover the docs exactly
        assert sum(n for n, _ in a) == 120 and sum(n for n, _ in b) == 120
        # every chunk of the original whose tokens start after the
        # edit's window neighborhood must reappear verbatim in the
        # edited doc's chunk list (same hash) — the CDC property a
        # fixed-size chunker cannot give
        tail_a = set(h for _, h in a[1:])
        tail_b = set(h for _, h in b[1:])
        assert len(a) > 2, "need several chunks for a meaningful test"
        assert tail_a == tail_b
        # and the first chunks differ (the edit is actually visible)
        assert a[0] != b[0]


class TestFertilityAndEntropy:
    def test_fertility_consistency(self, spark):
        from cga_kinesis_to_elasticsearch_spark.plans.corpus import (
            _bpe_fertility_by_lang,
        )

        rows = _bpe_fertility_by_lang(spark, "/root/testdata/sf0.001").collect()
        assert rows
        for r in rows:
            # BPE cannot emit fewer tokens than words, and fertility is
            # exactly the quotient of the reported sums
            assert r["n_tokens"] >= r["n_words"] > 0
            assert r["fertility"] == round(r["n_tokens"] / r["n_words"], 4)

    def test_entropy_known_values(self, spark):
        import math

        from cga_kinesis_to_elasticsearch_spark.plans import QUERY_REGISTRY

        fn = QUERY_REGISTRY["char_entropy_quality"][0]
        # replay on handcrafted docs through a temp view is overkill —
        # compute directly with the operator expression via real data,
        # then pin two analytic cases with a local spark frame
        from cga_kinesis_to_elasticsearch_spark.operators.dedup import (
            normalized_text,
        )

        rows = fn(spark, "/root/testdata/sf0.001").collect()
        assert all(0.0 <= r["char_entropy"] <= math.log2(37) + 1e-9 for r in rows)
        # natural text should overwhelmingly pass the 3.0-bit floor
        frac_pass = sum(r["entropy_pass"] for r in rows) / len(rows)
        assert frac_pass > 0.9


class TestUnigramTfGate:
    """unigram_logprob's size-gated tf materialization (r10) must be
    result-invariant: both branches produce byte-identical scores (the
    sorted fold fixes operand order, and a checkpoint never changes
    values)."""

    def test_both_branches_equal(self, spark):
        import cga_kinesis_to_elasticsearch_spark.operators.text as T

        rows = [(i, f"alpha beta w{i % 7} gamma gamma w{i % 3}") for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        old = T.TF_CHECKPOINT_MIN_BYTES
        try:
            T.TF_CHECKPOINT_MIN_BYTES = 1 << 60  # force lineage branch
            a = {tuple(r) for r in T.unigram_logprob(df, "text", "doc_id").collect()}
            T.TF_CHECKPOINT_MIN_BYTES = 0  # force checkpoint branch
            b = {tuple(r) for r in T.unigram_logprob(df, "text", "doc_id").collect()}
        finally:
            T.TF_CHECKPOINT_MIN_BYTES = old
        assert a == b and len(a) == 50

    def test_unsized_input_keeps_lineage(self, spark, monkeypatch):
        import cga_kinesis_to_elasticsearch_spark.operators.text as T

        rows = [(i, f"alpha beta w{i % 7} gamma") for i in range(50)]
        # an RDD-backed frame carries no stats: the optimizer reports
        # defaultSizeInBytes (~Long.MaxValue), which says nothing about
        # the input's real size
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows), "doc_id long, text string"
        ).filter(F.col("doc_id") >= 0)
        est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert int(est) >= 1 << 60
        calls = []
        real = type(df).localCheckpoint

        def spy(self, *a, **k):
            calls.append(1)
            return real(self, *a, **k)

        monkeypatch.setattr(type(df), "localCheckpoint", spy)
        out = T.unigram_logprob(df, "text", "doc_id").collect()
        assert calls == [] and len(out) == 50
