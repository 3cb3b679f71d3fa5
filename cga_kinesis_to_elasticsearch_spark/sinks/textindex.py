"""Persisted inverted text index + BM25-ranked search.

The reference's entire purpose is shipping parsed log documents into
Elasticsearch, whose storage core is an inverted index with BM25
ranking. This sink is that core, Spark-native: postings laid out as
PHYSICAL partition directories keyed by a term-hash bucket, so a query
for a handful of terms scans only those terms' buckets (partition
pruning at the file index — the same plan-visible pruning as
sinks/annindex.py), and scoring is pure DataFrame algebra over the
pruned postings.

Layout under ``root``:

- ``postings/bucket=XX/``: ``(term STRING, doc_id LONG, tf LONG,
  positions ARRAY<INT>)``, bucket = first 2 hex chars of md5(term) —
  256 dirs, uniform by md5; a 3-term query touches <= 3 of them.
  Positions (sorted 0-based token offsets) are the standard
  positional-index overhead that buys phrase queries; term-only
  searches never read the column (parquet column pruning).
- ``docs/``: ``(doc_id LONG, dl LONG)`` — per-document token counts.
- ``stats/``: one row ``(n_docs LONG, total_len LONG)``.

Tokenization is the engine-wide normalized form (dedup.normalized_text:
lowercase, strip non-alphanumerics, collapse whitespace) so index terms
agree with every other text operator and with the SQL oracle.

BM25 determinism contract: every input to the score is an integer (tf,
df, dl, N, total_len); the float expression tree is written identically
in the oracle, and the per-document sum over query terms folds in
ascending-term order (the lm_quality_score discipline) — so scores are
bit-identical cross-engine and hash-comparable without tolerance.

Scale shape: the index build is ONE tokenize-explode-aggregate pass
(map-side combined) + one partitioned write; nothing is collected.
Query-time work is proportional to the queried terms' posting lists,
never the corpus: postings for rare terms are a few KB regardless of
corpus size. The doc-length side of BM25 joins postings on doc_id —
at 100 TB that join is the posting list (small) broadcast against the
docs table, or a shuffle of posting-sized data only.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.dedup import normalized_text

__all__ = [
    "build_text_index",
    "search_and",
    "search_boolean",
    "fuzzy_search",
    "more_like_this",
    "suggest_terms",
    "bm25_topk",
    "phrase_search",
    "append_to_text_index",
    "term_bucket",
]


def term_bucket(term) -> "F.Column":
    """2-hex-char md5 bucket of a term — 256 uniform partitions."""
    return F.substring(F.md5(term), 1, 2)


def _tokens(df: DataFrame, text_col: str) -> "F.Column":
    return F.split(normalized_text(F.col(text_col)), " ")


def build_text_index(
    docs: DataFrame,
    root: str | Path,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Build the index in one pass over the corpus."""
    root = Path(root)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_tokens(docs, text_col)).alias("pos", "term"),
    ).filter(F.col("term") != "")
    postings = toks.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf"),
        F.array_sort(F.collect_list("pos")).alias("positions"),
    )
    # cache: the corpus is tokenized ONCE; doc lengths and stats derive
    # from the postings, not a second scan
    postings = postings.persist()
    try:
        # repartition on bucket before partitionBy: without it every
        # task writes a sliver into every bucket dir (tasks x 256 tiny
        # files); with it each dir gets one well-sized file
        postings.withColumn(
            "bucket", term_bucket(F.col("term"))
        ).repartition(F.col("bucket")).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(str(root / "postings"))
        dl = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        dl.write.mode("overwrite").parquet(str(root / "docs"))
        dl.agg(
            F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
        ).coalesce(1).write.mode("overwrite").parquet(str(root / "stats"))
    finally:
        postings.unpersist()


def _postings_for(spark: SparkSession, root: Path, terms: list[str]) -> DataFrame:
    """Postings rows for ``terms`` — the bucket IN (...) predicate is a
    partition filter, so only the queried terms' directories are read
    (PartitionFilters in the scan; pinned in test_textindex.py)."""
    import hashlib

    buckets = sorted(
        {hashlib.md5(t.encode()).hexdigest()[:2] for t in terms}
    )
    return (
        spark.read.parquet(str(root / "postings"))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )


def search_and(
    spark: SparkSession, root: str | Path, terms: list[str]
) -> DataFrame:
    """Boolean AND search: doc_ids containing EVERY query term, with
    total matched-term frequency. Classic posting-list intersection as
    a groupBy: a doc survives iff it appears under all |terms| distinct
    terms (postings are (term, doc) unique by construction)."""
    terms = sorted(set(terms))
    p = _postings_for(spark, Path(root), terms)
    return (
        p.groupBy("doc_id")
        .agg(
            F.count("*").alias("__n_terms"),
            F.sum("tf").alias("total_tf"),
        )
        .filter(F.col("__n_terms") == len(terms))
        .select("doc_id", "total_tf")
    )


def _deletion_variants(term: "F.Column") -> "F.Column":
    """The term plus every single-character-deletion string — the
    SymSpell edit-distance-1 neighborhood, as a narrow array expr."""
    dels = F.transform(
        F.sequence(F.lit(1), F.length(term)),
        lambda i: F.concat(
            F.substring(term, F.lit(1), i - 1),
            term.substr(i + 1, F.length(term)),
        ),
    )
    return F.array_union(F.array(term), dels)


def fuzzy_search(
    spark: SparkSession,
    root: str | Path,
    term: str,
    max_edits: int = 1,
) -> DataFrame:
    """ES-style fuzzy term matching (``fuzziness: 1``): documents
    containing any index term within Levenshtein distance
    ``max_edits`` (currently 1) of ``term``, with the matched terms
    and their total tf per document.

    Scale shape — the SymSpell deletion trick, not a vocabulary
    Levenshtein scan: every dictionary term explodes into its <=
    len+1 single-deletion variants (a narrow, vocabulary-sized
    expansion read from the postings' term column only — parquet
    prunes the rest); the query term's own tiny variant set broadcasts
    against it; candidates that share a variant are then VERIFIED with
    an exact ``levenshtein`` call, so the deletion neighborhood only
    bounds the candidate set (complete for distance 1), never the
    answer. The final posting fetch is bucket-pruned to the matched
    terms. Returns ``(doc_id, n_terms LONG, total_tf LONG)``.
    """
    if max_edits != 1:
        raise ValueError("fuzzy_search currently supports max_edits=1")
    root = Path(root)
    q = term
    q_variants = sorted(
        {q} | {q[:i] + q[i + 1:] for i in range(len(q))}
    )
    vocab = (
        spark.read.parquet(str(root / "postings"))
        .select("term")
        .distinct()
    )
    cand = (
        vocab.select(
            "term", F.explode(_deletion_variants(F.col("term"))).alias("__v")
        )
        .filter(F.col("__v").isin(q_variants))
        .select("term")
        .distinct()
        .filter(F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)
    )
    matched = [r["term"] for r in cand.collect()]
    if not matched:
        return spark.createDataFrame(
            [], "doc_id long, n_terms long, total_tf long"
        )
    p = _postings_for(spark, root, matched)
    return (
        p.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
    )


def search_boolean(
    spark: SparkSession,
    root: str | Path,
    must: list[str] | tuple[str, ...] = (),
    should: list[str] | tuple[str, ...] = (),
    must_not: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """ES bool-query core over the persisted index: a document matches
    iff it contains EVERY ``must`` term, at least ONE ``should`` term
    (when any are given — minimum_should_match=1), and NONE of the
    ``must_not`` terms. Returns ``(doc_id, n_should_hits LONG,
    total_tf LONG)`` where total_tf sums tf over the matched
    must+should terms (the coordination signal a ranking layer feeds
    on).

    Scale shape: one bucket-pruned postings scan for must+should
    (groupBy doc_id with conditional counts — the same posting-list
    intersection as search_and), plus one pruned scan for must_not
    whose distinct doc set anti-joins the candidates. Work is
    proportional to the queried terms' posting lists; the corpus is
    never touched. Term lists must be disjoint (a term's role must be
    unambiguous)."""
    must = sorted(set(must))
    should = sorted(set(should))
    must_not = sorted(set(must_not))
    if not must and not should:
        raise ValueError("boolean search needs at least one must/should term")
    overlap = (set(must) & set(should)) | (
        (set(must) | set(should)) & set(must_not)
    )
    if overlap:
        raise ValueError(f"terms appear in multiple clauses: {sorted(overlap)}")
    root = Path(root)
    p = _postings_for(spark, root, must + should)
    in_must = F.col("term").isin(must) if must else F.lit(False)
    in_should = F.col("term").isin(should) if should else F.lit(False)
    agg = p.groupBy("doc_id").agg(
        F.sum(F.when(in_must, 1).otherwise(0)).alias("__n_must"),
        F.sum(F.when(in_should, 1).otherwise(0)).alias("__n_should"),
        F.sum("tf").alias("total_tf"),
    )
    out = agg.filter(F.col("__n_must") == len(must))
    if should:
        out = out.filter(F.col("__n_should") >= 1)
    if must_not:
        neg = _postings_for(spark, root, must_not).select("doc_id").distinct()
        out = out.join(neg, "doc_id", "left_anti")
    return out.select(
        "doc_id",
        F.col("__n_should").cast("long").alias("n_should_hits"),
        F.col("total_tf").cast("long").alias("total_tf"),
    )


def phrase_search(
    spark: SparkSession, root: str | Path, phrase: list[str]
) -> DataFrame:
    """Exact phrase search from the positional postings: documents
    containing ``phrase`` as consecutive tokens, with the occurrence
    count. Implementation is the classic positional intersection,
    vectorized over the position arrays: starting from term 0's
    positions, each step keeps positions p where p+1 is in the next
    term's list (array_intersect of the shifted list) — after the last
    step the survivors are the phrase END positions, one per match.

    Scale shape: identical to search_and (bucket-pruned posting scans,
    one groupBy on doc_id); the per-row array intersections are linear
    in posting positions, all inside codegen. Duplicate terms in the
    phrase are handled naturally (each step re-joins the same posting
    row)."""
    if not phrase:
        raise ValueError("empty phrase")
    root = Path(root)
    p = _postings_for(spark, root, sorted(set(phrase)))
    # pivot the <= |phrase| matching posting rows per doc into one row:
    # map term -> positions, then chain the shifted intersections
    per_doc = p.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("term"), F.col("positions")))
        ).alias("pos_by_term")
    )
    # every phrase term must be present in the doc
    for t in set(phrase):
        per_doc = per_doc.filter(
            F.map_contains_key(F.col("pos_by_term"), F.lit(t))
        )
    chain = F.element_at(F.col("pos_by_term"), F.lit(phrase[0]))
    for t in phrase[1:]:
        chain = F.array_intersect(
            F.transform(chain, lambda x: x + 1),
            F.element_at(F.col("pos_by_term"), F.lit(t)),
        )
    return per_doc.select(
        "doc_id", F.size(chain).cast("long").alias("n_occurrences")
    ).filter(F.col("n_occurrences") > 0)


def bm25_topk(
    spark: SparkSession,
    root: str | Path,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25-ranked OR search over the persisted index: top-``k``
    documents by ``sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    with the Robertson-Sparck-Jones idf ``ln(1 + (N-df+0.5)/(df+0.5))``
    — Lucene/Elasticsearch's practical scoring function.

    Output: ``(doc_id, n_hit_terms, score)``; ties broken by doc_id for
    a deterministic top-k."""
    root = Path(root)
    terms = sorted(set(terms))
    p = _postings_for(spark, root, terms)
    dl = spark.read.parquet(str(root / "docs"))
    stats = spark.read.parquet(str(root / "stats"))
    dfreq = p.groupBy("term").agg(F.count("*").alias("df"))
    # broadcast the SMALL side: the pruned postings (bounded by the
    # query terms' lists), streamed against the slim corpus-sized
    # (doc_id, dl) table — never the reverse
    scored = (
        dl.join(F.broadcast(p.join(dfreq, "term")), "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        (F.col("tf") * (1.0 + k1))
        / (F.col("tf") + k1 * (1.0 - b + b * (F.col("dl") / avgdl)))
    )
    per_doc = (
        scored.withColumn("__c", contrib)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit_terms"),
            F.aggregate(
                # ascending-term fold: identical operand order in the
                # SQL oracle's list_sum(list(... ORDER BY term))
                F.array_sort(
                    F.collect_list(F.struct(F.col("term"), F.col("__c")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["__c"],
            ).alias("__score"),
        )
    )
    return (
        per_doc.select(
            "doc_id", "n_hit_terms", F.round("__score", 6).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def suggest_terms(
    spark: SparkSession,
    root: str | Path,
    prefix: str,
    k: int = 10,
) -> DataFrame:
    """ES completion-suggester analogue: index terms starting with
    ``prefix``, ranked by document frequency (popularity) descending,
    term ascending. Returns ``(term, df LONG, rank)``.

    The scan reads the postings' term + doc_id columns only (parquet
    column pruning); the md5 bucketing cannot prune a PREFIX query, so
    at serving scale a deployment adds a sorted term-dictionary
    sidecar — the ranking semantics here are the contract that sidecar
    must reproduce."""
    if not prefix:
        raise ValueError("empty prefix")
    root = Path(root)
    p = spark.read.parquet(str(root / "postings")).select("term", "doc_id")
    per_term = (
        p.filter(F.col("term").startswith(prefix))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    w = Window.orderBy(F.desc("df"), F.asc("term"))
    return (
        per_term.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def more_like_this(
    spark: SparkSession,
    root: str | Path,
    like_text: str,
    max_query_terms: int = 5,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``more_like_this``: find documents similar to a free-text
    example. The like-text's terms are ranked by ``tf * idf`` (idf =
    the same Robertson-Sparck-Jones form BM25 uses, computed against
    the INDEX's document frequencies — terms absent from the index are
    dropped, as ES does), the top ``max_query_terms`` become the
    query, and the result is a plain ``bm25_topk`` with them.

    The like-doc is ONE document, so its term profile is driver-side
    by design (the memoized-ensure pattern): the df lookup is a
    bucket-pruned postings scan of just the like-text's terms, the
    stats read is one row, and the search itself is the partition-
    pruned BM25 path. Selection scores round to 9 decimals before
    ranking (score desc, term asc) so the chosen term set is
    engine-exact and the whole operator replays under the SQL oracle.
    """
    import math
    from collections import Counter

    from ..operators.dedup import normalized_text as _nt  # noqa: F401

    root = Path(root)
    # normalize through the SAME Spark expression every indexer uses
    row = (
        spark.createDataFrame([(like_text,)], "t string")
        .select(F.split(normalized_text(F.col("t")), " ").alias("a"))
        .first()
    )
    tf = Counter(t for t in row["a"] if t)
    if not tf:
        return spark.createDataFrame(
            [], "doc_id long, n_hit_terms long, score double"
        )
    p = _postings_for(spark, root, sorted(tf))
    dfreq = {
        r["term"]: r["df"]
        for r in p.groupBy("term").agg(F.count("*").alias("df")).collect()
    }
    n_docs = spark.read.parquet(str(root / "stats")).first()["n_docs"]
    ranked = sorted(
        (
            -round(
                c * math.log(1.0 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5)),
                9,
            ),
            t,
        )
        for t, c in tf.items()
        if t in dfreq
    )
    sel = [t for _, t in ranked[:max_query_terms]]
    if not sel:
        return spark.createDataFrame(
            [], "doc_id long, n_hit_terms long, score double"
        )
    return bm25_topk(spark, root, sel, k=k, k1=k1, b=b)


def append_to_text_index(
    spark: SparkSession,
    batch: DataFrame,
    root: str | Path,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Incrementally index a batch of NEW documents — Elasticsearch's
    defining property (continuous indexing) on the Spark-native index:
    per batch, merge the batch's postings into only the term buckets
    the batch touches, extend the doc-length table, and bump the
    corpus stats. After any sequence of appends the three tables are
    ROW-IDENTICAL to a one-shot build over the union (pinned in
    test_textindex.py), so search/BM25 results cannot depend on how
    the corpus arrived.

    Replay safety: a re-delivered document is detected by doc_id
    (first writer wins — documents are immutable in this pipeline, T1
    semantics) and contributes nothing the second time, so
    at-least-once delivery needs no transactions. Crash safety: the
    touched postings buckets and doc-length shards follow the shared
    swap protocol (_swap.py); stats are rewritten last from the
    durable doc table slice and promoted via the SAME swap protocol,
    so a crash at any point leaves a servable stats/ (possibly stale,
    rebuilt by the next append) — never a missing one.

    Cost per batch: one batch tokenize + a shuffle of batch-sized
    postings + rewrite of touched buckets (bounded by those buckets'
    stored size, not the corpus).
    """
    from ._swap import (
        recover_and_sweep,
        write_partitions_swapped,
        write_swapped,
    )

    root = Path(root)
    (root / "postings").mkdir(parents=True, exist_ok=True)
    recover_and_sweep(root / "postings")
    recover_and_sweep(root / "docs")
    # repairs an interrupted stats/ promotion (.tmp-stats / .old-stats)
    recover_and_sweep(root)

    # drop already-indexed docs (replay / duplicate delivery)
    docs_dir = root / "docs"
    have_docs = any(docs_dir.glob("*.parquet")) or any(
        docs_dir.glob("*/*.parquet")
    )
    new_docs = batch.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    if have_docs:
        stored_dl = spark.read.parquet(str(docs_dir))
        new_docs = new_docs.join(
            stored_dl.select("doc_id"), "doc_id", "left_anti"
        )
    toks = new_docs.select(
        "doc_id",
        F.posexplode(
            F.split(normalized_text(F.col(text_col)), " ")
        ).alias("pos", "term"),
    ).filter(F.col("term") != "")
    bpost = (
        toks.groupBy("term", "doc_id")
        .agg(
            F.count("*").alias("tf"),
            F.array_sort(F.collect_list("pos")).alias("positions"),
        )
        .withColumn("bucket", term_bucket(F.col("term")))
        .persist()
    )
    try:
        touched = sorted(
            r["bucket"] for r in bpost.select("bucket").distinct().collect()
        )
        n_new = bpost.select("doc_id").distinct().count()
        if not touched:
            return 0
        existing = [
            b for b in touched if (root / "postings" / f"bucket={b}").exists()
        ]
        merged = bpost
        if existing:
            stored = (
                spark.read.option("basePath", str(root / "postings"))
                .parquet(
                    *[str(root / "postings" / f"bucket={b}") for b in existing]
                )
            )
            # (term, doc) dedup guards the crash window between the
            # postings swap and the doc-table append: a replay in that
            # window passes the doc-id gate (dl row missing) and would
            # otherwise double-insert identical posting rows
            merged = stored.unionByName(bpost).dropDuplicates(
                ["term", "doc_id"]
            )
        write_partitions_swapped(
            merged.repartition(F.col("bucket")), root / "postings", "bucket"
        )

        # doc lengths: append-only (new docs never collide with stored)
        new_dl = bpost.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        new_dl.write.mode("append").parquet(str(docs_dir))
        # stats: recompute from the durable doc table (slim; one agg)
        full_dl = spark.read.parquet(str(docs_dir))
        # promote via the shared swap protocol — a crash mid-promotion
        # leaves either the old stats/ or a recoverable .old-stats, never
        # a window with NO stats dir (which would fail bm25 until the
        # next append, not just serve stale stats)
        write_swapped(
            full_dl.agg(
                F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
            ).coalesce(1),
            root,
            "stats",
        )
        return n_new
    finally:
        bpost.unpersist(blocking=False)
