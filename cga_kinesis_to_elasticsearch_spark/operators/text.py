"""Text-analysis operators for training-data pipelines (north star):
language ID, quality scoring, token counting, fingerprinting.

All pure built-in expressions (codegen, no Python), each with an exact
SQL equivalent for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .dedup import normalized_text

__all__ = [
    "token_stats",
    "quality_score",
    "quality_columns",
    "lang_guess_column",
    "lang_guess_from_tokens",
    "lang_id",
    "language_segments",
    "fingerprint",
    "bpe_ish_token_count",
    "tf_idf_top_terms",
    "repetition_signals",
    "dup_ngram_coverage",
    "chunk_tokens",
    "chunk_tokens_overlap",
    "cdc_chunk_tokens",
    "vocab_coverage",
    "line_boilerplate",
    "quality_classifier",
    "clean_text",
    "length_winsorize",
    "pack_spans",
    "unigram_logprob",
    "bigram_logprob",
    "significant_terms",
    "STOPWORDS",
    "LANG_MARKERS",
    "ACCENT_MAP",
    "fold_accents",
]

# Tiny English stopword core — enough for a ratio feature.
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

# Marker-word heuristics per language (n-gram-flavored language ID:
# presence of high-frequency function words).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "das"),
    "es": ("el", "los", "que"),
    "fr": ("le", "les", "est"),
    "zh": ("de", "shi", "le"),
}

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space marks
BPE_ISH_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace token count, char count, average token length."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        F.round(
            F.length(F.regexp_replace(text_col, " ", "")) / F.size(toks), 4
        ).alias("avg_token_len"),
    )


def quality_columns(text_col: str) -> dict[str, Column]:
    """The quality features as named Column expressions — reusable by
    any one-scan composition (see operators/curation.py) without a
    per-feature self-join."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    n_toks = F.size(toks)
    n_stop = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.when(t.isin(*STOPWORDS), 1).otherwise(0),
    )
    punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
    digits = F.regexp_count(F.col(text_col), F.lit(r"[0-9]"))
    stop_ratio = F.round(n_stop / n_toks, 4)
    digit_ratio = F.round(digits / F.length(text_col), 4)
    score = F.round(
        F.least(F.lit(1.0), stop_ratio * 2)
        * F.when(F.length(text_col) >= 50, 1.0).otherwise(0.5)
        * (1 - digit_ratio),
        4,
    )
    return {
        "stopword_ratio": stop_ratio,
        "punct_count": punct,
        "digit_ratio": digit_ratio,
        "quality": score,
    }


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality features: stopword ratio, punctuation count,
    digit ratio, plus a composite 0..1 score."""
    cols = quality_columns(text_col)
    return df.select(
        F.col(id_col), *[expr.alias(name) for name, expr in cols.items()]
    )


def lang_guess_from_tokens(toks: Column) -> Column:
    """Marker-word language guess from a token-array column (first
    matching language in fixed order wins ties; no hits -> 'und')."""
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    guess = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        guess = F.when(scores[lang] == best, F.lit(lang)).otherwise(guess)
    return F.when(best == 0, F.lit("und")).otherwise(guess)


def lang_guess_column(text_col: str) -> Column:
    """Marker-word language guess as a single Column expression."""
    return lang_guess_from_tokens(F.split(F.lower(F.col(text_col)), " "))


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Marker-word language guess: the language whose marker words hit
    most, ties to 'und' (undetermined) order by fixed language order."""
    return df.select(
        F.col(id_col), lang_guess_column(text_col).alias("lang_guess")
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Document fingerprint: md5 of the normalized text (exact-dup key
    robust to case/punctuation/whitespace)."""
    return df.select(
        F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("fingerprint")
    )


def bpe_ish_token_count(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Token count under a BPE-ish pre-tokenizer regex (letter runs /
    digit runs / single marks) — the standard 'how many tokens will
    this cost' estimator."""
    return df.select(
        F.col(id_col),
        F.regexp_count(F.col(text_col), F.lit(BPE_ISH_RE)).alias("n_bpe_tokens"),
    )


def rolling_fingerprint(
    df: DataFrame, text_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """Rolling-hash document fingerprint: hash every character k-gram
    of the normalized text and keep the minimum — a winnowing-style
    (MOSS) content fingerprint robust to reordering at the edges and to
    case/punctuation noise. Texts shorter than k hash as one gram.

    The per-position hash is md5 (not a true O(1)-update Karp-Rabin —
    irrelevant under columnar execution, where all positions evaluate
    in one vectorized pass) so the DuckDB oracle reproduces it exactly.
    """
    norm = normalized_text(F.col(text_col))
    n_grams = F.greatest(F.length(norm) - k + 1, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: F.md5(norm.substr(i, F.lit(k)))
    )
    return df.select(F.col(id_col), F.array_min(grams).alias("rolling_fp"))


def repetition_signals(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dup_token_max: float = 0.6,
    top_bigram_max: float = 0.18,
    symbol_ratio_max: float = 0.5,
) -> DataFrame:
    """Gopher/C4-style repetition quality signals, per document:

    - ``dup_token_frac``   — 1 - distinct/total tokens (a high value
      means the doc keeps repeating the same words);
    - ``top_bigram_frac``  — share of all word bigrams taken by the
      single most frequent bigram (boilerplate / template detector);
    - ``symbol_ratio``     — non-alphanumeric marks per token;
    - ``repetition_pass``  — all three under their thresholds.

    Everything is a narrow per-row array expression (staged projections
    so the token/bigram arrays evaluate once — see word_shingles on
    Catalyst re-inlining); the most-frequent-bigram count is an
    O(distinct x total) in-row scan, bounded by document length, with
    no shuffle anywhere. ``try_element_at`` keeps the bigram window
    in-bounds under ANSI mode; ``concat_ws`` drops the trailing NULL so
    a one-token document contributes its lone token as its "bigram" in
    both engines.
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    staged = df.select(
        F.col(id_col), F.col(text_col).alias("__raw"), toks.alias("__toks")
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(F.col("__toks")) - 1, F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            F.try_element_at(F.col("__toks"), i.cast("int")),
            F.try_element_at(F.col("__toks"), (i + 1).cast("int")),
        ),
    )
    staged = staged.select(id_col, "__raw", "__toks", bigrams.alias("__bi"))
    n_toks = F.size(F.col("__toks"))
    dup_frac = F.round(1 - F.size(F.array_distinct(F.col("__toks"))) / n_toks, 4)
    top_bigram = F.array_max(
        F.transform(
            F.array_distinct(F.col("__bi")),
            lambda g: F.size(F.filter(F.col("__bi"), lambda x: x == g)),
        )
    )
    top_bigram_frac = F.round(top_bigram / F.size(F.col("__bi")), 4)
    symbol_ratio = F.round(
        F.regexp_count(F.col("__raw"), F.lit(r"[^a-zA-Z0-9\s]")) / n_toks, 4
    )
    return staged.select(
        F.col(id_col),
        dup_frac.alias("dup_token_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        symbol_ratio.alias("symbol_ratio"),
        (
            (dup_frac <= dup_token_max)
            & (top_bigram_frac <= top_bigram_max)
            & (symbol_ratio <= symbol_ratio_max)
        ).alias("repetition_pass"),
    )


def dup_ngram_coverage(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """Gopher/FineWeb ``duplicated n-gram character fraction``: the
    share of a document's characters that sit inside some word n-gram
    occurring at least twice in that document — the repetition signal
    the per-token/per-bigram ratios in :func:`repetition_signals`
    miss (long verbatim self-repeats with varied vocabulary).

    Per doc: ``cov_chars`` (characters of tokens covered by any
    duplicated n-gram window), ``tot_chars`` (all token characters)
    and ``dup_ngram_char_frac`` = round(cov/tot, 4) (0.0 for empty).

    Scale shape: entirely in-row higher-order functions over the
    token array — zero shuffles, zero Python. The duplicate test is
    an O(G^2) in-row scan bounded by document length (same envelope
    as the top-bigram scan above); coverage closes with one zip_with
    fold. Counting is pure integer; the single divide is one IEEE op
    replayed identically by the oracle.
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    n_starts = F.size(F.col("__toks")) - (n - 1)
    # sequence(1, 0) would count DOWN (inferred step -1) — guard short
    # docs to an empty gram list instead
    grams = F.when(
        n_starts >= 1,
        F.transform(
            F.sequence(F.lit(1), n_starts),
            lambda s: F.array_join(F.slice(F.col("__toks"), s, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = staged.select(id_col, "__toks", grams.alias("__grams"))
    dup = F.transform(
        F.col("__grams"),
        lambda g: F.size(F.filter(F.col("__grams"), lambda h: h == g))
        >= 2,
    )
    staged = staged.select(id_col, "__toks", dup.alias("__dup"))
    n_toks = F.size(F.col("__toks"))
    n_dup = F.size(F.col("__dup"))
    # token position p is covered iff some duplicated gram starting in
    # [p-n+1, p] spans it; the start range is non-empty whenever any
    # gram exists (see module tests), so only guard the no-gram case
    covered = F.when(
        n_dup >= 1,
        F.transform(
            F.sequence(F.lit(1), n_toks),
            lambda p: F.exists(
                F.sequence(
                    F.greatest(F.lit(1), p - (n - 1)), F.least(p, n_dup)
                ),
                lambda s: F.element_at(F.col("__dup"), s),
            ),
        ),
    ).otherwise(F.transform(F.col("__toks"), lambda t: F.lit(False)))
    staged = staged.select(id_col, "__toks", covered.alias("__cov"))
    cov_chars = F.aggregate(
        F.zip_with(
            F.col("__toks"),
            F.col("__cov"),
            lambda t, c: F.when(c, F.length(t)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    tot_chars = F.aggregate(
        F.transform(F.col("__toks"), F.length),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = staged.select(
        F.col(id_col),
        cov_chars.alias("cov_chars"),
        tot_chars.alias("tot_chars"),
    )
    return out.select(
        id_col,
        "cov_chars",
        "tot_chars",
        F.when(
            F.col("tot_chars") > 0,
            F.round(F.col("cov_chars") / F.col("tot_chars"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_ngram_char_frac"),
    )


def chunk_tokens(
    df: DataFrame, text_col: str, id_col: str, chunk_size: int = 64
) -> DataFrame:
    """Split each document into consecutive fixed-size token windows —
    the training-sequence chunking step of an LLM data pipeline. Emits
    (id, chunk_id, chunk_text, n_chunk_tokens), chunk_id 0-based in
    document order; the final chunk keeps its ragged tail.

    Narrow per-row work: tokenize once (staged projection), slice the
    token array per chunk index, one ``posexplode``. Output rows stay on
    their input partition — chunking a 100 TB corpus is shuffle-free,
    and downstream packing/shuffling sees ~chunk_size-token rows instead
    of megabyte documents."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    n_chunks = F.greatest(F.floor((n + chunk_size - 1) / chunk_size), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.slice(
            F.col("__toks"), (i * chunk_size + 1).cast("int"), chunk_size
        ),
    )
    return staged.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "__chunk")
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("long"),
        F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
        F.size(F.col("__chunk")).cast("long").alias("n_chunk_tokens"),
    )


def chunk_tokens_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """OVERLAPPING token windows — the RAG/retrieval chunking step
    (stride < chunk_size keeps context across boundaries; the
    non-overlapping trainer split is :func:`chunk_tokens`). Emits
    (id, chunk_id, start_token, chunk_text, n_chunk_tokens):
    windows start at 0, stride, 2*stride, ... and the LAST window is
    the first one whose end reaches the document's end (ragged tail
    kept), so every token is covered and no fully-redundant tail
    window is emitted. ``start_token`` is the 0-based offset for
    provenance (span attribution back into the source document).

    Scale shape: identical to chunk_tokens — tokenize once, slice per
    window index, one posexplode; rows stay on their input partition,
    so chunking a 100 TB corpus is shuffle-free."""
    if not 0 < stride <= chunk_size:
        raise ValueError(
            f"stride must be in (0, chunk_size]: {stride} vs {chunk_size}"
        )
    toks = F.split(normalized_text(F.col(text_col)), " ")
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    # windows = 1 + ceil(max(n - chunk, 0) / stride)
    extra = F.greatest(n - chunk_size, F.lit(0))
    n_chunks = (
        F.lit(1) + F.floor((extra + stride - 1) / stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            (i * stride).alias("start"),
            F.slice(
                F.col("__toks"), (i * stride + 1).cast("int"), chunk_size
            ).alias("w"),
        ),
    )
    return staged.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "__c")
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("long"),
        F.col("__c.start").cast("long").alias("start_token"),
        F.concat_ws(" ", F.col("__c.w")).alias("chunk_text"),
        F.size(F.col("__c.w")).cast("long").alias("n_chunk_tokens"),
    )


def tf_idf_top_terms(
    df: DataFrame, text_col: str, id_col: str, top_k: int = 5
) -> DataFrame:
    """Smoothed TF-IDF with the top-k scoring terms per document
    (score desc, term asc tiebreak): idf = ln((N+1)/(df+1)) + 1,
    score = tf * idf — the scikit-learn smoothing, chosen because it is
    division-by-zero-free and exactly reproducible in SQL.

    Scale shape: explode -> (doc, term) count is a map-side-combinable
    shuffle on the doc+term key; the per-term document frequency is a
    second agg shuffled on term (vocabulary-sized, << corpus); the
    corpus size joins in as a broadcast scalar. Top-k is a per-doc
    window over the (doc, term) counts — partitioned by document, so
    no global sort.
    """
    from pyspark.sql import Window

    toks = F.split(normalized_text(F.col(text_col)), " ")
    ex = df.select(F.col(id_col), F.explode(toks).alias("term")).filter(
        F.col("term") != ""
    )
    tf = ex.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf_idf"), F.asc("term")
    )
    return (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tf_idf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df_t") + 1))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "tf", "df_t", "tf_idf", "rank")
    )


def vocab_coverage(df: DataFrame, text_col: str, top_k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k terms by frequency with cumulative
    coverage share (tokenizer-training / stopword-discovery stage).

    Scale shape: the only full-data operation is the term count, which
    gets map-side partial aggregation (shuffle carries one row per
    (partition, term), not per token). The window runs on the top-k
    slice only — never on the full vocabulary — and the corpus-total
    denominator is a 1-row broadcast.
    """
    term = F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("term")
    toks = df.select(term).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    order = [F.desc("n"), F.asc("term")]
    top = counts.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_share",
            F.round(
                F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
                / F.col("__total"),
                6,
            ),
        )
        .select("term", "n", "rank", "cum_share")
    )


def line_boilerplate(
    df: DataFrame, text_col: str, id_col: str, min_docs: int = 30
) -> DataFrame:
    """Cross-document boilerplate line removal (CCNet/RefinedWeb-style):
    a line appearing in >= min_docs distinct documents is boilerplate.

    Returns per-doc `(id, n_lines, n_boiler, boiler_frac, retained_md5)`
    where retained_md5 fingerprints the doc with boilerplate lines
    removed (original line order preserved).

    Scale shape: documents are never self-joined. One shuffle counts
    distinct docs per line (map-side partial); the boilerplate *set* is
    tiny by construction (bounded by corpus_lines / min_docs), so it
    collapses to a single broadcast array row and removal is a narrow
    higher-order-function pass over each doc's own lines.
    """
    lines_col = F.split(F.col(text_col), "\n").alias("__lines")
    l = df.select(F.col(id_col), lines_col)
    seg = l.select(id_col, F.explode("__lines").alias("__line"))
    cnt = seg.groupBy("__line").agg(
        F.countDistinct(id_col).alias("__n_docs")
    )
    boiler = cnt.filter(F.col("__n_docs") >= min_docs).agg(
        F.collect_list("__line").alias("__boiler")
    )
    is_kept = lambda x: ~F.array_contains(F.col("__boiler"), x)  # noqa: E731
    kept = F.filter("__lines", is_kept)
    return (
        l.crossJoin(F.broadcast(boiler))
        .select(
            F.col(id_col),
            F.size("__lines").alias("n_lines"),
            (F.size("__lines") - F.size(kept)).alias("n_boiler"),
            F.round(
                (F.size("__lines") - F.size(kept)) / F.size("__lines"), 6
            ).alias("boiler_frac"),
            F.md5(F.array_join(kept, "\n")).alias("retained_md5"),
        )
    )


#: Fixed linear-model weights for quality_classifier, in feature order
#: (bias, stopword_ratio, unique_token_ratio, mean_word_len,
#: digit_ratio). Interpretable fastText-style proxy: prose-like text
#: (function words present, moderate word length, few digits) scores
#: high; keyword salad and numeric dumps score low.
QUALITY_WEIGHTS = (-1.0, 3.0, 2.0, 0.2, -4.0)


def quality_classifier(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.0,
    weights: tuple[float, float, float, float, float] = QUALITY_WEIGHTS,
) -> DataFrame:
    """Linear quality classifier over interpretable text features — the
    keep/drop model stage of a curation pipeline (a trained classifier
    would ship its coefficients the same way; the plumbing, feature
    extraction and plan shape are identical).

    Features (each rounded to 6 decimals for cross-engine stability
    before the dot product, which is plain IEEE double arithmetic in a
    fixed order): stopword ratio (with multiplicity), unique-token
    ratio, mean word length, digit ratio. Returns
    `(id, stop_ratio, uniq_ratio, mean_wlen, digit_ratio, score, keep)`.

    Scale shape: one narrow projection, fully codegen — no shuffle, no
    Python, no join; runs at scan speed ahead of the expensive dedup /
    similarity stages so dropped documents never reach them.
    """
    w0, w1, w2, w3, w4 = weights
    out = df.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("__toks")
    )
    n = F.size("__toks")
    n_stop = F.aggregate(
        F.col("__toks"),
        F.lit(0),
        lambda acc, t: acc + F.when(t.isin(*STOPWORDS), 1).otherwise(0),
    )
    chars = F.aggregate(
        F.col("__toks"), F.lit(0), lambda acc, t: acc + F.length(t)
    )
    digits = F.aggregate(
        F.col("__toks"),
        F.lit(0),
        lambda acc, t: acc + F.length(F.regexp_replace(t, r"[^0-9]", "")),
    )
    feat = out.select(
        F.col(id_col),
        F.round(n_stop / n, 6).alias("stop_ratio"),
        F.round(F.size(F.array_distinct("__toks")) / n, 6).alias("uniq_ratio"),
        F.round(chars / n, 6).alias("mean_wlen"),
        F.round(digits / chars, 6).alias("digit_ratio"),
    )
    score = F.round(
        F.lit(w0)
        + F.lit(w1) * F.col("stop_ratio")
        + F.lit(w2) * F.col("uniq_ratio")
        + F.lit(w3) * F.col("mean_wlen")
        + F.lit(w4) * F.col("digit_ratio"),
        6,
    )
    return feat.select(
        "*", score.alias("score"), (score >= threshold).alias("keep")
    )


def clean_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Markup/control cleaning — the normalization pass ahead of any
    text analysis in a web-corpus pipeline (C4's first step): strip
    HTML/XML tags, strip C0 control characters, collapse whitespace
    runs, trim. Emits per-rule removal counts for curation audits plus
    an md5 of the cleaned text (the compact, oracle-comparable witness
    of the full cleaned string).

    Scale posture: narrow codegen regexp work only — no shuffle, no
    Python; cleaning runs at scan speed and shrinks every byte the
    rest of the pipeline touches. Patterns avoid non-RE2 constructs so
    the same rules run on any engine."""
    raw = F.col(text_col)
    n_tags = F.regexp_count(raw, F.lit(r"<[^>]*>"))
    no_tags = F.regexp_replace(raw, r"<[^>]*>", " ")
    ctrl = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
    n_ctrl = F.regexp_count(no_tags, F.lit(ctrl))
    no_ctrl = F.regexp_replace(no_tags, ctrl, "")
    cleaned = F.trim(F.regexp_replace(no_ctrl, r"\s+", " "))
    return df.select(
        F.col(id_col),
        n_tags.cast("long").alias("n_html_tags"),
        n_ctrl.cast("long").alias("n_ctrl_chars"),
        F.length(cleaned).cast("long").alias("clean_len"),
        F.md5(cleaned).alias("clean_md5"),
    )


def length_winsorize(
    df: DataFrame,
    num_col: str,
    group_col: str,
    id_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorization of a numeric quality signal: clamp
    ``num_col`` to its group's [lo, hi] exact percentiles and flag the
    rows outside them (the standard outlier-trim before computing
    corpus statistics or length-balanced sampling).

    Shape chosen for scale: ONE map-side-combinable aggregation
    computes both percentiles per group (percentile() partials merge),
    the tiny per-group frame broadcasts back onto the corpus, and the
    clamp itself is a narrow projection. No window over the full
    corpus, no per-group sort of the data — the 100 TB path shuffles
    only the group keys. (percentile_approx swaps in for the exact
    percentile at petabyte group sizes; the plan shape is unchanged.)
    """
    from pyspark.sql.functions import broadcast

    v = F.col(num_col)
    bounds = df.groupBy(group_col).agg(
        F.expr(f"percentile({num_col}, {lo})").alias("__p_lo"),
        F.expr(f"percentile({num_col}, {hi})").alias("__p_hi"),
    )
    out = df.join(broadcast(bounds), on=group_col, how="inner")
    clamped = F.least(F.greatest(v.cast("double"), F.col("__p_lo")), F.col("__p_hi"))
    return out.select(
        F.col(id_col),
        F.col(group_col),
        v.alias(num_col),
        F.round(F.col("__p_lo"), 4).alias("p_lo"),
        F.round(F.col("__p_hi"), 4).alias("p_hi"),
        F.round(clamped, 4).alias("clamped"),
        ((v < F.col("__p_lo")) | (v > F.col("__p_hi"))).alias("is_outlier"),
    )


def pack_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    stream_col: str,
    budget: int = 256,
) -> DataFrame:
    """Concat-and-split sequence packing: documents of each stream are
    laid head-to-tail in deterministic ``id_col`` order and cut into
    fixed ``budget``-token training sequences, documents straddling cut
    points (the standard GPT-style packing — no padding waste). Emits
    one row per (document, sequence) span: the sequence index and how
    many of the document's tokens land in that sequence.

    Shape chosen for scale: ONE shuffle on the stream key; the window's
    running sum reuses that partitioning and a single per-stream sort;
    the span fan-out is a narrow ``explode`` bounded by ceil(doc_len /
    budget) + 1 rows per document. Streams pack independently, so a
    100 TB corpus parallelizes across its sources; within a stream the
    layout is total-ordered and reproducible (same input -> same
    sequence ids — resumable packing without coordination). A single
    outsized stream serializes its window sort: pre-split it with a
    deterministic hash suffix (``concat(stream, '-', pmod(hash(id),
    N))``) — packing quality is unaffected because sequences never
    span streams anyway.

    NULL text packs like empty text (one empty token): without the
    coalesce, ``size(split(NULL))`` is -1 under non-ANSI sizing, which
    would emit a descending bogus span AND shift every later document's
    offset — and diverge from the streaming packer."""
    toks = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).cast(
        "long"
    )
    staged = df.select(
        F.col(id_col), F.col(stream_col), toks.alias("__n_tok")
    )
    w = (
        Window.partitionBy(stream_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = staged.select(
        "*", F.coalesce(F.sum("__n_tok").over(w), F.lit(0)).alias("__start")
    )
    end = F.col("__start") + F.col("__n_tok")
    seq_first = F.floor(F.col("__start") / budget)
    seq_last = F.floor((end - 1) / budget)
    spans = staged.select(
        F.col(id_col),
        F.col(stream_col),
        F.col("__start"),
        F.col("__n_tok"),
        F.explode(F.sequence(seq_first, seq_last)).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * budget
    seq_hi = seq_lo + budget
    return spans.select(
        F.col(id_col),
        F.col(stream_col),
        "seq_id",
        (
            F.least(F.col("__start") + F.col("__n_tok"), seq_hi)
            - F.greatest(F.col("__start"), seq_lo)
        ).alias("tokens_in_seq"),
    )


#: input-size estimate (optimizer plan stat, bytes) above which
#: unigram_logprob materializes its shared tf table instead of relying
#: on AQE exchange reuse — see the gate comment in the function body.
#: NOTE the stat is the COMPRESSED source size (parquet file bytes for
#: a scan), which under-reads the exploded token volume by ~2 orders
#: of magnitude; 2 MiB compressed ≈ tens of MB of raw text ≈ millions
#: of token rows — the measured crossover region (0.6 MiB input still
#: favors lineage, 4.6 MiB clearly favors the cut).
TF_CHECKPOINT_MIN_BYTES = 2 << 20


def unigram_logprob(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """CCNet-style LM-quality proxy: per-document mean log-probability
    under the corpus's own unigram model, p(t) = cnt(t) / total_tokens.
    Documents full of corpus-atypical tokens score low — the cheap,
    fully-distributed stand-in for the KenLM perplexity filter (no LM
    runtime in this container; the distributed shape is identical, the
    scorer is swappable).

    Determinism contract (the reason for the sorted fold): a per-doc
    SUM of float logs is addition-order-dependent, so both this plan
    and the SQL oracle fold contributions in ascending-term order —
    byte-identical operand sequences produce byte-identical doubles,
    making the score hash-comparable cross-engine without tolerance.

    Scale shape: token explode -> (doc, term, tf) agg is the same
    map-side-combinable shuffle as tf_idf; the vocabulary (term, cnt)
    agg is vocabulary-sized (<< corpus); total_tokens broadcasts as a
    scalar; the per-doc collect_list is bounded by distinct terms per
    document, not corpus size. No Python anywhere.
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    ex = df.select(F.col(id_col), F.explode(toks).alias("term")).filter(
        F.col("term") != ""
    )
    tf = ex.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # The tf subtree feeds THREE consumers (tf join side, vocab,
    # total). At small inputs AQE's runtime exchange reuse makes a
    # lineage cut a slight net LOSS (the materialization barrier costs
    # more than it saves — measured -4% at sf0.1, r09 and r10 agree);
    # at 10x data the duplicate explode+agg dominates and the cut is
    # 1.51x (5.62 -> 3.72 s median, 3/3 interleaved pairs). Gate on
    # the input's optimizer size estimate — a driver-side plan stat,
    # no job — so the shape adapts to scale instead of being tuned to
    # either end (results are identical either way; the fold order is
    # unaffected). An input the optimizer cannot size (an RDD-backed or
    # otherwise stats-less derived frame) reports defaultSizeInBytes,
    # i.e. ~Long.MaxValue: estimates >= 2^60 count as unknown and keep
    # the lineage form, like a failed stats call.
    try:
        plan_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable -> keep the lineage form
        plan_bytes = 0
    if TF_CHECKPOINT_MIN_BYTES <= plan_bytes < 1 << 60:
        tf = tf.localCheckpoint()
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = vocab.select(F.sum("cnt").alias("total_tokens"))
    contrib = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__c",
            F.col("tf")
            * (F.log(F.col("cnt")) - F.log(F.col("total_tokens"))),
        )
    )
    return (
        contrib.groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.aggregate(
                # array_sort on (term, contrib) structs orders by term
                # first — the deterministic fold order shared with SQL
                F.array_sort(
                    F.collect_list(F.struct(F.col("term"), F.col("__c")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["__c"],
            ).alias("__sum"),
        )
        .select(
            id_col,
            F.col("n_tokens"),
            F.round(F.col("__sum") / F.col("n_tokens"), 6).alias(
                "avg_logprob"
            ),
        )
    )


def significant_terms(
    df: DataFrame,
    foreground: Column,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_doc_count: int = 2,
) -> DataFrame:
    """Elasticsearch's significant_terms aggregation, Spark-native:
    terms OVERREPRESENTED in the foreground document set relative to
    the whole corpus, ranked by the JLH score ES uses —
    ``(fg_pct - bg_pct) * (fg_pct / bg_pct)`` over per-set DOCUMENT
    frequencies. The ES use case is "what is unusual about the
    documents matching this query"; the training-data use case is
    domain-discriminative vocabulary (what words characterize a
    source/cluster against the corpus).

    ``foreground`` is a boolean Column over ``df``'s rows. Returns the
    top ``k`` rows ``(term, fg_count, bg_count, score DOUBLE round-6,
    rank)``, ties broken by term ascending; terms below
    ``min_doc_count`` foreground docs are excluded (the ES default
    guard against one-off noise).

    Scale shape: one tokenize-explode over the corpus into a
    per-(term, doc-set) DISTINCT-doc count — map-side combinable,
    vocabulary-sized output; the two scalar totals broadcast; the
    final top-k is a vocabulary-sized sort. Integer counts and an
    identical float expression tree keep the score hash-comparable.
    """
    toks = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda t: t != ""
    )
    ex = df.select(
        F.col(id_col), foreground.alias("__fg"), F.explode(toks).alias("term")
    ).distinct()  # document frequency, not term frequency
    per_term = ex.groupBy("term").agg(
        F.sum(F.when(F.col("__fg"), 1).otherwise(0)).alias("fg_count"),
        F.count(F.lit(1)).alias("bg_count"),
    )
    totals = df.agg(
        F.sum(F.when(foreground, 1).otherwise(0)).alias("__fg_docs"),
        F.count(F.lit(1)).alias("__bg_docs"),
    )
    fg_pct = F.col("fg_count") / F.col("__fg_docs")
    bg_pct = F.col("bg_count") / F.col("__bg_docs")
    scored = (
        per_term.filter(F.col("fg_count") >= min_doc_count)
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            "fg_count",
            "bg_count",
            F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6).alias("score"),
        )
        .filter(F.col("score") > 0)
    )
    w = Window.orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bigram_logprob(
    df: DataFrame,
    train: DataFrame,
    text_col: str,
    id_col: str,
    backoff: float = 0.4,
) -> DataFrame:
    """Bigram LM quality score with stupid backoff (Brants et al. 2007)
    — the order-2 upgrade of ``unigram_logprob``: per-document mean log
    score under a bigram model fit on ``train`` (a held-out corpus
    slice, so scored documents genuinely contain unseen bigrams and the
    backoff path is exercised).

    Scoring: the first token uses the add-one unigram
    ``(cnt+1)/(U+V)``; every later token uses ``big(prev,cur)/uni(prev)``
    when the bigram was seen in training, else
    ``backoff * (uni(cur)+1)/(U+V)``. All model inputs are exact
    integers; the per-document sum of float logs folds in ascending
    token-position order (the unigram_logprob determinism contract), so
    scores are hash-comparable cross-engine after round(6).

    Scale shape: the model is two vocabulary-sized aggregations (the
    bigram table pre-joins its prefix's unigram count, so scoring needs
    exactly two joins per position row: (prev,cur)->bigram and
    cur->unigram); position rows are one narrow posexplode of the
    document tokens; U/V collapse to one broadcast row. Documents
    never shuffle — only (doc, pos, prev, cur) tuples do.
    """
    raw_toks = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda t: t != ""
    )

    def _staged(src: DataFrame, *extra: str) -> DataFrame:
        # bind the token array once per row (explode(array(..)) is a
        # projection-collapse barrier) — referenced directly, the
        # normalize+split expression would inline into every
        # element_at of the pair/position transforms, re-running the
        # full-text regex per token: O(tokens^2) per document
        return src.select(
            *extra, F.explode(F.array(raw_toks)).alias("__toks")
        )

    toks = F.col("__toks")
    # -- model (train slice) -------------------------------------------
    tr_tok = _staged(train).select(F.explode(toks).alias("__t"))
    # uni is referenced three times (scalars, bigram prefix join, the
    # backoff join) — materialize the vocabulary-sized table once
    uni = (
        tr_tok.groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__uc"))
        .localCheckpoint()
    )
    scalars = uni.agg(
        F.sum("__uc").alias("__U"), F.count(F.lit(1)).alias("__V")
    )
    tr_pairs = _staged(train).select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(2), F.size(toks)),
                    lambda i: F.struct(
                        F.element_at(toks, (i - 1).cast("int")).alias("__a"),
                        F.element_at(toks, i.cast("int")).alias("__b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<__a:string,__b:string>>"))
        ).alias("__p")
    ).select("__p.__a", "__p.__b")
    big = tr_pairs.groupBy("__a", "__b").agg(F.count(F.lit(1)).alias("__bc"))
    # pre-join the prefix's unigram count: scoring then needs only two
    # joins per position row
    big2 = big.join(uni.select(F.col("__t").alias("__a"), F.col("__uc").alias("__ua")), "__a")
    # -- score ---------------------------------------------------------
    # (pos, prev, cur) built narrowly from the token array — no lag
    # window, so scoring adds zero shuffles over the document scan
    pos_rows = _staged(df, id_col).select(
        F.col(id_col),
        F.explode(
            # guard: sequence(1, 0) DESCENDS in Spark, so empty docs
            # must short-circuit to an empty array, not explode [1, 0]
            F.when(
                F.size(toks) >= 1,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks)),
                    lambda i: F.struct(
                        (i - 1).cast("int").alias("__pos"),
                        F.when(
                            i >= 2, F.element_at(toks, (i - 1).cast("int"))
                        ).alias("__prev"),
                        F.element_at(toks, i.cast("int")).alias("__cur"),
                    ),
                ),
            ).otherwise(
                F.array().cast(
                    "array<struct<__pos:int,__prev:string,__cur:string>>"
                )
            )
        ).alias("__r"),
    ).select(id_col, "__r.__pos", "__r.__prev", "__r.__cur")
    joined = (
        pos_rows.join(
            F.broadcast(
                big2.select(
                    F.col("__a").alias("__prev"),
                    F.col("__b").alias("__cur"),
                    "__bc",
                    "__ua",
                )
            ),
            ["__prev", "__cur"],
            "left",
        )
        .join(
            F.broadcast(uni.select(F.col("__t").alias("__cur"), "__uc")),
            "__cur",
            "left",
        )
        .crossJoin(F.broadcast(scalars))
    )
    uni_log = (
        F.log(F.coalesce("__uc", F.lit(0)) + 1.0)
        - F.log(F.col("__U") + F.col("__V"))
    )
    contrib = (
        F.when(F.col("__pos") == 0, uni_log)
        .when(
            F.col("__bc").isNotNull(),
            F.log(F.col("__bc").cast("double")) - F.log(F.col("__ua").cast("double")),
        )
        .otherwise(F.log(F.lit(float(backoff))) + uni_log)
    )
    per_pos = joined.select(F.col(id_col), "__pos", contrib.alias("__c"))
    return (
        per_pos.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__c")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["__c"],
            ).alias("__sum"),
        )
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("__sum") / F.col("n_tokens"), 6).alias(
                "avg_logprob"
            ),
        )
    )


def language_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 10,
) -> DataFrame:
    """Within-document language segmentation: fixed token windows get
    a marker-word language guess, consecutive same-language windows
    collapse into runs (gaps-and-islands) — splitting mixed-language
    documents into monolingual spans, the per-document refinement of
    corpus-level lang_id that multilingual curation needs (document-
    level majority voting silently drops the minority language's text).

    Output: (id, seg_no, lang, from_win, to_win, n_windows). Window
    boundaries are token-positional, so a span maps back to tokens
    [from_win*W, (to_win+1)*W).

    Scale shape: the windowing explode multiplies rows by
    n_tokens/W (bounded, linear); scoring is a narrow array_intersect
    per window; the run collapse is ONE exchange on the doc id, shared
    by the lag window, the running sum and the final groupBy — the
    sessionization shape applied within documents."""
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col),
        F.split(F.lower(F.col(text_col)), " ").alias("__toks"),
    )
    win = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.ceil(F.size("__toks") / window_tokens).cast("int")
                        - 1,
                        F.lit(0),
                    ),
                ),
                lambda i: F.slice(
                    F.col("__toks"),
                    (i * window_tokens + 1).cast("int"),
                    window_tokens,
                ),
            )
        ).alias("win_no", "__wtoks"),
    )
    scored = win.select(
        F.col(id_col),
        "win_no",
        lang_guess_from_tokens(F.col("__wtoks")).alias("__lang"),
    )
    w = W.partitionBy(F.col(id_col)).orderBy("win_no")
    flagged = scored.withColumn(
        "__chg",
        F.when(
            F.lag("__lang").over(w).isNull()
            | (F.lag("__lang").over(w) != F.col("__lang")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "seg_no",
        F.sum("__chg").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return runs.groupBy(F.col(id_col), "seg_no").agg(
        F.min("__lang").alias("lang"),
        F.min("win_no").alias("from_win"),
        F.max("win_no").alias("to_win"),
        F.count(F.lit(1)).alias("n_windows"),
    )


#: explicit accent-folding map (NFD-style base letters for the Latin-1
#: range) — an EXPLICIT table rather than locale-dependent library
#: stripping, so every engine folds identically
ACCENT_MAP = (
    "àáâãäåèéêëìíîïòóôõöùúûüýÿñçšžÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÝÑÇŠŽ",
    "aaaaaaeeeeiiiiooooouuuuyyncszAAAAAAEEEEIIIIOOOOOUUUUYNCSZ",
)


def fold_accents(col: Column) -> Column:
    """Fold Latin accented letters to their base letters via an
    explicit translate table — the unicode-robustness step ahead of
    normalized_text (whose [^a-z0-9\\s] strip would otherwise DELETE
    accented letters entirely, silently corrupting non-English text:
    'café' -> 'caf' instead of 'cafe')."""
    return F.translate(col, ACCENT_MAP[0], ACCENT_MAP[1])


def cdc_chunk_tokens(
    df: DataFrame, text_col: str, id_col: str, w: int = 4
) -> DataFrame:
    """Content-defined chunking: split each document at token
    positions where the rolling w-token window hash ends in hex '0'
    (expected chunk ~16 tokens) — the dedup-stable alternative to
    fixed-size chunking (``chunk_tokens``): inserting or deleting
    text only re-chunks the neighborhood of the edit, because every
    boundary depends on a LOCAL window, never on absolute offsets.
    That keeps chunk-level dedup/storage effective across document
    revisions (the rsync/LBFS recipe, on tokens).

    Emits ``(id, chunk_id, n_chunk_tokens, chunk_md5)``; chunk_id is
    0-based document order, the final chunk keeps the ragged tail.

    Narrow per-row work, shuffle-free like ``chunk_tokens``: tokenize
    once, compute boundary positions with one in-row filter over the
    position range (one md5 per position), slice chunks from the
    staged token array. The hash is md5 so the DuckDB oracle replays
    boundaries bit-for-bit.
    """
    if w < 1:
        raise ValueError(f"window must be >= 1 token: {w}")
    toks = F.split(normalized_text(F.col(text_col)), " ")
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    # boundary AFTER token t iff the window (t-w+1 .. t) hashes to
    # a trailing '0' nibble; positions t < w-1 have no full window
    bounds = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda t: (t >= w - 1)
        & (
            F.substring(
                F.md5(
                    F.array_join(
                        F.slice(F.col("__toks"), t - (w - 2), w), " "
                    )
                ),
                32,
                1,
            )
            == "0"
        ),
    )
    # chunk end positions: every boundary plus the document end
    # (array_distinct keeps first occurrence -> stays ascending)
    staged = staged.select(
        F.col(id_col),
        "__toks",
        F.array_distinct(
            F.concat(bounds, F.array((n - 1).cast("int")))
        ).alias("__ends"),
    )
    chunks = F.transform(
        F.col("__ends"),
        lambda e, i: F.slice(
            F.col("__toks"),
            F.when(i == 0, F.lit(1)).otherwise(
                F.element_at(F.col("__ends"), i) + 2
            ),
            e
            - F.when(i == 0, F.lit(-1)).otherwise(
                F.element_at(F.col("__ends"), i)
            ),
        ),
    )
    return staged.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "__chunk")
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("long"),
        F.size("__chunk").cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join("__chunk", " ")).alias("chunk_md5"),
    )
