"""ES|QL: Elasticsearch's piped query language (the syntax Kibana
Discover ships as its default query bar in ES 8.11+), executed on
Spark — ``FROM idx | WHERE ... | EVAL ... | STATS ... BY ... | SORT
... | LIMIT n`` compiles to the same DataFrame plan the equivalent
hand-written query would build.

Supported commands (each "| cmd ..." stage maps to ONE DataFrame
transformation; unknown commands fail at plan time):

- ``FROM index``            — the source frame (resolved from the
                              caller's table map; comma lists union);
  ``FROM idx [METADATA _index, _id, _score]`` adds the metadata
  columns Kibana emits: ``_index`` = each source's name (comma-list
  unions stay attributable), ``_id`` = the identity column as
  string, ``_score`` = relevance (0 until a scoring full-text
  function in a WHERE adds its BM25 contribution — the same scoring
  expression ``_search`` ranks by, so ``SORT _score DESC`` is
  Discover's relevance order)
- ``TS index`` (ES 8.19 tech preview) — FROM with time-series metric
  semantics; the source resolves identically, and STATS gains the
  two-level metric aggregate family: ``STATS outer(inner_ts(field))
  BY keys`` computes the INNER aggregate per time series (the
  ``ts_dimensions`` of ``run_esql`` — ES's ``_tsid``, declared as
  ``time_series_dimension: true`` in mappings) per BY group, then
  the OUTER aggregate across series. Inner family: ``RATE`` /
  ``IRATE`` / ``DELTA`` / ``IDELTA`` / ``INCREASE`` (counter
  semantics: a negative step is a reset, Prometheus-style — the
  post-reset value counts as the whole increase) and ``AVG|MIN|MAX|
  SUM|COUNT|COUNT_DISTINCT|STD_DEV|FIRST|LAST _OVER_TIME`` (gauge
  semantics). Tech-preview notes pinned here for determinism:
  RATE = reset-adjusted increase / observed span seconds (first to
  last sample; <2 samples -> NULL); IRATE/IDELTA use the last two
  samples; ABSENT/PRESENT_OVER_TIME stay rejected (they need a
  scrape interval this engine does not model). Every aggregate in a
  TS STATS must wrap exactly one inner call — a bare ``count(*)``
  is ambiguous between docs and series and fails loud.
- ``ROW a = 1, b = "x"``    — a literal one-row source (the ES|QL
                              scratchpad command)
- ``WHERE <expr>``          — filter
- ``EVAL name = <expr>, ..``— computed columns
- ``STATS a = agg(x) [WHERE cond], .. BY k1, k2`` — grouped
  aggregation (BY omitted = global); aggs are the shared SQL core
  (count/sum/avg/min/max/count_distinct/percentile); the per-agg
  WHERE (ES 8.16) lowers to the ANSI ``FILTER (WHERE ..)`` clause;
  ``STATS BY k1, k2`` with NO aggregates is ES|QL's DISTINCT idiom
- ``FUSE [rrf [rank_constant] | linear]`` (ES 8.19) — merge FORK
  branches by ``_id`` with reciprocal-rank fusion (or min-max linear
  sum), recomputing ``_score`` — hybrid search in pure pipe syntax;
  needs ``METADATA _id, _score``
- ``INLINESTATS a = agg(x), .. BY k`` — ES 8.16: aggregates joined
  back onto EVERY row (no collapse): a window aggregate over the BY
  keys; the global form reduces to one broadcast row cross-joined
  back, never a single-partition window
- ``SORT col [ASC|DESC] [NULLS FIRST|LAST], ...`` — ES|QL treats a
  NULL as LARGER than every other value, so the defaults are
  ``ASC NULLS LAST`` / ``DESC NULLS FIRST`` (explicit ``NULLS
  FIRST|LAST`` overrides; a dangling ``NULLS`` is a parse error)
- ``LIMIT n``
- ``KEEP p1, p2`` / ``DROP p1`` — patterns may hold ``*`` wildcards
  (``rtr_*``), resolved against the frame's columns with ES|QL's
  precedence rule: an exact name beats a partial wildcard beats a
  bare ``*``; among equal precedence the RIGHTMOST pattern wins and
  decides the output position. A pattern matching nothing fails at
  plan time.
- ``RENAME old AS new``
- ``GROK field "%{PATTERN:name} ..."`` — parse a text column with
  the engine's grok compiler (the SAME pattern library the parity
  pipeline runs, so the reference's log lines parse identically in
  ES|QL and in the stream)
- ``DISSECT field "pattern"`` — the ingest dissect processor as a
  command
- ``ENRICH policy ON key [WITH f1, ..]`` — lookup enrichment: the
  policy is a dimension frame in the table map, broadcast-joined on
  the shared key (missing keys tolerate as NULLs — the reference's
  app-metadata join, in pipe syntax). Enrich fields OVERRIDE
  same-named stream columns (the ES enrich-processor rule), so a
  pre-existing ``tier`` column is replaced, not ambiguous.
- ``LOOKUP JOIN index ON key`` — ES 8.18's general join command: a
  broadcast left join against another index in the table map,
  keeping the lookup index's FULL column set; on a name collision
  the lookup side wins (ES's last-write-wins rule). Multiple
  matching lookup rows multiply the stream row, like ES.
- ``MV_EXPAND col`` — one row per element of a multi-value column;
  a row whose column is NULL survives with a NULL value (ES|QL
  keeps it — ``explode_outer``, not ``explode``)
- ``SAMPLE p [seed]`` (ES 8.19) — random per-row sampling; a seed
  makes the run reproducible
- ``FORK (branch1) (branch2) ..`` (ES 8.19) — the common prefix
  feeds each parenthesized sub-pipeline; outputs union (missing
  columns NULL-filled) with a ``_fork`` discriminator (``fork1``,
  ``fork2``, .. in branch order); 2..8 branches, like ES
- ``CHANGE_POINT value ON key [AS type_col, pvalue_col]`` (ES 8.18)
  — appends change-type/p-value columns, non-NULL on the detected
  row; the detector is the engine's binary-segmentation level-shift
  with a documented deterministic stand-in p-value (ES caps this
  command at 1,000 points, so the ordered window is in-contract)

Expression dialect: the SQL core ES|QL shares with Spark SQL —
arithmetic, comparisons, AND/OR/NOT, IN, IS NULL, CASE, and plain
function calls. ES|QL's ``==`` lowers to ``=`` and double-quoted
string literals to single-quoted; ES|QL-named functions translate:

- ``BUCKET(ts, 1 hour)`` — the grouping Kibana Discover generates
  for every ES|QL date histogram — lowers to calendar ``date_trunc``
  / epoch-aligned fixed-width bucketing / numeric floor-multiple;
  the 4-arg auto form ``BUCKET(f, target, from, to)`` (what Lens
  emits) picks a nice interval for at most ``target`` buckets from
  the LITERAL bounds at plan time;
- ``NOW()`` — the instant pinned by ``run_esql(now=..)`` (so
  replays and oracles are deterministic, like ES pinning one instant
  per query) or Spark's query-stable current_timestamp; ``ts +/-
  <n> <unit>`` temporal literals fold to ANSI INTERVALs, enabling
  the Kibana time-picker form ``WHERE ts > NOW() - 1 hour``;
- full-text WHERE functions (ES 8.17): ``MATCH(field, "query"
  [, {"operator"|"analyzer"}])`` lowers through the query-DSL match
  compiler, ``QSTR("lucene query" [, options])`` through the Lucene
  query_string parser, and ``KQL("kibana bar syntax" [, options])``
  through the engine's KQL parser (operators/kql) — each is one
  Catalyst predicate inline with the WHERE, so ES|QL, the Kibana
  bar, and the ``_search`` endpoint can never disagree about what a
  text query matches; any use outside WHERE fails loud;
- ``KNN(field, [query_vector] [, k | {"k":.., "similarity":..}])``
  (ES 8.19 tech preview) — vector retrieval inside WHERE: sibling
  AND-conjuncts pre-filter (ES's rule), then exact cosine top-k
  (k defaults to 10) scored with the SAME (1+cos)/2 expression the
  ``_search`` knn section ranks by; with ``METADATA _score`` the
  similarity adds to relevance; OR/NOT around the call fails loud
  (ES rejects negated knn);
- the ``MV_*`` scalar family (MV_COUNT/MV_MIN/MV_MAX/MV_SUM/MV_AVG/
  MV_CONCAT/MV_FIRST/MV_LAST) lowers to the array built-ins;
- the ``TO_*`` conversions (TO_UPPER/TO_LOWER/TO_STRING/TO_LONG/
  TO_INTEGER/TO_DOUBLE/TO_BOOLEAN/TO_DATETIME) lower to upper/lower/
  ``try_cast`` (ES|QL conversions are NULL-on-failure, never errors);
- the date family: ``DATE_FORMAT(fmt, d)`` / ``DATE_PARSE(fmt, s)``
  (format-FIRST, ES|QL order) swap into Spark's (value, fmt);
  ``DATE_EXTRACT(chrono_field, d)`` maps java.time ChronoField names
  to ``extract`` (DAY_OF_WEEK is ISO Monday=1 → DAYOFWEEK_ISO);
  ``DATE_DIFF(unit, start, end)`` maps to ``timestampdiff``;
- ``STARTS_WITH``/``ENDS_WITH`` lower to startswith/endswith;
- ``TO_IP`` validates a dotted-quad IPv4 (NULL otherwise);
  ``CIDR_MATCH(ip, "10.0.0.0/8", ..)`` folds each literal block's
  prefix/shift at plan time into integer codegen arithmetic;
- ``CASE(c1, v1, c2, v2, .., [default])`` — ES|QL's FUNCTION-form
  CASE (what Kibana emits) lowers to a CASE WHEN chain;
- ``REPLACE(s, regex, new)`` is REGEX substitution in ES|QL →
  regexp_replace; ``SPLIT(s, delim)`` takes a LITERAL delimiter →
  split with the delimiter regex-escaped;
- more MV_*: MV_SORT / MV_DEDUPE / MV_SLICE (0-based inclusive →
  slice) / MV_APPEND / MV_ZIP;
- aggregate-context names: COUNT_DISTINCT (lowered EXACT — ES|QL's
  HLL precision knob accepted and ignored), MEDIAN (exact
  interpolated percentile), PERCENTILE (ES|QL's 0-100 scale divided
  into Spark's 0-1), WEIGHTED_AVG, TOP(field, n, order) (top-N
  multivalue), VALUES (unique values, sorted for determinism —
  ES|QL guarantees no order);
- ``LIKE "pat"`` uses ES|QL wildcards — ``*`` / ``?`` matching the
  WHOLE string (NOT SQL ``%``/``_``) — lowered to an anchored RLIKE;
  a backslash escapes the next pattern character to a literal
  (``"a\\\\*b"`` matches the literal ``a*b``); ``RLIKE`` itself is
  whole-string in ES|QL (like the ES regexp query), so its pattern
  is wrapped ``^(?:pat)$``.

String literals support the ES|QL escapes ``\\"`` ``\\\\`` ``\\n``
``\\t`` ``\\r``; an unknown escape keeps both characters (so a
``"\\d+"`` regex convenience survives into RLIKE patterns).

Everything else passes through Spark's parser, which rejects what it
doesn't know at plan time. ``STATS`` BY keys accept ``name = expr``
assignments, so ``BY hour = BUCKET(ts, 1 hour)`` names the bucket.
ES|QL multi-value LITERALS (``[1, 2, 3]``) rewrite to ``array(..)``;
index access (``arr[0]``) passes through untouched.

Scale shape: a pipe chain is ONE logical plan — Catalyst fuses the
stages (WHERE conjuncts push to the scan through EVALs when
independent), STATS is one partial-agg shuffle, SORT+LIMIT a
TakeOrdered. Piped syntax changes nothing about the physics.
"""

from __future__ import annotations

import contextvars
import fnmatch
import re

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["run_esql"]

# --- ES|QL-named functions -> Spark SQL ------------------------------------

# seconds per fixed-width BUCKET unit; calendar units (week/month/
# quarter/year — variable length) lower to date_trunc and only accept
# a count of 1, exactly like ES calendar_interval
_BUCKET_FIXED_SECS = {
    "millisecond": None,  # sub-second fixed buckets are not lowered
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
}
_BUCKET_CALENDAR = {
    "second": "SECOND",
    "minute": "MINUTE",
    "hour": "HOUR",
    "day": "DAY",
    "week": "WEEK",
    "month": "MONTH",
    "quarter": "QUARTER",
    "year": "YEAR",
}
_DURATION_RE = re.compile(
    r"^(\d+)\s*([A-Za-z]+?)s?$"  # "1 hour", "3 hours", "90 minutes"
)

# --- NOW() + datetime arithmetic -------------------------------------------
#
# ``WHERE ts > NOW() - 1 hour`` is the Kibana time-picker form. NOW()
# lowers to the run's anchor: the ``now=`` parameter of ``run_esql``
# when given (deterministic — what oracles and replays need; ES pins
# the same instant across a whole query), else Spark's query-stable
# current_timestamp(). A ``<n> <unit>`` temporal literal next to +/-
# lowers to an ANSI INTERVAL (weeks fold to days, quarters to months,
# milliseconds to fractional seconds — Spark's ANSI interval units).

_NOW_ANCHOR: contextvars.ContextVar[str | None] = contextvars.ContextVar(
    "esql_now_anchor", default=None
)

# active while a TS-sourced pipe runs: {"dims": [..] | None,
# "time": str | None, "consumed": bool} — STATS consults it to route
# the time-series aggregate family through the two-level lowering
# (and to reject a second collapse once the series are gone)
_TS_CTX: contextvars.ContextVar[dict | None] = contextvars.ContextVar(
    "esql_ts_ctx", default=None
)

# run_esql's ts_dimensions / ts_time_col parameters, carried to the
# TS source branch (which activates _TS_CTX for the pipe's stages)
_TS_META: contextvars.ContextVar[dict | None] = contextvars.ContextVar(
    "esql_ts_meta", default=None
)


def _lower_now(args: list[str]) -> str:
    anchor = _NOW_ANCHOR.get()
    if anchor is not None:
        return f"TIMESTAMP '{anchor}'"
    return "current_timestamp()"


_DURATION_LIT_RE = re.compile(
    r"\b(\d+)\s+(millisecond|second|minute|hour|day|week|month"
    r"|quarter|year)s?\b",
    re.IGNORECASE,
)


def _interval_sql(m: re.Match) -> str:
    n, unit = int(m.group(1)), m.group(2).lower()
    if unit == "week":
        return f"INTERVAL '{n * 7}' DAY"
    if unit == "quarter":
        return f"INTERVAL '{n * 3}' MONTH"
    if unit == "millisecond":
        return f"INTERVAL '{n / 1000:.3f}' SECOND"
    return f"INTERVAL '{n}' {unit.upper()}"


def _rewrite_durations(expr: str) -> str:
    """``<n> <unit>`` temporal literals OUTSIDE string literals ->
    ANSI INTERVALs, enabling ``ts + 2 hours`` / ``NOW() - 1 day``.
    Runs AFTER the function rewrite so BUCKET's span argument — the
    other place a bare duration appears — is already consumed by its
    own lowerer."""
    out: list[str] = []
    i, n = 0, len(expr)
    while i < n:
        if expr[i] == "'":
            j = _scan_literal(expr, i)
            out.append(expr[i:j])
            i = j
            continue
        j = expr.find("'", i)
        if j == -1:
            j = n
        out.append(_DURATION_LIT_RE.sub(_interval_sql, expr[i:j]))
        i = j
    return "".join(out)


# the auto-BUCKET datetime ladder: fixed-width candidates in seconds
# (epoch-aligned, like ES fixed_interval), then the variable-length
# calendars with their bucket-count estimates. The pick is the
# SMALLEST interval yielding <= target buckets over [from, to) — the
# Lens/Discover auto-interval behavior (a 1-year span at target 20
# picks 1 month, the ES docs' own example).
_BUCKET_AUTO_FIXED = (
    1, 5, 10, 30, 60, 300, 600, 1800,
    3600, 3 * 3600, 12 * 3600, 86400, 7 * 86400,
)
_BUCKET_AUTO_CALENDAR = (
    ("MONTH", 2_592_000),     # ~30 d estimate for counting only
    ("QUARTER", 7_884_000),   # ~91.25 d
    ("YEAR", 31_536_000),     # 365 d
)


def _bucket_literal(arg: str, what: str):
    """A 4-arg BUCKET bound: a normalized quoted date/timestamp
    literal -> datetime, or a bare numeric literal -> float. The
    bounds shape the plan, so they must be literals."""
    import datetime as _dt

    m = re.fullmatch(r"\s*'([^']*)'\s*", arg)
    if m:
        try:
            return _dt.datetime.fromisoformat(
                m.group(1).replace("Z", "+00:00")
            ).replace(tzinfo=None)
        except ValueError:
            raise ValueError(
                f"ES|QL BUCKET: bad {what} bound {m.group(1)!r} "
                "(want an ISO date/timestamp literal)"
            ) from None
    try:
        return float(arg)
    except ValueError:
        raise ValueError(
            f"ES|QL BUCKET: the {what} bound must be a date or "
            f"numeric LITERAL (it shapes the plan): {arg!r}"
        ) from None


def _lower_bucket_auto(args: list[str]) -> str:
    """``BUCKET(expr, target, from, to)`` — the auto form Lens uses:
    pick a nice interval yielding at most ``target`` buckets over the
    literal [from, to) range, then bucket exactly like the 2-arg
    form. Datetime bounds walk the fixed-seconds ladder then the
    calendars; numeric bounds round (to-from)/target UP to the next
    1/2/5 x 10^k nice width. The interval folds at PLAN time — the
    row-side work is identical to the explicit-span form."""
    import datetime as _dt
    import math

    expr = args[0]
    try:
        target = int(args[1])
    except ValueError:
        raise ValueError(
            "ES|QL BUCKET: the auto form's bucket count must be an "
            f"integer literal: {args[1]!r}"
        ) from None
    if target < 1:
        raise ValueError(f"ES|QL BUCKET: bucket count must be >= 1: {target}")
    lo = _bucket_literal(args[2], "from")
    hi = _bucket_literal(args[3], "to")
    if isinstance(lo, _dt.datetime) != isinstance(hi, _dt.datetime):
        raise ValueError(
            "ES|QL BUCKET: from/to bounds must both be dates or both "
            f"numbers: {args[2]!r}, {args[3]!r}"
        )
    if isinstance(lo, _dt.datetime):
        span = (hi - lo).total_seconds()
        if span <= 0:
            raise ValueError("ES|QL BUCKET: to must be after from")
        for secs in _BUCKET_AUTO_FIXED:
            if span / secs <= target:
                return (
                    f"timestamp_seconds(floor(unix_timestamp({expr}) "
                    f"/ {secs}) * {secs})"
                )
        for unit, est in _BUCKET_AUTO_CALENDAR:
            if span / est <= target:
                return f"date_trunc('{unit}', {expr})"
        return f"date_trunc('YEAR', {expr})"
    if hi <= lo:
        raise ValueError("ES|QL BUCKET: to must be greater than from")
    raw = (hi - lo) / target
    exp = math.floor(math.log10(raw))
    width = None
    for mult in (1, 2, 5, 10):
        width = mult * 10.0 ** exp
        if width >= raw - 1e-12:
            break
    w = int(width) if width == int(width) else width
    return (
        f"(floor(CAST(({expr}) AS DOUBLE) / {w}) "
        f"* CAST({w} AS DOUBLE))"
    )


def _lower_bucket(args: list[str]) -> str:
    """``BUCKET(expr, span)`` — the grouping Kibana Discover generates
    for every ES|QL date histogram. A calendar span of 1 unit lowers
    to ``date_trunc`` (ISO Monday weeks, like ES); an N-unit fixed
    span lowers to epoch-aligned fixed-width buckets (ES
    fixed_interval alignment); a bare number lowers to the numeric
    floor-multiple. The 4-arg auto form (``BUCKET(f, 50, from, to)``)
    picks a nice interval for ~50 buckets from the LITERAL bounds —
    see ``_lower_bucket_auto``."""
    if len(args) == 4:
        return _lower_bucket_auto(args)
    if len(args) != 2:
        raise ValueError(
            "ES|QL BUCKET: expected BUCKET(expr, span) or the 4-arg "
            f"auto form BUCKET(expr, count, from, to): {args!r}"
        )
    expr, span = args[0], args[1].strip()
    m = _DURATION_RE.match(span)
    if m:
        n, unit = int(m.group(1)), m.group(2).lower()
        if unit in _BUCKET_CALENDAR and n == 1:
            return f"date_trunc('{_BUCKET_CALENDAR[unit]}', {expr})"
        secs = _BUCKET_FIXED_SECS.get(unit)
        if secs is None:
            raise ValueError(
                f"ES|QL BUCKET: {span!r} — a multi-unit span needs a "
                "fixed-length unit (second/minute/hour/day); calendar "
                "units (week/month/quarter/year) only bucket by 1"
            )
        total = n * secs
        return (
            f"timestamp_seconds(floor(unix_timestamp({expr}) "
            f"/ {total}) * {total})"
        )
    try:
        width = float(span)
    except ValueError:
        raise ValueError(
            f"ES|QL BUCKET: cannot parse span {span!r} (want '1 hour', "
            "'30 minutes', or a number for numeric histograms)"
        ) from None
    if width <= 0:
        raise ValueError(f"ES|QL BUCKET: span must be positive: {span!r}")
    # CAST keeps the arithmetic in DOUBLE — a bare 2.5 literal is
    # DECIMAL(2,1) to Spark's parser and would make the bucket a
    # DECIMAL column
    return (
        f"(floor(CAST(({expr}) AS DOUBLE) / {span}) "
        f"* CAST({span} AS DOUBLE))"
    )


def _mv_sum(x: str) -> str:
    return (
        f"CASE WHEN {x} IS NULL OR size({x}) = 0 THEN "
        f"CAST(NULL AS DOUBLE) ELSE aggregate({x}, "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE)) END"
    )


def _quoted_literal(arg: str, fn: str) -> str:
    """The raw text of a (normalized) single-quoted literal argument —
    DATE_EXTRACT/DATE_DIFF take their unit as a string literal."""
    m = re.fullmatch(r"\s*'([^']*)'\s*", arg)
    if not m:
        raise ValueError(
            f"ES|QL {fn}: the unit must be a quoted string literal, "
            f"got {arg!r}"
        )
    return m.group(1)


# java.time.temporal.ChronoField names (what ES|QL DATE_EXTRACT
# takes) -> Spark extract() fields. DAY_OF_WEEK is ISO (1=Monday) in
# ChronoField, so it maps to DAYOFWEEK_ISO, not Spark's Sunday-based
# DAYOFWEEK.
_CHRONO_FIELDS = {
    "YEAR": "YEAR",
    "MONTH_OF_YEAR": "MONTH",
    "DAY_OF_MONTH": "DAY",
    "DAY_OF_WEEK": "DAYOFWEEK_ISO",
    "DAY_OF_YEAR": "DOY",
    "HOUR_OF_DAY": "HOUR",
    "MINUTE_OF_HOUR": "MINUTE",
    "SECOND_OF_MINUTE": "SECOND",
    "ALIGNED_WEEK_OF_YEAR": "WEEK",
}


def _lower_date_extract(args: list[str]) -> str:
    part = _quoted_literal(args[0], "DATE_EXTRACT").upper()
    field = _CHRONO_FIELDS.get(part)
    if field is None:
        raise ValueError(
            f"ES|QL DATE_EXTRACT: unsupported ChronoField {part!r} "
            f"(supported: {sorted(_CHRONO_FIELDS)})"
        )
    return f"extract({field} FROM {args[1]})"


# ES|QL DATE_DIFF unit spellings (full/plural/abbreviated) -> Spark
# timestampdiff units
_DIFF_UNITS = {
    "year": "YEAR", "years": "YEAR", "yy": "YEAR", "yyyy": "YEAR",
    "quarter": "QUARTER", "quarters": "QUARTER", "qq": "QUARTER",
    "month": "MONTH", "months": "MONTH", "mm": "MONTH",
    "week": "WEEK", "weeks": "WEEK", "wk": "WEEK", "ww": "WEEK",
    "day": "DAY", "days": "DAY", "dd": "DAY", "d": "DAY",
    "hour": "HOUR", "hours": "HOUR", "hh": "HOUR",
    "minute": "MINUTE", "minutes": "MINUTE", "mi": "MINUTE",
    "n": "MINUTE",
    "second": "SECOND", "seconds": "SECOND", "ss": "SECOND",
    "s": "SECOND",
    "millisecond": "MILLISECOND", "milliseconds": "MILLISECOND",
    "ms": "MILLISECOND",
    "microsecond": "MICROSECOND", "microseconds": "MICROSECOND",
    "mcs": "MICROSECOND",
}


def _lower_hash(args: list[str]) -> str:
    """ES|QL ``HASH("algorithm", input)`` (ES 8.16) -> the named hex
    digest. The algorithm must be a string LITERAL (ES requires a
    constant too) and maps to Spark's md5/sha1/sha2 — NEVER to
    Spark's own ``hash()``, which is murmur3 and would silently
    disagree with every other engine."""
    alg_src = args[0].strip()
    if not (alg_src.startswith("'") and alg_src.endswith("'")):
        raise ValueError(
            "ES|QL HASH: the algorithm must be a string literal, "
            f"got {alg_src!r}"
        )
    alg = alg_src[1:-1].replace("''", "'").lower()
    if alg == "md5":
        return f"md5({args[1]})"
    if alg in ("sha1", "sha-1"):
        return f"sha1({args[1]})"
    if alg in ("sha256", "sha-256"):
        return f"sha2({args[1]}, 256)"
    if alg in ("sha512", "sha-512"):
        return f"sha2({args[1]}, 512)"
    raise ValueError(
        f"ES|QL HASH: unsupported algorithm {alg!r} "
        "(md5, sha1, sha256, sha512)"
    )


def _lower_mv_percentile(args: list[str]) -> str:
    """ES|QL ``MV_PERCENTILE(field, p)`` — the percentile of a
    multivalue, exact linear interpolation on the sorted values (the
    same definition ES uses for small exact sets). Out-of-range p
    falls out as NULL (the 0-based ``get()`` lookups miss), matching
    ES's NULL-plus-warning behavior."""
    x, p = args[0], args[1]
    s = f"array_sort({x})"
    idx = f"(CAST(size({x}) - 1 AS DOUBLE) * ({p}) / 100.0)"
    lo = f"CAST(floor({idx}) AS INT)"
    at_lo = f"CAST(get({s}, {lo}) AS DOUBLE)"
    at_hi = f"CAST(get({s}, {lo} + 1) AS DOUBLE)"
    return (
        f"(CASE WHEN size({x}) > 0 THEN {at_lo} + "
        f"(coalesce({at_hi}, {at_lo}) - {at_lo}) * "
        f"({idx} - CAST({lo} AS DOUBLE)) END)"
    )


def _lower_round_to(args: list[str]) -> str:
    """ES|QL ``ROUND_TO(value, p1, p2, ..)`` (ES 8.19) — rounds DOWN
    to the largest of the fixed points <= value; values below every
    point clamp to the smallest point (ES's histogram-lower-bound
    behavior). Points must be numeric literals (ES requires
    constants), so the comparison ladder folds at plan time."""
    val = args[0]
    pts: list[float] = []
    for p in args[1:]:
        try:
            pts.append(float(p))
        except ValueError:
            raise ValueError(
                "ES|QL ROUND_TO: points must be numeric literals, "
                f"got {p!r}"
            )
    spts = sorted(set(args[1:]), key=lambda s: float(s))
    whens = " ".join(
        f"WHEN {val} >= {p} THEN {p}" for p in reversed(spts)
    )
    return (
        f"(CASE WHEN {val} IS NULL THEN NULL {whens} "
        f"ELSE {spts[0]} END)"
    )


# WKT point, parentheses as character classes (no regex backslashes,
# so the pattern survives SQL string-literal escaping untouched)
_WKT_POINT_RE_SQL = "'^POINT ?[(]([0-9.eE+-]+) ([0-9.eE+-]+)[)]$'"


def _lower_to_geopoint(args: list[str]) -> str:
    """ES|QL ``TO_GEOPOINT("POINT (lon lat)")`` — parse a WKT point
    into a (lon, lat) struct; a non-WKT value folds to NULL (ES|QL:
    conversion failure -> NULL + warning)."""
    a = args[0]
    lon = f"CAST(regexp_extract({a}, {_WKT_POINT_RE_SQL}, 1) AS DOUBLE)"
    lat = f"CAST(regexp_extract({a}, {_WKT_POINT_RE_SQL}, 2) AS DOUBLE)"
    return (
        f"(CASE WHEN {a} RLIKE {_WKT_POINT_RE_SQL} "
        f"THEN named_struct('lon', {lon}, 'lat', {lat}) END)"
    )


# Lucene's mean earth radius (SloppyMath) — the constant ES's
# geo_distance math is built on
_EARTH_RADIUS_M = "6371008.7714"


def _lower_st_distance(args: list[str]) -> str:
    """ES|QL ``ST_DISTANCE(geom1, geom2)`` over geo_points — great-
    circle meters by the haversine formula on Lucene's mean earth
    radius (6371008.7714 m), the constant ES's geo distance math is
    built on. Operands are the (lon, lat) structs TO_GEOPOINT
    produces; a NULL point propagates NULL."""
    a, b = args[0], args[1]
    lat1, lon1 = f"radians(({a}).lat)", f"radians(({a}).lon)"
    lat2, lon2 = f"radians(({b}).lat)", f"radians(({b}).lon)"
    h = (
        f"pow(sin(({lat2} - {lat1}) / 2), 2) + "
        f"cos({lat1}) * cos({lat2}) * "
        f"pow(sin(({lon2} - {lon1}) / 2), 2)"
    )
    return f"(2 * {_EARTH_RADIUS_M} * asin(sqrt({h})))"


def _lower_case_fn(args: list[str]) -> str:
    """ES|QL ``CASE(cond1, val1, cond2, val2, .., [default])`` — the
    FUNCTION form (ES|QL has no CASE WHEN syntax; Kibana emits this
    everywhere). Lowered to a SQL CASE WHEN chain; an odd trailing
    argument is the default."""
    if len(args) < 2:
        raise ValueError(
            f"ES|QL CASE: needs at least (condition, value): {args!r}"
        )
    default = args[-1] if len(args) % 2 == 1 else None
    pairs = args[:-1] if default is not None else args
    parts = ["CASE"]
    for i in range(0, len(pairs), 2):
        parts.append(f"WHEN {pairs[i]} THEN {pairs[i + 1]}")
    if default is not None:
        parts.append(f"ELSE {default}")
    parts.append("END")
    return "(" + " ".join(parts) + ")"


def _rx_escape_literal(arg: str, fn: str) -> str:
    """Regex-escape the content of a quoted literal argument and
    re-quote it — ES|QL SPLIT takes a LITERAL delimiter where Spark's
    split takes a regex. Backslashes double for Spark's
    string-literal unescaping."""
    m = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", arg)
    if not m:
        # non-literal delimiter: pass through (documented: treated as
        # a regex, Spark semantics)
        return arg
    raw = m.group(1).replace("''", "'")
    esc = "".join(
        "\\" + c if (c in _RX_SPECIALS or c in "*?") else c
        for c in raw
    )
    return "'" + esc.replace("\\", "\\\\").replace("'", "''") + "'"


def _lower_mv_slice(args: list[str]) -> str:
    """ES|QL ``MV_SLICE(x, start[, end])`` — 0-based INCLUSIVE
    bounds, negative = from the end. Spark's slice is 1-based
    (start, length). Bounds must be integer literals of the same
    sign."""
    try:
        s = int(args[1])
        e = int(args[2]) if len(args) == 3 else s
    except ValueError:
        raise ValueError(
            f"ES|QL MV_SLICE: start/end must be integer literals: "
            f"{args[1:]}"
        ) from None
    if (s < 0) != (e < 0):
        raise ValueError(
            f"ES|QL MV_SLICE: start and end must share a sign: {s}, {e}"
        )
    if e < s:
        raise ValueError(f"ES|QL MV_SLICE: end < start: {s}, {e}")
    length = e - s + 1
    start = s if s < 0 else s + 1
    return f"slice({args[0]}, {start}, {length})"


def _lower_mv_sort(args: list[str]) -> str:
    order = "true"
    if len(args) == 2:
        o = _quoted_literal(args[1], "MV_SORT").upper()
        if o not in ("ASC", "DESC"):
            raise ValueError(
                f"ES|QL MV_SORT: order must be ASC or DESC: {o!r}"
            )
        order = "true" if o == "ASC" else "false"
    return f"sort_array({args[0]}, {order})"


def _lower_mv_median(args: list[str]) -> str:
    """ES|QL MV_MEDIAN: the middle sorted value; an even count
    averages the two middles (ES's rule for numerics)."""
    x = args[0]
    sa = f"sort_array({x})"
    n = f"size({x})"
    return (
        f"(CASE WHEN {x} IS NULL OR {n} = 0 THEN CAST(NULL AS DOUBLE) "
        f"WHEN {n} % 2 = 1 THEN CAST(get({sa}, {n} DIV 2) AS DOUBLE) "
        f"ELSE (CAST(get({sa}, {n} DIV 2 - 1) AS DOUBLE) "
        f"+ CAST(get({sa}, {n} DIV 2) AS DOUBLE)) / 2.0 END)"
    )


def _lower_mv_zip(args: list[str]) -> str:
    """ES|QL MV_ZIP keeps the LONGER array's trailing values as-is
    when lengths differ (zip_with pads the short side with NULL, so
    the unmatched tail coalesces to the surviving element instead of
    going NULL)."""
    delim = args[2] if len(args) == 3 else "','"
    return (
        f"zip_with({args[0]}, {args[1]}, "
        f"(l, r) -> CASE WHEN l IS NULL THEN r "
        f"WHEN r IS NULL THEN l "
        f"ELSE concat(l, {delim}, r) END)"
    )


# dotted-quad to integer, NULL on non-numeric pieces (try_cast) —
# the '\\\\.' reaches Spark's string literal as '\\.', i.e. a literal
# dot for the regex split
_IP_INT = (
    "aggregate(transform(split({e}, '\\\\.'), "
    "x -> try_cast(x AS BIGINT)), CAST(0 AS BIGINT), "
    "(a, v) -> a * 256 + v)"
)
_IPV4_RE_SQL = (
    "'^(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])"
    "(\\\\.(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])){3}$'"
)


def _lower_cidr_match(args: list[str]) -> str:
    """ES|QL ``CIDR_MATCH(ip, "10.0.0.0/8", ..)`` — true when the ip
    falls in ANY of the literal IPv4 CIDR blocks. The block's prefix
    integer and shift are computed at PLAN time, so the row-side work
    is one anchored-regex gate + dotted-quad fold + an integer divide
    per block (pure codegen). The fold is gated on the SAME anchored
    IPv4 regex TO_IP uses, so a malformed value — wrong piece count
    ('10.1', '1.2.3.4.5') or an octet > 255 — folds to NULL and never
    matches, like ES. IPv6 is not lowered."""
    ip_int = (
        f"(CASE WHEN {args[0]} RLIKE {_IPV4_RE_SQL} "
        f"THEN {_IP_INT.format(e=args[0])} END)"
    )
    arms = []
    for cidr_arg in args[1:]:
        cidr = _quoted_literal(cidr_arg, "CIDR_MATCH")
        net, _, plen_s = cidr.partition("/")
        parts = net.split(".")
        try:
            octets = [int(o) for o in parts]
            plen = int(plen_s) if plen_s else 32
        except ValueError:
            raise ValueError(
                f"ES|QL CIDR_MATCH: bad IPv4 CIDR literal {cidr!r}"
            ) from None
        if len(octets) != 4 or not all(0 <= o <= 255 for o in octets) \
                or not 0 <= plen <= 32:
            raise ValueError(
                f"ES|QL CIDR_MATCH: bad IPv4 CIDR literal {cidr!r}"
            )
        net_int = 0
        for o in octets:
            net_int = net_int * 256 + o
        shift = 32 - plen
        if shift:
            arms.append(
                f"(({ip_int}) DIV {1 << shift} = {net_int >> shift})"
            )
        else:
            arms.append(f"(({ip_int}) = {net_int})")
    return "(" + " OR ".join(arms) + ")"


def _lower_categorize(f: str) -> str:
    """The categorize_text key expression in SQL form — kept
    textually aligned with operators/aggsdsl's Column version so the
    ES|QL BY key and the aggregation bucket on the same category."""
    key = (
        f"array_join(filter(split({f}, '\\\\s+'), "
        f"t -> t != '' AND NOT t RLIKE '[0-9]'), ' ')"
    )
    return (
        f"(CASE WHEN {f} IS NOT NULL AND {key} != '' THEN {key} END)"
    )


def _lower_ip_prefix(args: list[str]) -> str:
    """ES|QL ``IP_PREFIX(ip, v4_len, v6_len)`` — the network address
    at the given prefix length, as an IP string. IPv4 only (the v6
    length is validated and accepted; a non-IPv4 value yields NULL,
    the same gate TO_IP/CIDR_MATCH use). The mask folds at plan time;
    the row-side work is one gated dotted-quad fold, an integer
    divide, and byte re-assembly — pure codegen."""
    try:
        p4 = int(args[1])
        int(args[2])  # v6 length: validated, v6 values never lower
    except ValueError:
        raise ValueError(
            "ES|QL IP_PREFIX: prefix lengths must be integer "
            f"literals: {args[1:]!r}"
        ) from None
    if not 0 <= p4 <= 32:
        raise ValueError(
            f"ES|QL IP_PREFIX: IPv4 prefix length must be 0..32: {p4}"
        )
    ip_int = _IP_INT.format(e=args[0])
    block = 1 << (32 - p4)
    net = f"(({ip_int}) DIV {block} * {block})" if p4 < 32 else f"({ip_int})"
    return (
        f"(CASE WHEN {args[0]} RLIKE {_IPV4_RE_SQL} THEN "
        f"concat(CAST({net} DIV 16777216 AS STRING), '.', "
        f"CAST(({net} DIV 65536) % 256 AS STRING), '.', "
        f"CAST(({net} DIV 256) % 256 AS STRING), '.', "
        f"CAST({net} % 256 AS STRING)) END)"
    )


def _lower_top(args: list[str]) -> str:
    """ES|QL ``TOP(field, limit, "asc"|"desc")`` aggregate: the top N
    values as a multivalue. Limit and order must be literals (they
    shape the plan)."""
    try:
        limit = int(args[1])
    except ValueError:
        raise ValueError(
            f"ES|QL TOP: limit must be an integer literal: {args[1]!r}"
        ) from None
    if limit < 1:
        raise ValueError(f"ES|QL TOP: limit must be >= 1: {limit}")
    order = _quoted_literal(args[2], "TOP").upper()
    if order not in ("ASC", "DESC"):
        raise ValueError(
            f"ES|QL TOP: order must be asc or desc: {order!r}"
        )
    asc = "true" if order == "ASC" else "false"
    return (
        f"slice(sort_array(collect_list({args[0]}), {asc}), 1, {limit})"
    )


def _lower_percentile(args: list[str]) -> str:
    """ES|QL ``PERCENTILE(field, p)`` takes p on the 0-100 scale;
    Spark's percentile() wants 0-1 — divide through. Exact
    linear-interpolation percentile (ES approximates with TDigest;
    exact is deterministic and strictly more accurate)."""
    return f"percentile({args[0]}, ({args[1]}) / 100)"


def _lower_date_diff(args: list[str]) -> str:
    unit = _quoted_literal(args[0], "DATE_DIFF").lower()
    spark_unit = _DIFF_UNITS.get(unit)
    if spark_unit is None:
        raise ValueError(
            f"ES|QL DATE_DIFF: unsupported unit {unit!r} "
            f"(supported: {sorted(set(_DIFF_UNITS))})"
        )
    # ES|QL: DATE_DIFF(unit, start, end) = end - start, same
    # direction as Spark's timestampdiff(unit, start, end)
    return f"timestampdiff({spark_unit}, {args[1]}, {args[2]})"


# The ES|QL function table: argument count (or (min, max)) and a
# lowering to Spark SQL text.
#
# MV_* notes: size(NULL) is -1 pre-ANSI and NULL under ANSI —
# nullif(.., -1) makes MV_COUNT NULL-on-NULL either way (the ES|QL
# contract: every MV_* function is NULL on a NULL input).
#
# TO_* conversions use try_cast: ES|QL conversion functions yield
# NULL (plus a warning header) on unconvertible input, never an
# error — ANSI CAST would throw.
#
# DATE_FORMAT/DATE_PARSE take the FORMAT FIRST (ES|QL argument
# order), swapped into Spark's (value, format); the pattern dialect
# is java.time.DateTimeFormatter on both engines.
_ESQL_FUNCS: dict[str, tuple[object, object]] = {
    "BUCKET": ((2, 4), _lower_bucket),
    "MV_COUNT": (1, lambda a: f"nullif(size({a[0]}), -1)"),
    "MV_MIN": (1, lambda a: f"array_min({a[0]})"),
    "MV_MAX": (1, lambda a: f"array_max({a[0]})"),
    "MV_SUM": (1, lambda a: _mv_sum(a[0])),
    "MV_AVG": (
        1,
        lambda a: f"({_mv_sum(a[0])}) / nullif(size({a[0]}), -1)",
    ),
    "MV_CONCAT": (2, lambda a: f"array_join({a[0]}, {a[1]})"),
    "MV_FIRST": (1, lambda a: f"get({a[0]}, 0)"),
    "MV_LAST": (1, lambda a: f"get({a[0]}, size({a[0]}) - 1)"),
    "TO_UPPER": (1, lambda a: f"upper({a[0]})"),
    "TO_LOWER": (1, lambda a: f"lower({a[0]})"),
    "TO_STRING": (1, lambda a: f"CAST({a[0]} AS STRING)"),
    "TO_LONG": (1, lambda a: f"try_cast({a[0]} AS BIGINT)"),
    "TO_INTEGER": (1, lambda a: f"try_cast({a[0]} AS INT)"),
    "TO_INT": (1, lambda a: f"try_cast({a[0]} AS INT)"),
    "TO_DOUBLE": (1, lambda a: f"try_cast({a[0]} AS DOUBLE)"),
    "TO_BOOLEAN": (1, lambda a: f"try_cast({a[0]} AS BOOLEAN)"),
    "TO_DATETIME": (1, lambda a: f"try_cast({a[0]} AS TIMESTAMP)"),
    # TO_IP keeps the string when it is a valid dotted-quad IPv4,
    # NULL otherwise (ES|QL: conversion failure -> NULL + warning)
    "TO_IP": (
        1,
        lambda a: (
            f"(CASE WHEN {a[0]} RLIKE {_IPV4_RE_SQL} "
            f"THEN {a[0]} END)"
        ),
    ),
    "CIDR_MATCH": ((2, 16), _lower_cidr_match),
    "HASH": (2, _lower_hash),
    "MV_PERCENTILE": (2, _lower_mv_percentile),
    "ROUND_TO": ((2, 64), _lower_round_to),
    "TO_GEOPOINT": (1, _lower_to_geopoint),
    "ST_X": (1, lambda a: f"({a[0]}).lon"),
    "ST_Y": (1, lambda a: f"({a[0]}).lat"),
    "ST_DISTANCE": (2, _lower_st_distance),
    "STARTS_WITH": (2, lambda a: f"startswith({a[0]}, {a[1]})"),
    "ENDS_WITH": (2, lambda a: f"endswith({a[0]}, {a[1]})"),
    # 1-arg DATE_FORMAT uses ES's default (ISO-8601 with millis);
    # 2-arg takes the FORMAT FIRST (ES|QL argument order)
    "DATE_FORMAT": (
        (1, 2),
        lambda a: (
            f"date_format({a[1]}, {a[0]})"
            if len(a) == 2
            else (
                f"date_format({a[0]}, "
                "'yyyy-MM-dd''T''HH:mm:ss.SSS''Z''')"
            )
        ),
    ),
    "DATE_PARSE": (2, lambda a: f"to_timestamp({a[1]}, {a[0]})"),
    "DATE_EXTRACT": (2, _lower_date_extract),
    "DATE_DIFF": (3, _lower_date_diff),
    "CASE": ((2, 64), _lower_case_fn),
    # ES|QL REPLACE is REGEX substitution (Spark's replace is literal)
    "REPLACE": (
        3,
        lambda a: f"regexp_replace({a[0]}, {a[1]}, {a[2]})",
    ),
    # ES|QL SPLIT takes a LITERAL delimiter; Spark's split a regex —
    # literal delimiters are regex-escaped, non-literals pass through
    "SPLIT": (
        2,
        lambda a: f"split({a[0]}, {_rx_escape_literal(a[1], 'SPLIT')})",
    ),
    # --- aggregate-context functions (STATS / INLINESTATS) ---
    # COUNT_DISTINCT: ES|QL approximates with HLL (optional precision
    # knob); lowered EXACT — deterministic and strictly more accurate,
    # so the precision argument is accepted and ignored
    "COUNT_DISTINCT": (
        (1, 2),
        lambda a: f"count(DISTINCT {a[0]})",
    ),
    # MEDIAN: exact interpolated percentile (ES uses TDigest)
    "MEDIAN": (1, lambda a: f"percentile({a[0]}, 0.5)"),
    "PERCENTILE": (2, _lower_percentile),
    "WEIGHTED_AVG": (
        2,
        lambda a: (
            f"try_divide(sum(({a[0]}) * ({a[1]})), sum({a[1]}))"
        ),
    ),
    "TOP": (3, _lower_top),
    # VALUES: ES|QL gives NO order guarantee — sorted here so results
    # are deterministic (within the contract, stronger than ES)
    "VALUES": (1, lambda a: f"sort_array(collect_set({a[0]}))"),
    "NOW": (0, _lower_now),
    # CATEGORIZE (ES 8.18 GA): the log-pattern grouping key Kibana's
    # pattern analysis uses as a STATS BY function. Same deterministic
    # reading as the engine's categorize_text aggregation: the token
    # sequence with every digit-bearing token dropped (numbers are
    # what varies between repeats of one log pattern); NULL/empty
    # messages form no category. ES's similarity-threshold category
    # MERGING is not lowered (the aggregation rejects its tuning
    # params for the same reason).
    "CATEGORIZE": (1, lambda a: _lower_categorize(a[0])),
    # DATE_TRUNC takes the interval FIRST (ES|QL order) — the same
    # lowering as 2-arg BUCKET with the arguments swapped (1-unit
    # calendar -> date_trunc; N-unit fixed -> epoch-aligned floor)
    "DATE_TRUNC": (2, lambda a: _lower_bucket([a[1], a[0]])),
    # ES|QL LOCATE(string, substring[, start]); Spark locate takes
    # (substring, string[, pos]) — swapped. Both are 1-based.
    "LOCATE": (
        (2, 3),
        lambda a: (
            f"locate({a[1]}, {a[0]}, {a[2]})"
            if len(a) == 3
            else f"locate({a[1]}, {a[0]})"
        ),
    ),
    "IP_PREFIX": (3, lambda a: _lower_ip_prefix(a)),
    "TAU": (0, lambda a: "(2.0 * pi())"),
    "TO_DEGREES": (1, lambda a: f"degrees({a[0]})"),
    "TO_RADIANS": (1, lambda a: f"radians({a[0]})"),
    "TO_BASE64": (1, lambda a: f"base64({a[0]})"),
    "FROM_BASE64": (1, lambda a: f"CAST(unbase64({a[0]}) AS STRING)"),
    "BYTE_LENGTH": (1, lambda a: f"octet_length({a[0]})"),
    "SHA256": (1, lambda a: f"sha2({a[0]}, 256)"),
    "MV_MEDIAN": (1, _lower_mv_median),
    "MV_SORT": ((1, 2), _lower_mv_sort),
    "MV_DEDUPE": (1, lambda a: f"array_distinct({a[0]})"),
    "MV_SLICE": ((2, 3), _lower_mv_slice),
    "MV_APPEND": (2, lambda a: f"concat({a[0]}, {a[1]})"),
    "MV_ZIP": ((2, 3), _lower_mv_zip),
}

_FUNC_NAME_RE = re.compile(
    r"\b(" + "|".join(sorted(_ESQL_FUNCS)) + r")\s*\(", re.IGNORECASE
)


def _rewrite_funcs(expr: str) -> str:
    """Translate ES|QL-named function calls (BUCKET, the MV_* scalar
    family) in an already quote-normalized expression into Spark SQL,
    recursing into nested calls. Anything not in the table passes
    through untouched (Spark's parser is the final arbiter). A match
    inside a string literal (odd quote parity before it — '' doubling
    keeps parity even) is literal text and stays untouched."""
    pos = 0
    while True:
        m = _FUNC_NAME_RE.search(expr, pos)
        if not m:
            return expr
        if expr[:m.start()].count("'") % 2 == 1:
            pos = m.end()
            continue
        break
    name = m.group(1).upper()
    # balanced-paren argument extraction (strings already normalized
    # to single quotes by _tr_expr)
    depth, i, n = 1, m.end(), len(expr)
    quote = False
    while i < n and depth:
        ch = expr[i]
        if quote:
            if ch == "'":
                quote = False
        elif ch == "'":
            quote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        i += 1
    if depth:
        raise ValueError(f"ES|QL: unbalanced parens in {expr!r}")
    inner = expr[m.end():i - 1]
    args = [_rewrite_funcs(a) for a in _split_top_commas(inner)]
    arity, lower = _ESQL_FUNCS[name]
    lo, hi = arity if isinstance(arity, tuple) else (arity, arity)
    if not lo <= len(args) <= hi:
        raise ValueError(
            f"ES|QL {name}: expected "
            + (f"{lo}" if lo == hi else f"{lo}..{hi}")
            + f" args, got {len(args)}: {inner!r}"
        )
    return expr[:m.start()] + lower(args) + _rewrite_funcs(expr[i:])

_CMD_RE = re.compile(r"^\s*([A-Za-z_]+)\s*(.*)$", re.DOTALL)
# characters allowed in a translated expression (defense in depth on
# top of Spark's parser — no semicolons, no comments, no backslashes)
_EXPR_SAFE_RE = re.compile(r"^[\w\s\.\+\-\*/%\(\)<>=!,'\"\[\]:]*$")


def _split_pipes(query: str) -> list[str]:
    """Split on top-level ``|`` — pipes inside string literals or
    parentheses stay (FORK branches carry their own sub-pipelines)."""
    parts: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    esc = False
    depth = 0
    for ch in query:
        if quote:
            buf.append(ch)
            if esc:
                esc = False
            elif quote == '"' and ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "|" and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if quote:
        raise ValueError(f"ES|QL: unterminated string in {query!r}")
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


# ES|QL string-literal escapes (the subset that matters in practice:
# quotes, backslash itself, and the whitespace trio); any OTHER
# backslash sequence passes through verbatim — backslash kept — so a
# regex convenience like "\d+" survives into RLIKE patterns instead
# of erroring
_ESC_MAP = {'"': '"', "\\": "\\", "n": "\n", "t": "\t", "r": "\r"}


def _scan_dquote(expr: str, i: int) -> tuple[str, int]:
    """Decode the double-quoted ES|QL string literal starting at
    ``expr[i] == '\"'``: returns (raw decoded text, index past the
    closing quote). ``\\\"`` / ``\\\\`` / ``\\n`` / ``\\t`` / ``\\r``
    decode; an unknown escape keeps both characters."""
    j = i + 1
    n = len(expr)
    out: list[str] = []
    while j < n:
        ch = expr[j]
        if ch == "\\" and j + 1 < n:
            nxt = expr[j + 1]
            if nxt in _ESC_MAP:
                out.append(_ESC_MAP[nxt])
            else:
                out.append("\\")
                out.append(nxt)
            j += 2
            continue
        if ch == '"':
            return "".join(out), j + 1
        out.append(ch)
        j += 1
    raise ValueError(f"ES|QL: unterminated string in {expr!r}")


def _sql_str(raw: str) -> str:
    """Raw text -> a normalized Spark single-quoted literal:
    backslashes double (Spark's parser unescapes string literals) and
    quotes double ('' is the quote escape this module's scanners
    expect)."""
    return "'" + raw.replace("\\", "\\\\").replace("'", "''") + "'"


def _tr_expr(expr: str) -> str:
    """ES|QL expression -> Spark SQL: ``==`` becomes ``=`` and
    double-quoted strings become single-quoted (identifiers in ES|QL
    are bare or backquoted, never double-quoted); ``\\\"`` / ``\\\\``
    escapes inside double-quoted literals decode here."""
    out: list[str] = []
    skeleton: list[str] = []  # the expr with string CONTENTS blanked —
    # the safety check applies to syntax, not literal text
    i, n = 0, len(expr)
    last_sig = ""  # last non-space character emitted — decides
    # whether a '[' is an ES|QL multi-value LITERAL ([1, 2, 3] ->
    # array(1, 2, 3)) or Spark index access (arr[0], untouched)
    bstack: list[bool] = []  # True = bracket converted to array(
    while i < n:
        ch = expr[i]
        if ch == '"':
            raw, j = _scan_dquote(expr, i)
            out.append(_sql_str(raw))
            skeleton.append("''")
            last_sig = "'"
            i = j
        elif ch == "'":
            j = i + 1
            while j < n and expr[j] != "'":
                j += 1
            out.append(expr[i:j + 1])
            skeleton.append("''")
            last_sig = "'"
            i = j + 1
        elif expr.startswith("==", i):
            out.append("=")
            skeleton.append("=")
            last_sig = "="
            i += 2
        elif ch == "[":
            lit = not (
                last_sig
                and (last_sig.isalnum() or last_sig in "_)]'")
            )
            bstack.append(lit)
            tok = "array(" if lit else "["
            out.append(tok)
            skeleton.append(tok)
            last_sig = "("
            i += 1
        elif ch == "]":
            tok = ")" if (bstack and bstack.pop()) else "]"
            out.append(tok)
            skeleton.append(tok)
            last_sig = tok
            i += 1
        else:
            out.append(ch)
            skeleton.append(ch)
            if not ch.isspace():
                last_sig = ch
            i += 1
    sk = "".join(skeleton)
    if not _EXPR_SAFE_RE.match(sk):
        raise ValueError(f"ES|QL: unsupported expression syntax: {expr!r}")
    ft = _FT_RE.search(sk)
    if ft:
        # WHERE extracts these before translation — reaching here
        # means the call sits in EVAL/STATS/SORT, where ES rejects
        # full-text functions too
        raise ValueError(
            f"ES|QL: full-text function {ft.group(1).upper()}() is "
            f"only supported in WHERE: {expr!r}"
        )
    if _KNN_RE.search(sk):
        # WHERE extracts KNN before translation — reaching here
        # means the call sits in EVAL/STATS/SORT, where ES rejects
        # it too (the predicate needs retrieval semantics)
        raise ValueError(
            f"ES|QL: KNN() is only supported in WHERE: {expr!r}"
        )
    ts = _TS_AGG_RE.search(sk)
    if ts:
        # the TS family never reaches translation on the supported
        # path: a TS-sourced STATS extracts these calls BEFORE
        # _expr_col (see _ts_stats). Reaching here means the call
        # sits in a FROM-sourced query or outside STATS.
        raise ValueError(
            f"ES|QL: the time-series aggregate "
            f"{ts.group(1).upper()}() is only supported inside "
            "STATS of a TS-sourced query (ES 8.19 tech preview): "
            f"{expr!r}"
        )
    return _rewrite_decimals(
        _rewrite_durations(_rewrite_funcs(_rewrite_like("".join(out))))
    )


# Java-regex metacharacters (Spark executors run java.util.regex);
# '*' and '?' are handled first as ES|QL wildcards
_RX_SPECIALS = set(".^$+()[]{}|\\")


def _wildcard_regex(pattern: str) -> str:
    """ES|QL LIKE pattern (``*`` = any run, ``?`` = one char) -> an
    anchored Java regex — ES|QL LIKE matches the WHOLE string. A
    backslash escapes the next character to a LITERAL (``\\*`` is a
    real asterisk, ``\\\\`` a real backslash — written ``\\\\*`` /
    ``\\\\\\\\`` in ES|QL source, since string literals consume one
    level); a dangling trailing backslash is a parse error."""
    out = ["^"]
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\":
            if i + 1 >= n:
                raise ValueError(
                    f"ES|QL LIKE: dangling backslash in {pattern!r}"
                )
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in _RX_SPECIALS:
            out.append("\\" + ch)
        else:
            out.append(ch)
        i += 1
    out.append("$")
    return "".join(out)


def _scan_literal(expr: str, start: int) -> int:
    """Index just past a normalized single-quoted literal starting at
    ``start`` (handles '' doubling). Raises on unterminated."""
    j = start + 1
    n = len(expr)
    while j < n:
        if expr[j] == "'":
            if j + 1 < n and expr[j + 1] == "'":
                j += 2
                continue
            return j + 1
        j += 1
    raise ValueError(f"ES|QL: unterminated string in {expr!r}")


def _decode_normalized(inner: str) -> str:
    """The CONTENT of a normalized single-quoted literal -> raw text:
    ``''`` undoubles to a quote and ``\\\\`` to one backslash (what
    ``_sql_str`` emitted); a lone backslash — possible when the caller
    wrote a pre-normalized single-quoted literal — stays as-is."""
    out: list[str] = []
    i, n = 0, len(inner)
    while i < n:
        ch = inner[i]
        if ch == "'" and i + 1 < n and inner[i + 1] == "'":
            out.append("'")
            i += 2
        elif ch == "\\" and i + 1 < n and inner[i + 1] == "\\":
            out.append("\\")
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _like_list_end(expr: str, k: int) -> int:
    """Index of the ``)`` closing a LIKE/RLIKE pattern-list opening
    at ``expr[k] == '('`` (literals skipped)."""
    i, n = k + 1, len(expr)
    while i < n:
        ch = expr[i]
        if ch == "'":
            i = _scan_literal(expr, i)
            continue
        if ch == ")":
            return i
        if ch == "(":
            raise ValueError(
                f"ES|QL LIKE: a pattern list holds only string "
                f"literals: {expr[k:]!r}"
            )
        i += 1
    raise ValueError(f"ES|QL LIKE: unterminated pattern list in {expr!r}")


def _rewrite_like(expr: str) -> str:
    """ES|QL LIKE/RLIKE semantics on a quote-normalized expression:

    - ``LIKE 'pat'`` — ES|QL wildcards are ``*`` / ``?`` (NOT SQL's
      ``%`` / ``_``) and match the whole string; lowered to an
      anchored RLIKE (backslashes doubled for Spark's string-literal
      unescaping). ``x NOT LIKE 'p'`` stays valid as ``x NOT RLIKE``.
    - ``RLIKE 'pat'`` — ES|QL (like the ES regexp query) matches the
      ENTIRE string where Spark's RLIKE is find-anywhere; the pattern
      is wrapped ``^(?:pat)$`` with its text otherwise untouched.
    - ``LIKE ('p1', 'p2')`` / ``RLIKE ('r1', 'r2')`` — the ES 8.16
      pattern-LIST form (true when ANY pattern matches) lowers to ONE
      anchored alternation regex — still a single codegen predicate,
      not N ors.

    The scanner skips string literals, so a LIKE inside a string
    stays literal text."""
    out: list[str] = []
    i, n = 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch == "'":
            j = _scan_literal(expr, i)
            out.append(expr[i:j])
            i = j
            continue
        m = re.match(r"(R?LIKE)\s*", expr[i:], re.IGNORECASE)
        if m and (i == 0 or not (expr[i - 1].isalnum()
                                 or expr[i - 1] == "_")):
            is_like = m.group(1).upper() == "LIKE"
            k = i + m.end()
            if k < n and expr[k] == "'":
                j = _scan_literal(expr, k)
                inner = expr[k + 1:j - 1]  # normalized, '' kept as-is
                if is_like:
                    rx = _wildcard_regex(_decode_normalized(inner))
                    lit = rx.replace("\\", "\\\\").replace("'", "''")
                else:
                    lit = f"^(?:{inner})$"
                out.append(f"RLIKE '{lit}'")
                i = j
                continue
            if k < n and expr[k] == "(":
                close = _like_list_end(expr, k)
                pats = _split_top_commas(expr[k + 1:close])
                cores: list[str] = []
                for p in pats:
                    lm = re.fullmatch(r"'((?:[^']|'')*)'", p.strip())
                    if not lm:
                        raise ValueError(
                            f"ES|QL {m.group(1).upper()}: pattern "
                            f"lists hold only string literals: {p!r}"
                        )
                    if is_like:
                        # strip the ^ / $ the single-pattern helper
                        # anchors with; re-anchor around the union
                        cores.append(
                            _wildcard_regex(
                                _decode_normalized(lm.group(1))
                            )[1:-1]
                        )
                    else:
                        cores.append(lm.group(1))
                if not cores:
                    raise ValueError(
                        f"ES|QL {m.group(1).upper()}: empty pattern "
                        f"list in {expr!r}"
                    )
                union = "|".join(f"(?:{c})" for c in cores)
                if is_like:
                    lit = f"^(?:{union})$".replace(
                        "\\", "\\\\"
                    ).replace("'", "''")
                else:
                    lit = f"^(?:{union})$"
                out.append(f"RLIKE '{lit}'")
                i = close + 1
                continue
        out.append(ch)
        i += 1
    return "".join(out)


_DECIMAL_RE = re.compile(r"(?<![\w.])(\d+\.\d+)(?![\w.])")


def _rewrite_decimals(expr: str) -> str:
    """ES|QL decimal literals are DOUBLEs; Spark's parser makes a
    bare ``2.5`` a DECIMAL(2,1), which then propagates exact-decimal
    arithmetic (and a pandas ``object`` dtype) through the plan. Wrap
    every bare decimal literal OUTSIDE string literals in a DOUBLE
    cast. Runs after the function rewrite so span literals like
    ``BUCKET(ts, 2.5)`` are still raw when their lowerer parses
    them."""
    out: list[str] = []
    i, n = 0, len(expr)
    while i < n:
        if expr[i] == "'":
            j = _scan_literal(expr, i)
            out.append(expr[i:j])
            i = j
            continue
        j = expr.find("'", i)
        if j == -1:
            j = n
        out.append(_DECIMAL_RE.sub(r"CAST(\1 AS DOUBLE)", expr[i:j]))
        i = j
    return "".join(out)


def _expr_col(expr: str) -> Column:
    return F.expr(_tr_expr(expr))


# --- full-text WHERE functions: MATCH / QSTR (ES 8.17) ---------------------
#
# Kibana 8.17+ text-filters every ES|QL data view through these — they
# are the bridge between ES|QL and scored search. Each lowers through
# the engine's EXISTING compilers: MATCH through the query-DSL match
# clause (operators/querydsl.compile_query), QSTR through the Lucene
# query_string parser (operators/luceneq) — so ES|QL and the _search
# API can never disagree about what a text query matches. Like ES,
# they are only legal inside WHERE (the predicate needs match
# semantics, not a scalar value).

# MATCH_PHRASE before MATCH — the alternation must not split the
# longer name at its prefix
_FT_RE = re.compile(
    r"\b(MATCH_PHRASE|MATCH|QSTR|KQL|TERM)\s*\(", re.IGNORECASE
)

# the TS command's time-series aggregate family (ES 8.19 tech
# preview) — lowered by _ts_stats on the TS path; anywhere else the
# names fail loud (a silent pass-through to Spark's parser would
# produce a confusing unknown-function error instead of naming the
# constraint)
_TS_AGG_RE = re.compile(
    r"\b(RATE|IRATE|IDELTA|DELTA|INCREASE"
    r"|(?:AVG|MIN|MAX|SUM|COUNT|FIRST|LAST|COUNT_DISTINCT"
    r"|STD_DEV|ABSENT|PRESENT)_OVER_TIME)\s*\(",
    re.IGNORECASE,
)

# inner aggregates _ts_stats lowers; ABSENT/PRESENT_OVER_TIME are in
# _TS_AGG_RE (so they fail with the TS message, not an unknown-name
# one) but deliberately NOT here — they reason about sample gaps,
# which needs the scrape interval this engine does not model
_TS_INNER_FNS = {
    "RATE", "IRATE", "IDELTA", "DELTA", "INCREASE",
    "AVG_OVER_TIME", "MIN_OVER_TIME", "MAX_OVER_TIME",
    "SUM_OVER_TIME", "COUNT_OVER_TIME", "COUNT_DISTINCT_OVER_TIME",
    "STD_DEV_OVER_TIME", "FIRST_OVER_TIME", "LAST_OVER_TIME",
}
# counter family — needs the lag()-window pre-pass
_TS_COUNTER_FNS = {"RATE", "IRATE", "IDELTA", "DELTA", "INCREASE"}

# KNN(field, [query_vector] [, k | {"k":.., "similarity":..}]) —
# ES 8.19 tech preview: vector search inside an ES|QL WHERE. Pins
# for determinism: k defaults to 10 (ES's default size), scoring is
# the dense-vector cosine scale (1+cos)/2 — the SAME expression the
# _search knn section ranks by; sibling AND-conjuncts act as
# PRE-filters (ES applies WHERE conjunctions as kNN prefilters);
# OR/NOT around KNN is rejected like ES rejects negated knn.
_KNN_RE = re.compile(r"\bKNN\s*\(", re.IGNORECASE)
_KNN_OPT_KEYS = {"k", "similarity"}

_MATCH_OPT_KEYS = {"operator", "analyzer"}
_QSTR_OPT_KEYS = {
    "default_field", "fields", "default_operator",
    "minimum_should_match",
}


def _scan_balanced(arg: str, open_idx: int) -> int:
    """Index of the ``)`` closing the ``(`` at ``open_idx`` in RAW
    ES|QL text (both quote kinds + escapes respected)."""
    depth = 0
    i, n = open_idx, len(arg)
    while i < n:
        ch = arg[i]
        if ch == '"':
            _, i = _scan_dquote(arg, i)
            continue
        if ch == "'":
            j = arg.find("'", i + 1)
            if j == -1:
                raise ValueError(f"ES|QL: unterminated string in {arg!r}")
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError(f"ES|QL: unbalanced parens in {arg!r}")


def _lit_str_raw(argtext: str, fn: str) -> str:
    """Decode a RAW ES|QL string-literal argument (double- or
    single-quoted) to its text; anything else is a plan-time error —
    full-text query strings must be literals (they compile into the
    plan)."""
    s = argtext.strip()
    if s.startswith('"'):
        raw, j = _scan_dquote(s, 0)
        if j != len(s):
            raise ValueError(
                f"ES|QL {fn}: the query must be one string literal: "
                f"{argtext!r}"
            )
        return raw
    if s.startswith("'") and s.endswith("'") and len(s) >= 2:
        return s[1:-1]
    raise ValueError(
        f"ES|QL {fn}: the query must be a string literal, got "
        f"{argtext!r}"
    )


def _opts_map(argtext: str, fn: str, allowed: set[str]) -> dict:
    """Parse an ES|QL named-options map argument (``{"key": value}``
    — JSON-shaped, like ES|QL's named parameters). Unknown keys fail
    loud: silently ignoring an option would change results."""
    import json

    s = argtext.strip()
    try:
        opts = json.loads(s)
    except ValueError:
        raise ValueError(
            f"ES|QL {fn}: cannot parse options map {argtext!r} "
            "(want a JSON-shaped map literal)"
        ) from None
    if not isinstance(opts, dict):
        raise ValueError(
            f"ES|QL {fn}: options must be a map literal: {argtext!r}"
        )
    bad = sorted(set(opts) - allowed)
    if bad:
        raise ValueError(
            f"ES|QL {fn}: unsupported option(s) {bad} "
            f"(supported: {sorted(allowed)})"
        )
    return opts


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")


def _lower_fulltext(name: str, inner: str) -> tuple[Column, dict]:
    """One MATCH/QSTR/KQL call -> (boolean Column, the query-DSL dict
    it compiled from). The dict feeds relevance scoring when the
    frame carries ``METADATA _score``."""
    from .querydsl import compile_query

    args = _split_top_commas(inner)
    if name == "KQL":
        # the Kibana search-bar language, parsed by operators/kql
        # onto the same DSL tree — so the bar and the pipe agree
        from .kql import kql_to_dsl

        if not 1 <= len(args) <= 2:
            raise ValueError(
                f"ES|QL KQL: expected KQL(\"query\" [, options]), "
                f"got {len(args)} args: {inner!r}"
            )
        opts = (
            _opts_map(args[1], "KQL", {"default_field", "fields"})
            if len(args) == 2
            else {}
        )
        dsl = kql_to_dsl(_lit_str_raw(args[0], "KQL"), **opts)
        return compile_query(dsl), dsl
    if name == "MATCH_PHRASE":
        # ES 8.19: consecutive-token phrase search in pipe syntax —
        # lowers to the SAME match_phrase clause _search compiles
        if not 2 <= len(args) <= 3:
            raise ValueError(
                f"ES|QL MATCH_PHRASE: expected MATCH_PHRASE(field, "
                f"\"phrase\" [, options]), got {len(args)} args: "
                f"{inner!r}"
            )
        field = args[0].strip()
        if not _IDENT_RE.match(field):
            raise ValueError(
                f"ES|QL MATCH_PHRASE: the first argument must be a "
                f"field name, got {field!r}"
            )
        body = {"query": _lit_str_raw(args[1], "MATCH_PHRASE")}
        if len(args) == 3:
            opts = _opts_map(
                args[2], "MATCH_PHRASE", {"slop", "analyzer"}
            )
            if "slop" in opts:
                opts["slop"] = int(opts["slop"])
            body.update(opts)
        dsl = {"match_phrase": {field: body}}
        return compile_query(dsl), dsl
    if name == "TERM":
        # ES 8.16 tech preview: exact un-analyzed term equality —
        # the keyword-field form (no analysis on either side)
        if len(args) != 2:
            raise ValueError(
                f"ES|QL TERM: expected TERM(field, value), got "
                f"{len(args)} args: {inner!r}"
            )
        field = args[0].strip()
        if not _IDENT_RE.match(field):
            raise ValueError(
                f"ES|QL TERM: the first argument must be a field "
                f"name, got {field!r}"
            )
        vraw = args[1].strip()
        if vraw.startswith('"') or vraw.startswith("'"):
            value: object = _lit_str_raw(vraw, "TERM")
        else:
            try:
                value = (
                    float(vraw) if "." in vraw else int(vraw)
                )
            except ValueError:
                raise ValueError(
                    f"ES|QL TERM: the value must be a literal, "
                    f"got {vraw!r}"
                )
        dsl = {"term": {field: {"value": value}}}
        return compile_query(dsl), dsl
    if name == "MATCH":
        if not 2 <= len(args) <= 3:
            raise ValueError(
                f"ES|QL MATCH: expected MATCH(field, \"query\" "
                f"[, options]), got {len(args)} args: {inner!r}"
            )
        field = args[0].strip()
        if not _IDENT_RE.match(field):
            raise ValueError(
                f"ES|QL MATCH: the first argument must be a field "
                f"name, got {field!r}"
            )
        body: dict = {"query": _lit_str_raw(args[1], "MATCH")}
        if len(args) == 3:
            opts = _opts_map(args[2], "MATCH", _MATCH_OPT_KEYS)
            if "operator" in opts:
                opts["operator"] = str(opts["operator"]).lower()
            body.update(opts)
        dsl = {"match": {field: body}}
        return compile_query(dsl), dsl
    # QSTR: full Lucene query syntax through operators/luceneq —
    # fielded terms work bare; UNfielded terms need default_field or
    # fields in the options map (the engine has no index mapping to
    # infer a default * expansion from; luceneq raises the same)
    if not 1 <= len(args) <= 2:
        raise ValueError(
            f"ES|QL QSTR: expected QSTR(\"query\" [, options]), got "
            f"{len(args)} args: {inner!r}"
        )
    body = {"query": _lit_str_raw(args[0], "QSTR")}
    if len(args) == 2:
        body.update(_opts_map(args[1], "QSTR", _QSTR_OPT_KEYS))
    dsl = {"query_string": body}
    return compile_query(dsl), dsl


def _extract_knn(
    arg: str,
) -> tuple[str | None, str, list[float], int, float | None] | None:
    """Find the ``KNN(field, [vector] [, k|options])`` call in a RAW
    WHERE expression (ES 8.19 tech preview). Returns None when there
    is no call, else (rest_predicate_or_None, field, query_vector,
    k, similarity_or_None). The call must be a top-level conjunct:
    siblings joined by AND become the kNN PRE-filter (ES's rule);
    OR/NOT around the call — which would need post-knn union
    semantics — fails loud, like ES rejects negated knn."""
    blanked = _blank_strings(arg)
    m = _KNN_RE.search(blanked)
    if m is None:
        return None
    depth = 0
    for ch in blanked[:m.start()]:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
    if depth != 0:
        raise ValueError(
            "ES|QL KNN: must be a top-level conjunct of the WHERE "
            f"(not nested in parentheses): {arg!r}"
        )
    open_idx = arg.index("(", m.end() - 1)
    close = _scan_balanced(arg, open_idx)
    if _KNN_RE.search(_blank_strings(arg[close + 1:])):
        raise ValueError(
            f"ES|QL KNN: one call per WHERE: {arg!r}"
        )
    # splice the call out as TRUE — the remainder is the pre-filter
    rest = (arg[:m.start()] + " TRUE " + arg[close + 1:]).strip()
    # the siblings must be pure AND-glue: any top-level OR/NOT
    # changes the semantics from prefilter to union/negation
    rb = _blank_strings(rest)
    d = 0
    for tm in re.finditer(r"\(|\)|\[|\]|\b(OR|NOT)\b", rb,
                          re.IGNORECASE):
        t = tm.group(0)
        if t in "([":
            d += 1
        elif t in ")]":
            d -= 1
        elif d == 0:
            raise ValueError(
                "ES|QL KNN: only AND-conjuncts may surround "
                f"KNN (they pre-filter the search): {arg!r}"
            )
    if rest.upper() == "TRUE":
        rest = ""
    args = _split_top_commas(arg[open_idx + 1:close])
    if not 2 <= len(args) <= 3:
        raise ValueError(
            "ES|QL KNN: expected KNN(field, [query_vector] "
            f"[, k | options]), got {len(args)} args: {arg!r}"
        )
    field = args[0].strip()
    if not _IDENT_RE.match(field):
        raise ValueError(
            f"ES|QL KNN: the first argument must be a field name, "
            f"got {field!r}"
        )
    vsrc = args[1].strip()
    if not (vsrc.startswith("[") and vsrc.endswith("]")):
        raise ValueError(
            "ES|QL KNN: the query vector must be a bracketed "
            f"number list, got {vsrc!r}"
        )
    try:
        qv = [float(x) for x in vsrc[1:-1].split(",")]
    except ValueError:
        raise ValueError(
            f"ES|QL KNN: non-numeric query vector element: {vsrc!r}"
        )
    if not qv:
        raise ValueError("ES|QL KNN: empty query vector")
    k, sim = 10, None
    if len(args) == 3:
        third = args[2].strip()
        if third.startswith("{"):
            opts = _opts_map(third, "KNN", _KNN_OPT_KEYS)
            k = int(opts.get("k", 10))
            if "similarity" in opts:
                sim = float(opts["similarity"])
        else:
            try:
                k = int(third)
            except ValueError:
                raise ValueError(
                    "ES|QL KNN: the third argument must be an "
                    f"integer k or an options map: {third!r}"
                )
    if k <= 0:
        raise ValueError(f"ES|QL KNN: k must be positive: {k}")
    if sim is not None and not -1.0 <= sim <= 1.0:
        raise ValueError(
            f"ES|QL KNN: similarity must be in [-1, 1]: {sim}"
        )
    return rest or None, field, qv, k, sim


def _extract_fulltext(
    arg: str,
) -> tuple[str, list[tuple[str, Column, dict]]]:
    """Replace every top-level MATCH(..)/QSTR(..)/KQL(..) call in a
    RAW WHERE expression with a placeholder column name, compiling
    each call to (boolean Column, source DSL). The caller attaches
    the placeholders, filters, and drops them — Catalyst collapses
    the projections, so the plan is the same single predicate a
    hand-written filter builds."""
    out: list[str] = []
    cols: list[tuple[str, Column, dict]] = []
    i, n = 0, len(arg)
    while i < n:
        ch = arg[i]
        if ch == '"':
            _, j = _scan_dquote(arg, i)
            out.append(arg[i:j])
            i = j
            continue
        if ch == "'":
            j = arg.find("'", i + 1)
            if j == -1:
                raise ValueError(f"ES|QL: unterminated string in {arg!r}")
            out.append(arg[i:j + 1])
            i = j + 1
            continue
        m = _FT_RE.match(arg, i)
        if m and (i == 0 or not (arg[i - 1].isalnum()
                                 or arg[i - 1] == "_")):
            close = _scan_balanced(arg, m.end() - 1)
            col, dsl = _lower_fulltext(
                m.group(1).upper(), arg[m.end():close]
            )
            ph = f"__esql_ft{len(cols)}"
            cols.append((ph, col, dsl))
            out.append(ph)
            i = close + 1
            continue
        out.append(ch)
        i += 1
    return "".join(out), cols


def _split_top_commas(s: str) -> list[str]:
    """Split on commas outside parentheses, braces (named-options
    maps), and strings."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    quote: str | None = None
    esc = False
    for ch in s:
        if quote:
            buf.append(ch)
            if esc:
                esc = False
            elif quote == '"' and ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch in "({[":
            depth += 1
            buf.append(ch)
        elif ch in ")}]":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


_ASSIGN_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$", re.DOTALL)


def _find_top_kw(arg: str, kw: str) -> int | None:
    """Index of the first top-level (outside parens/strings)
    occurrence of keyword ``kw``, or None."""
    upper = arg.upper()
    depth = 0
    quote = None
    esc = False
    n, ln = len(arg), len(kw)
    for i, ch in enumerate(arg):
        if quote:
            if esc:
                esc = False
            elif quote == '"' and ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and upper.startswith(kw, i) and (
            i == 0 or not (arg[i - 1].isalnum() or arg[i - 1] == "_")
        ) and (
            i + ln >= n or not (arg[i + ln].isalnum()
                                or arg[i + ln] == "_")
        ):
            return i
    return None


def _split_by(arg: str) -> tuple[str, str]:
    """Split a STATS/INLINESTATS argument at the top-level ``BY``
    (not inside parens/strings) into (aggs_src, keys_src)."""
    by_idx = _find_top_kw(arg, "BY")
    if by_idx is None:
        return arg, ""
    return arg[:by_idx], arg[by_idx + 2:]


def _agg_with_where(rhs: str) -> str:
    """ES|QL's per-aggregate filter (ES 8.16): ``name = agg(x) WHERE
    cond`` inside STATS. Lowered to the ANSI ``FILTER (WHERE ..)``
    aggregate clause — one pass, no pre-split of the frame."""
    wi = _find_top_kw(rhs, "WHERE")
    if wi is None:
        return rhs
    cond = rhs[wi + 5:].strip()
    if not cond:
        raise ValueError(
            f"ES|QL STATS: WHERE needs a condition: {rhs!r}"
        )
    return f"{rhs[:wi]} FILTER (WHERE {cond})"


def _agg_where_window(rhs: str) -> str:
    """The per-aggregate WHERE in WINDOW context (INLINESTATS):
    Spark's window aggregates reject the ANSI FILTER clause, so the
    condition folds into the aggregate's first argument as a CASE
    (aggregates ignore NULLs, so the semantics are identical;
    ``count(*)`` counts a CASE 1)."""
    wi = _find_top_kw(rhs, "WHERE")
    if wi is None:
        return rhs
    cond = rhs[wi + 5:].strip()
    head = rhs[:wi].strip()
    if not cond:
        raise ValueError(
            f"ES|QL INLINESTATS: WHERE needs a condition: {rhs!r}"
        )
    m = re.fullmatch(
        r"([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)", head, re.DOTALL
    )
    if not m:
        raise ValueError(
            f"ES|QL INLINESTATS: the per-aggregate WHERE applies to "
            f"one aggregate call, got {head!r}"
        )
    fn, inner = m.group(1), m.group(2).strip()
    if inner == "*":
        return f"{fn}(CASE WHEN {cond} THEN 1 END)"
    args = _split_top_commas(inner)
    args[0] = f"CASE WHEN {cond} THEN {args[0]} END"
    return f"{fn}({', '.join(args)})"


def _blank_strings(s: str) -> str:
    """RAW ES|QL text with every string literal's CONTENTS replaced
    by spaces (length-preserving, so regex match positions carry
    over to the original) — lets command lowerers pattern-scan
    without tripping on function-shaped text inside quotes."""
    out = list(s)
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == '"':
            _, j = _scan_dquote(s, i)
            for k in range(i + 1, j - 1):
                out[k] = " "
            i = j
        elif ch == "'":
            j = s.find("'", i + 1)
            if j == -1:
                raise ValueError(f"ES|QL: unterminated string in {s!r}")
            for k in range(i + 1, j):
                out[k] = " "
            i = j + 1
        else:
            i += 1
    return "".join(out)


def _extract_ts_calls(
    rhs: str, start: int
) -> tuple[str, list[tuple[str, str, str]]]:
    """Replace every time-series aggregate call in a TS STATS
    aggregate expression with a generated stage-1 column name;
    returns (rewritten outer expression, [(alias, FN, field_src)]).
    ``start`` offsets the generated aliases so they stay unique
    across the whole STATS."""
    calls: list[tuple[str, str, str]] = []
    out = rhs
    while True:
        m = _TS_AGG_RE.search(_blank_strings(out))
        if not m:
            return out, calls
        fn = m.group(1).upper()
        if fn not in _TS_INNER_FNS:
            raise ValueError(
                f"ES|QL TS: {fn}() is not lowered — it reasons about "
                "sample gaps, which needs a scrape interval this "
                f"engine does not model: {rhs!r}"
            )
        open_idx = out.index("(", m.end() - 1)
        close = _scan_balanced(out, open_idx)
        inner = out[open_idx + 1:close].strip()
        if not inner or inner == "*":
            raise ValueError(
                f"ES|QL TS: {fn}() needs a field argument: {rhs!r}"
            )
        if _TS_AGG_RE.search(_blank_strings(inner)):
            raise ValueError(
                f"ES|QL TS: time-series aggregates do not nest: "
                f"{rhs!r}"
            )
        alias = f"__ts{start + len(calls)}"
        calls.append((alias, fn, inner))
        out = out[:m.start()] + alias + out[close + 1:]


def _ts_stats(df: DataFrame, arg: str) -> DataFrame:
    """The TS command's STATS (ES 8.19 tech preview): ``STATS
    outer(inner_ts(field)) BY keys``. Two-level lowering —

    stage 1: group by (series dimensions + BY keys) and compute each
    inner aggregate per time series per group. The counter family
    (RATE/IRATE/DELTA/IDELTA/INCREASE) first runs ONE lag() window
    ordered by the time column; Spark reuses that window's hash
    partitioning for the stage-1 partial aggregate, so the counter
    pre-pass costs no extra exchange. Reset rule (Prometheus): a
    negative step means the counter restarted — the post-reset value
    IS the increase. RATE divides the reset-adjusted increase by the
    observed span (last - first sample seconds; <2 samples -> NULL);
    IRATE/IDELTA use only the last two samples; DELTA is last-minus-
    first with NO reset logic (the gauge form).

    stage 2: group by the BY keys alone and run the outer aggregates
    across series — one more partial-agg shuffle on a frame already
    collapsed to |series x groups| rows.

    Scale: exactly two exchanges total, both partial-aggregated;
    the raw frame is touched once. Dimensions come from ``run_esql
    (ts_dimensions=..)`` — ES's ``_tsid`` fields, declared in index
    mappings (time_series_dimension: true), which a file-backed
    stand-in must be told. Reference context: the reference's
    metrics envelopes (main.go:447 ValueMetric/CounterEvent) are
    exactly the shape TS targets."""
    from pyspark.sql import Window

    ctx = _TS_CTX.get()
    if ctx.get("consumed"):
        raise ValueError(
            "ES|QL TS: an earlier STATS already collapsed the time "
            "series — time-series aggregates need the raw series rows"
        )
    dims = ctx.get("dims")
    if not dims:
        raise ValueError(
            "ES|QL TS: time-series aggregates need the series "
            "dimensions — pass ts_dimensions=[..] to run_esql (ES "
            "reads these from the index mapping's "
            "time_series_dimension fields)"
        )
    missing = [d for d in dims if d not in df.columns]
    if missing:
        raise ValueError(
            f"ES|QL TS: dimension column(s) {missing} not in the "
            f"frame (columns: {df.columns})"
        )
    time_col = ctx.get("time")
    if time_col is None:
        tcols = [
            f.name for f in df.schema.fields
            if f.dataType.typeName().startswith("timestamp")
        ]
        if len(tcols) != 1:
            raise ValueError(
                "ES|QL TS: cannot infer the time column "
                f"(timestamp-typed candidates: {tcols}); pass "
                "ts_time_col=.. to run_esql"
            )
        time_col = tcols[0]
    elif time_col not in df.columns:
        raise ValueError(
            f"ES|QL TS: time column {time_col!r} not in the frame "
            f"(columns: {df.columns})"
        )

    aggs_src, keys_src = _split_by(arg)
    outer: list[tuple[str, str]] = []  # (name, rewritten rhs)
    calls: list[tuple[str, str, str]] = []
    for part in _split_top_commas(aggs_src):
        m = _ASSIGN_RE.match(part)
        if not m:
            raise ValueError(
                f"ES|QL TS STATS: each aggregate needs "
                f"'name = outer(inner_ts(..))': {part!r}"
            )
        name, rhs = m.group(1), m.group(2)
        if _find_top_kw(rhs, "WHERE") is not None:
            raise ValueError(
                "ES|QL TS STATS: the per-aggregate WHERE is not "
                f"supported with time-series aggregates: {part!r}"
            )
        rewritten, found = _extract_ts_calls(rhs, len(calls))
        if found and rewritten.strip() in {a for a, _, _ in found}:
            raise ValueError(
                "ES|QL TS STATS: a time-series aggregate needs an "
                "outer aggregate across series, e.g. "
                f"'sum(rate(x))': {part!r}"
            )
        if not found:
            raise ValueError(
                "ES|QL TS STATS: every aggregate must wrap a "
                "time-series function (rate()/*_over_time()) — a "
                f"plain aggregate is ambiguous between documents "
                f"and series: {part!r}"
            )
        calls.extend(found)
        outer.append((name, rewritten))
    if not outer:
        raise ValueError(
            f"ES|QL TS STATS needs at least one aggregate: {arg!r}"
        )

    # BY keys: computed BEFORE stage 1 so buckets and dims group
    # together; named like _stats (`BY h = BUCKET(ts, 1 hour)`)
    key_names: list[str] = []
    key_cols: list[Column] = []
    for k in (_split_top_commas(keys_src) if keys_src.strip() else []):
        km = _ASSIGN_RE.match(k)
        if km:
            key_names.append(km.group(1))
            key_cols.append(_expr_col(km.group(2)).alias(km.group(1)))
        elif re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", k.strip()):
            key_names.append(k.strip())
            key_cols.append(F.col(k.strip()))
        else:
            raise ValueError(
                "ES|QL TS STATS: name computed BY keys "
                f"('BY h = BUCKET(..)'): {k!r}"
            )

    # cast: parquet timestamps arrive TIMESTAMP_NTZ and unix_micros
    # requires TIMESTAMP (identity under the engine's UTC sessions)
    us = F.unix_micros(F.col(time_col).cast("timestamp"))
    base = df.select(
        *[F.col(d) for d in dims],
        us.alias("__ts_us"),
        *key_cols,
        *[
            _expr_col(src).alias(f"{alias}_v")
            for alias, _, src in calls
        ],
    )
    gcols = [*dims, *key_names]
    if any(fn in _TS_COUNTER_FNS for _, fn, _ in calls):
        w = Window.partitionBy(*gcols).orderBy("__ts_us")
        for alias, fn, _ in calls:
            if fn not in _TS_COUNTER_FNS:
                continue
            v = F.col(f"{alias}_v")
            prev = F.lag(v).over(w)
            d = v - prev
            base = base.withColumn(f"{alias}_d", d)
            # reset-adjusted step (counter restarted -> the
            # post-reset value is the whole increase)
            base = base.withColumn(
                f"{alias}_inc", F.when(d < 0, v).otherwise(d)
            )
            if fn == "IRATE":
                span = (
                    F.col("__ts_us")
                    - F.lag(F.col("__ts_us")).over(w)
                ) / F.lit(1000000.0)
                base = base.withColumn(
                    f"{alias}_ir", F.col(f"{alias}_inc") / span
                )

    inner_aggs: list[Column] = []
    for alias, fn, _ in calls:
        v = F.col(f"{alias}_v")
        if fn == "RATE":
            span = (
                F.max("__ts_us") - F.min("__ts_us")
            ) / F.lit(1000000.0)
            a = F.when(
                span > 0, F.sum(f"{alias}_inc") / span
            )
        elif fn == "INCREASE":
            a = F.sum(f"{alias}_inc")
        elif fn == "DELTA":
            a = F.max_by(v, F.col("__ts_us")) - F.min_by(
                v, F.col("__ts_us")
            )
        elif fn == "IRATE":
            a = F.max_by(F.col(f"{alias}_ir"), F.col("__ts_us"))
        elif fn == "IDELTA":
            a = F.max_by(F.col(f"{alias}_d"), F.col("__ts_us"))
        elif fn == "AVG_OVER_TIME":
            a = F.avg(v)
        elif fn == "MIN_OVER_TIME":
            a = F.min(v)
        elif fn == "MAX_OVER_TIME":
            a = F.max(v)
        elif fn == "SUM_OVER_TIME":
            a = F.sum(v)
        elif fn == "COUNT_OVER_TIME":
            a = F.count(v)
        elif fn == "COUNT_DISTINCT_OVER_TIME":
            a = F.countDistinct(v)
        elif fn == "STD_DEV_OVER_TIME":
            # population form, like ES's std_deviation stats
            a = F.stddev_pop(v)
        elif fn == "FIRST_OVER_TIME":
            a = F.min_by(v, F.col("__ts_us"))
        else:  # LAST_OVER_TIME
            a = F.max_by(v, F.col("__ts_us"))
        inner_aggs.append(a.alias(alias))
    per_series = base.groupBy(*gcols).agg(*inner_aggs)

    outer_aggs = [
        _expr_col(rhs).alias(name) for name, rhs in outer
    ]
    ctx["consumed"] = True
    if key_names:
        return per_series.groupBy(*key_names).agg(*outer_aggs)
    return per_series.agg(*outer_aggs)


def _stats(df: DataFrame, arg: str) -> DataFrame:
    ts_ctx = _TS_CTX.get()
    if _TS_AGG_RE.search(_blank_strings(arg)):
        if ts_ctx is None:
            raise ValueError(
                "ES|QL: time-series aggregates (rate()/"
                "*_over_time()) need the TS source command, not "
                f"FROM: {arg!r}"
            )
        return _ts_stats(df, arg)
    aggs_src, keys_src = _split_by(arg)
    aggs = []
    for part in _split_top_commas(aggs_src):
        m = _ASSIGN_RE.match(part)
        if not m:
            raise ValueError(
                f"ES|QL STATS: each aggregate needs 'name = agg(..)': "
                f"{part!r}"
            )
        aggs.append(
            _expr_col(_agg_with_where(m.group(2))).alias(m.group(1))
        )
    keys = _split_top_commas(keys_src) if keys_src.strip() else []
    if not aggs and not keys:
        raise ValueError(f"ES|QL STATS needs at least one aggregate: {arg}")
    if keys:
        # BY keys accept `name = expr` assignments (ES|QL: `BY hour =
        # BUCKET(ts, 1 hour)` names the bucket column)
        key_cols = []
        for k in keys:
            km = _ASSIGN_RE.match(k)
            if km:
                key_cols.append(
                    _expr_col(km.group(2)).alias(km.group(1))
                )
            else:
                key_cols.append(_expr_col(k))
        if not aggs:
            # `STATS BY k1, k2` with no aggregates is ES|QL's
            # DISTINCT idiom — one partial-agg shuffle, same plan as
            # groupBy().agg() of nothing
            return df.select(*key_cols).distinct()
        return df.groupBy(*key_cols).agg(*aggs)
    return df.agg(*aggs)


def _inlinestats(df: DataFrame, arg: str) -> DataFrame:
    """ES|QL ``INLINESTATS`` (ES 8.16): aggregate values joined back
    onto EVERY row — no collapse. With BY keys this is a window
    aggregate partitioned by the keys (one exchange; NULL keys form
    their own group, like STATS). Without BY, the global aggregates
    reduce to ONE broadcast row cross-joined back — never a
    single-partition window over the whole frame."""
    from pyspark.sql import Window

    aggs_src, keys_src = _split_by(arg)
    agg_parts = []
    for part in _split_top_commas(aggs_src):
        am = _ASSIGN_RE.match(part)
        if not am:
            raise ValueError(
                f"ES|QL INLINESTATS: each aggregate needs "
                f"'name = agg(..)': {part!r}"
            )
        # the per-aggregate WHERE (ES 8.16) works here too — but
        # Spark rejects FILTER inside a window aggregate, so the
        # condition lowers to a CASE-wrapped argument (equivalent:
        # window aggregates ignore NULLs, count(*) counts a CASE 1)
        agg_parts.append((am.group(1), _agg_where_window(am.group(2))))
    if not agg_parts:
        raise ValueError(
            f"ES|QL INLINESTATS needs at least one aggregate: {arg}"
        )
    keys = _split_top_commas(keys_src) if keys_src.strip() else []
    if not keys:
        glob = df.agg(*[
            _expr_col(e).alias(n) for n, e in agg_parts
        ])
        return df.crossJoin(F.broadcast(glob))
    key_cols = []
    for k in keys:
        km = _ASSIGN_RE.match(k)
        if km:
            df = df.withColumn(km.group(1), _expr_col(km.group(2)))
            key_cols.append(F.col(km.group(1)))
        else:
            key_cols.append(_expr_col(k))
    w = Window.partitionBy(*key_cols)
    for n, e in agg_parts:
        df = df.withColumn(n, _expr_col(e).over(w))
    return df


def _change_point(df: DataFrame, arg: str) -> DataFrame:
    """ES|QL ``CHANGE_POINT value ON key [AS type_col, pvalue_col]``
    (ES 8.18, tech preview): appends a change-type and p-value column,
    non-NULL only on the detected change row. The detector here is
    the engine's binary-segmentation level-shift step (the same math
    as the ``change_point`` aggregation / change_point_daily_orders):
    the split minimizing total within-segment SSE, labeled
    ``step_change``, with a DOCUMENTED deterministic stand-in p-value
    = sse_split / sse_single (0 = perfect split explains everything;
    ES's ML p-values are model-based and not reproducible
    relationally).

    Scale note: like ES — which caps CHANGE_POINT at 1,000 points —
    this runs the candidate scan in one ordered window, so feed it a
    pre-aggregated series (STATS BY bucket first), not raw events."""
    from pyspark.sql import Window

    m = re.match(
        r"^(\S+)\s+ON\s+(\S+?)(?:\s+AS\s+(\S+)\s*,\s*(\S+))?$",
        arg,
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(
            f"ES|QL CHANGE_POINT needs 'value ON key "
            f"[AS type_col, pvalue_col]': {arg!r}"
        )
    val, key = m.group(1), m.group(2)
    type_col = m.group(3) or "type"
    pvalue_col = m.group(4) or "pvalue"
    for c in (val, key):
        if c not in df.columns:
            raise ValueError(
                f"ES|QL CHANGE_POINT: no column {c!r} "
                f"(has: {df.columns})"
            )
    x = F.col(val).cast("double")
    wc = Window.orderBy(key).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.orderBy(key).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    k = F.row_number().over(Window.orderBy(key))
    cs = F.sum(x).over(wc)
    css = F.sum(x * x).over(wc)
    tk = F.count(F.lit(1)).over(wt)
    ts = F.sum(x).over(wt)
    tss = F.sum(x * x).over(wt)
    nl = k.cast("double")
    nr = (tk - k).cast("double")
    sse_split = (css - cs * cs / nl) + (
        (tss - css) - (ts - cs) * (ts - cs) / nr
    )
    sse_single = tss - ts * ts / tk.cast("double")
    # candidate splits leave k rows on the left (k < tk); the winner
    # is the (sse, k) minimum, and ES reports the change AT the first
    # row of the NEW regime — row k+1 of the winning split
    cand = F.when(k < tk, F.struct(sse_split.alias("s"), k.alias("k")))
    best = F.min(cand).over(wt)
    is_marked = k == (best.getField("k") + 1)
    pseudo_p = F.round(best.getField("s") / sse_single, 6)
    return df.select(
        "*",
        F.when(is_marked, F.lit("step_change")).alias(type_col),
        F.when(is_marked, pseudo_p).alias(pvalue_col),
    )


def _sort(df: DataFrame, arg: str) -> DataFrame:
    """ES|QL SORT: a NULL sorts as LARGER than every other value, so
    the defaults are ASC NULLS LAST / DESC NULLS FIRST (Spark's
    defaults are the opposite pair); explicit ``NULLS FIRST|LAST``
    overrides. A dangling ``NULLS`` without FIRST/LAST is a parse
    error, not a silent default."""
    cols = []
    for part in _split_top_commas(arg):
        toks = part.split()
        expr = toks[0]
        rest = [t.upper() for t in toks[1:]]
        bad = [t for t in rest if t not in
               ("ASC", "DESC", "NULLS", "FIRST", "LAST")]
        if bad:
            raise ValueError(
                f"ES|QL SORT: unknown keyword(s) {bad} in {part!r}"
            )
        desc = "DESC" in rest
        base = _expr_col(expr)
        if "NULLS" in rest:
            ni = rest.index("NULLS")
            if ni + 1 >= len(rest) or rest[ni + 1] not in (
                "FIRST", "LAST"
            ):
                raise ValueError(
                    f"ES|QL SORT: NULLS needs FIRST or LAST: {part!r}"
                )
            last = rest[ni + 1] == "LAST"
        else:
            last = not desc  # ES|QL default: null is largest
        if desc:
            c = base.desc_nulls_last() if last else base.desc_nulls_first()
        else:
            c = base.asc_nulls_last() if last else base.asc_nulls_first()
        cols.append(c)
    return df.orderBy(*cols)


_GROK_ARG_RE = re.compile(
    r"^([A-Za-z_][A-Za-z0-9_.]*)\s+\"(.+)\"\s*$", re.DOTALL
)


def _pattern_matches(columns: list[str], pattern: str) -> list[str]:
    """Columns matching one KEEP/DROP pattern, in source order; a
    pattern with no ``*`` is an exact name."""
    if "*" in pattern:
        return [c for c in columns if fnmatch.fnmatchcase(c, pattern)]
    return [pattern] if pattern in columns else []


def _resolve_keep(columns: list[str], patterns: list[str]) -> list[str]:
    """ES|QL KEEP projection: resolve wildcard patterns against the
    frame's columns with ES|QL's precedence rule — an exact name
    (precedence 2) beats a partial wildcard (``rtr_*``, precedence 1)
    beats a bare ``*`` (precedence 0); among equal precedence the
    RIGHTMOST pattern wins. Output order: by winning pattern, then
    source order within a wildcard. A pattern matching nothing fails
    at plan time (typos surface, like an unknown column would)."""
    def prec(p: str) -> int:
        return 2 if "*" not in p else (0 if p == "*" else 1)

    win: dict[str, tuple[int, int]] = {}  # col -> (prec, pattern idx)
    for idx, p in enumerate(patterns):
        matched = _pattern_matches(columns, p)
        if not matched:
            raise ValueError(
                f"ES|QL KEEP: no column matches {p!r} "
                f"(columns: {columns})"
            )
        pr = prec(p)
        for c in matched:
            if c not in win or (pr, idx) >= win[c]:
                win[c] = (pr, idx)
    srcpos = {c: i for i, c in enumerate(columns)}
    return sorted(win, key=lambda c: (win[c][1], srcpos[c]))


def _resolve_drop(columns: list[str], patterns: list[str]) -> list[str]:
    """ES|QL DROP: the union of every pattern's matches; a pattern
    matching nothing fails at plan time; dropping every column is an
    error (a frame needs at least one column)."""
    dropped: list[str] = []
    for p in patterns:
        matched = _pattern_matches(columns, p)
        if not matched:
            raise ValueError(
                f"ES|QL DROP: no column matches {p!r} "
                f"(columns: {columns})"
            )
        dropped.extend(c for c in matched if c not in dropped)
    if len(dropped) == len(columns):
        raise ValueError(
            f"ES|QL DROP: cannot drop every column: {patterns!r}"
        )
    return dropped


def run_esql(
    query: str,
    tables: dict[str, DataFrame],
    *,
    now=None,
    ts_dimensions: list[str] | None = None,
    ts_time_col: str | None = None,
) -> DataFrame:
    """Execute an ES|QL query against the caller's table map (the
    engine's stand-in for the cluster's index catalog). See the module
    docstring for the supported command set.

    ``now`` pins the instant ``NOW()`` lowers to (a datetime or a
    ``YYYY-MM-DD[ HH:MM:SS]`` string) — what deterministic replays
    and cross-engine oracles need, mirroring how ES pins one instant
    for a whole query; omitted, NOW() is Spark's query-stable
    ``current_timestamp()``.

    ``ts_dimensions`` names the time-series dimension columns a
    ``TS``-sourced query groups series by (ES reads these from the
    index mapping's ``time_series_dimension: true`` fields — a
    file-backed stand-in must be told). ``ts_time_col`` pins the
    series time column; omitted, the single timestamp-typed column
    is used (ambiguity fails loud). Both are ignored by FROM/ROW
    queries."""
    if ts_dimensions is not None or ts_time_col is not None:
        ts_token = _TS_META.set(
            {"dims": ts_dimensions, "time": ts_time_col}
        )
    else:
        ts_token = None
    try:
        return _run_esql_with_now(query, tables, now)
    finally:
        if ts_token is not None:
            _TS_META.reset(ts_token)


def _run_esql_with_now(
    query: str, tables: dict[str, DataFrame], now
) -> DataFrame:
    if now is not None:
        anchor = (
            now.strftime("%Y-%m-%d %H:%M:%S")
            if hasattr(now, "strftime")
            else str(now)
        )
        if not re.fullmatch(
            r"\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?",
            anchor,
        ):
            raise ValueError(
                f"ES|QL: bad now anchor {anchor!r} (want a datetime "
                "or 'YYYY-MM-DD[ HH:MM:SS]')"
            )
        token = _NOW_ANCHOR.set(anchor.replace("T", " "))
        try:
            return _run_esql(query, tables)
        finally:
            _NOW_ANCHOR.reset(token)
    return _run_esql(query, tables)


def _run_esql(query: str, tables: dict[str, DataFrame]) -> DataFrame:
    stages = _split_pipes(query)
    if not stages:
        raise ValueError("ES|QL: empty query")
    m = _CMD_RE.match(stages[0])
    first_cmd = m.group(1).upper() if m else ""
    df: DataFrame | None = None
    if first_cmd == "ROW":
        # ROW a = 1, b = "x" — a literal one-row source (the ES|QL
        # scratchpad command Kibana's docs open with)
        from pyspark.sql import SparkSession

        spark = (
            next(iter(tables.values())).sparkSession
            if tables
            else SparkSession.getActiveSession()
        )
        if spark is None:
            raise ValueError(
                "ES|QL ROW needs an active SparkSession (or any "
                "entry in the table map)"
            )
        cols = []
        for part in _split_top_commas(m.group(2)):
            am = _ASSIGN_RE.match(part)
            if not am:
                raise ValueError(
                    f"ES|QL ROW needs 'name = expr': {part!r}"
                )
            cols.append(_expr_col(am.group(2)).alias(am.group(1)))
        if not cols:
            raise ValueError("ES|QL ROW needs at least one column")
        df = spark.range(1).select(*cols)
    elif first_cmd in ("FROM", "TS"):
        # FROM idx1, idx2 [METADATA _index, _id] — the metadata form
        # Kibana emits; _index is each source's name (so a comma-list
        # union stays attributable), _id the identity column as string.
        # TS (ES 8.19 tech preview) is FROM with time-series metric
        # semantics: the source resolves identically; it additionally
        # activates the rate()/*_over_time aggregate family inside
        # STATS (see _ts_stats for the two-level lowering).
        from_arg = m.group(2)
        meta_fields: list[str] = []
        mi = _find_top_kw(from_arg, "METADATA")
        if mi is not None:
            meta_fields = _split_top_commas(from_arg[mi + 8:])
            from_arg = from_arg[:mi]
            bad = [
                f for f in meta_fields
                if f not in ("_index", "_id", "_score")
            ]
            if bad:
                raise ValueError(
                    f"ES|QL METADATA: unsupported field(s) {bad} "
                    "(supported: _index, _id, _score)"
                )
        for pattern in _split_top_commas(from_arg):
            # index patterns, like Kibana data views: `FROM logs-*`
            # unions every matching index in the catalog (a pattern
            # matching nothing fails loud, like an unknown name)
            if "*" in pattern:
                names = sorted(
                    t for t in tables
                    if fnmatch.fnmatchcase(t, pattern)
                )
                if not names:
                    raise ValueError(
                        f"ES|QL: no index matches {pattern!r} "
                        f"(known: {sorted(tables)})"
                    )
            elif pattern not in tables:
                raise ValueError(
                    f"ES|QL: unknown index {pattern!r} "
                    f"(known: {sorted(tables)})"
                )
            else:
                names = [pattern]
            for name in names:
                part = tables[name]
                if "_index" in meta_fields:
                    part = part.withColumn("_index", F.lit(name))
                if "_id" in meta_fields:
                    from .querydsl import _identity_col

                    part = part.withColumn(
                        "_id", F.col(_identity_col(part)).cast("string")
                    )
                if "_score" in meta_fields:
                    # relevance starts at 0; every scoring full-text
                    # function a WHERE runs adds to it (ES|QL's rule:
                    # _score is only populated by scoring functions)
                    part = part.withColumn(
                        "_score", F.lit(0.0).cast("double")
                    )
                df = part if df is None else df.unionByName(
                    part, allowMissingColumns=True
                )
    else:
        raise ValueError("ES|QL must start with FROM <index>, TS, or ROW")
    ts_token = None
    if first_cmd == "TS":
        meta = _TS_META.get() or {}
        ts_token = _TS_CTX.set(
            {
                "dims": meta.get("dims"),
                "time": meta.get("time"),
                "consumed": False,
            }
        )
    try:
        for stage in stages[1:]:
            df = _apply_stage(df, stage, tables)
        return df
    finally:
        if ts_token is not None:
            _TS_CTX.reset(ts_token)


def _split_paren_groups(arg: str) -> list[str]:
    """Top-level ``( .. ) ( .. )`` groups (FORK branches); strings
    respected."""
    groups: list[str] = []
    depth = 0
    quote: str | None = None
    esc = False
    start = None
    for i, ch in enumerate(arg):
        if quote:
            if esc:
                esc = False
            elif quote == '"' and ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(arg[start:i])
                start = None
            elif depth < 0:
                raise ValueError(f"ES|QL FORK: unbalanced parens: {arg!r}")
        elif depth == 0 and not ch.isspace():
            raise ValueError(
                f"ES|QL FORK: branches must be parenthesized: {arg!r}"
            )
    if depth != 0:
        raise ValueError(f"ES|QL FORK: unbalanced parens: {arg!r}")
    return groups


def _fork(df: DataFrame, arg: str, tables: dict) -> DataFrame:
    """ES|QL ``FORK (branch1) (branch2) ..`` (ES 8.19): the common
    prefix feeds each parenthesized sub-pipeline; the branch outputs
    union (missing columns NULL-filled) with a ``_fork``
    discriminator column (``fork1``, ``fork2``, .. in branch order —
    ES's naming). 2..8 branches, like ES.

    Scale shape: each branch is its own plan over the SAME prefix
    frame — Spark reuses the scan per branch (or the prefix can be
    cached by the caller); the union is a no-shuffle concatenation."""
    branches = _split_paren_groups(arg)
    if not 2 <= len(branches) <= 8:
        raise ValueError(
            f"ES|QL FORK: needs 2..8 parenthesized branches, got "
            f"{len(branches)}"
        )
    outs = []
    for i, branch in enumerate(branches):
        b = df
        for stage in _split_pipes(branch):
            b = _apply_stage(b, stage, tables)
        outs.append(b.withColumn("_fork", F.lit(f"fork{i + 1}")))
    merged = outs[0]
    for b in outs[1:]:
        merged = merged.unionByName(b, allowMissingColumns=True)
    return merged


def _fuse(df: DataFrame, arg: str) -> DataFrame:
    """ES|QL ``FUSE [rrf|linear] [rank_constant]`` (ES 8.19 tech
    preview): merge the branches a ``FORK`` produced into one ranked
    row set — the pure-pipe hybrid search. Rows sharing ``_id``
    (+ ``_index`` when present) collapse to one; ``_score`` is
    recomputed:

    - ``rrf`` (default): sum over branches of 1 / (rank_constant +
      rank), rank = the row's 1-based position within its branch by
      ``_score`` descending (``_id`` tiebreak) — reciprocal rank
      fusion, the same math as the engine's hybrid_rrf_search and the
      ES retriever tree; rank_constant defaults to 60, like ES.
    - ``linear``: sum of per-branch min-max-normalized scores (a
      branch whose scores are all equal contributes 1 per row).

    Requires ``FROM .. METADATA _id, _score`` and an upstream FORK
    (the ``_fork`` discriminator column). Like ES — which fuses the
    per-branch result PAGES, not whole indices — feed it LIMITed
    branches; the per-branch rank window partitions on ``_fork``, so
    each branch ranks in one task, sized by its LIMIT."""
    from pyspark.sql import Window

    toks = arg.split()
    method = toks[0].lower() if toks else "rrf"
    if method not in ("rrf", "linear"):
        raise ValueError(
            f"ES|QL FUSE: unknown method {method!r} (rrf or linear)"
        )
    if len(toks) > 2 or (len(toks) == 2 and method != "rrf"):
        raise ValueError(
            f"ES|QL FUSE: expected 'FUSE [rrf [rank_constant]]' or "
            f"'FUSE linear': {arg!r}"
        )
    k = 60
    if len(toks) == 2:
        try:
            k = int(toks[1])
        except ValueError:
            raise ValueError(
                f"ES|QL FUSE: rank_constant must be an integer "
                f"literal: {toks[1]!r}"
            ) from None
        if k < 1:
            raise ValueError(f"ES|QL FUSE: rank_constant must be >= 1: {k}")
    for c in ("_fork", "_id", "_score"):
        if c not in df.columns:
            raise ValueError(
                f"ES|QL FUSE: needs the {c!r} column — run FORK over "
                "a FROM with METADATA _id, _score "
                f"(has: {df.columns})"
            )
    keys = ["_id"] + (["_index"] if "_index" in df.columns else [])
    wb = Window.partitionBy("_fork")
    if method == "rrf":
        rank = F.row_number().over(
            wb.orderBy(F.col("_score").desc(), F.col("_id"))
        )
        contrib = F.lit(1.0) / (F.lit(k) + rank)
    else:
        mn = F.min("_score").over(wb)
        mx = F.max("_score").over(wb)
        contrib = F.when(mx > mn, (F.col("_score") - mn) / (mx - mn)) \
            .otherwise(F.lit(1.0))
    scored = df.withColumn("__fuse_c", contrib)
    others = [
        c for c in df.columns
        if c not in (*keys, "_score", "_fork")
    ]
    aggs = [F.sum("__fuse_c").alias("_score")] + [
        F.first(c, ignorenulls=True).alias(c) for c in others
    ]
    out = scored.groupBy(*keys).agg(*aggs)
    # restore the source column order (keys, payload, _score last —
    # the shape the FORK union carried)
    ordered = [c for c in df.columns if c != "_fork"]
    return out.select(*ordered)


_RERANK_RE = re.compile(
    r"^(?:([A-Za-z_][A-Za-z0-9_]*)\s*=\s*)?"  # optional target =
    r"(\"(?:[^\"\\]|\\.)*\"|'[^']*')"          # the query literal
    r"\s+ON\s+([A-Za-z_][A-Za-z0-9_.]*)"       # ON field
    r"(?:\s+WITH\s+(.+))?$",                   # optional WITH ..
    re.IGNORECASE | re.DOTALL,
)


def _rerank(df: DataFrame, arg: str) -> DataFrame:
    """ES|QL ``RERANK [target =] "query" ON field [WITH {..}]``
    (ES 8.18 tech preview) — semantic re-scoring of the current
    rows. ES routes this through an inference endpoint (an external
    cross-encoder); this engine has no model to call, so the scorer
    is a DETERMINISTIC LEXICAL STAND-IN, documented here and in the
    README: distinct-token overlap between the query and the field
    under the standard analyzer (matched distinct query tokens /
    distinct query tokens; a NULL field scores 0.0). The command
    plumbing — parse, target column, _score overwrite, re-sort — is
    the real surface; swap the scorer when an endpoint exists.

    Without a target the score OVERWRITES ``_score`` (creating it if
    the pipe carried no METADATA) and re-sorts descending with the
    deterministic document tie-break, like ES's rerank reorders the
    hits; with ``target =`` the score lands in that column and the
    row order is the caller's (ES 8.19 behavior).

    Scale shape: a codegen array-intersect per row; the re-sort is
    the only exchange and only when it reorders (no LIMIT is forced
    — a following LIMIT turns it into TakeOrdered)."""
    m = _RERANK_RE.match(arg.strip())
    if not m:
        raise ValueError(
            "ES|QL RERANK: expected '[target =] \"query\" ON field "
            f"[WITH options]': {arg!r}"
        )
    target, qsrc, field, with_src = m.groups()
    query = _lit_str_raw(qsrc, "RERANK")
    if field not in df.columns:
        raise ValueError(
            f"ES|QL RERANK: unknown field {field!r} "
            f"(columns: {df.columns})"
        )
    if with_src is not None:
        w = with_src.strip()
        if w.startswith("{"):
            # inference options map — id accepted (the stand-in
            # scorer runs regardless; documented above)
            _opts_map(w, "RERANK", {"inference_id"})
        elif not _IDENT_RE.match(w):
            raise ValueError(
                f"ES|QL RERANK: WITH takes an inference id or an "
                f"options map, got {w!r}"
            )
    # the SAME stand-in scorer the text_similarity_reranker
    # retriever executes — the pipe and the retriever tree can never
    # rank differently
    from .querydsl import _doc_tiebreak, lexical_overlap_score

    try:
        score = lexical_overlap_score(field, query)
    except ValueError as exc:
        raise ValueError(f"ES|QL RERANK: {exc}") from None
    if target:
        return df.withColumn(target, score)
    df = df.withColumn("_score", score)
    return df.orderBy(
        F.col("_score").desc(), *_doc_tiebreak(df, ["_score"])
    )


def _where_stage(df: DataFrame, arg: str) -> DataFrame:
    """One ``| WHERE ..`` stage: ordinary predicates translate to a
    single Catalyst filter; MATCH/QSTR/KQL splice in as boolean
    columns (composable with any boolean glue); KNN (ES 8.19 tech
    preview) turns the stage into prefilter -> exact cosine top-k.

    Scale shape for KNN: sibling conjuncts filter FIRST (pushed to
    the scan), then one codegen zip_with dot product per surviving
    row + TakeOrdered(k) — the corpus never shuffles, only k rows
    reach the driver's side of the plan. The scoring expression is
    the SAME (1+cos)/2 the _search knn section ranks by, so the pipe
    and the API can never disagree about neighbor order."""
    knn = _extract_knn(arg)
    if knn is not None:
        rest, field, qv, k, sim = knn
        if rest:
            df = _where_stage(df, rest)
        if field not in df.columns:
            raise ValueError(
                f"ES|QL KNN: unknown field {field!r} "
                f"(columns: {df.columns})"
            )
        from .querydsl import _doc_tiebreak, _knn_score

        score = _knn_score(field, qv)
        if sim is not None:
            # minimum RAW cosine to be a hit, like the knn section
            df = df.filter(score >= F.lit((1.0 + sim) / 2.0))
        df = df.withColumn("__esql_knn", score)
        if "_score" in df.columns:
            # METADATA _score: knn contributes its similarity, like
            # every scoring function in a WHERE
            df = df.withColumn(
                "_score", F.col("_score") + F.col("__esql_knn")
            )
        return (
            df.orderBy(
                F.col("__esql_knn").desc(),
                *_doc_tiebreak(df, ["_score", "__esql_knn"]),
            )
            .limit(k)
            .drop("__esql_knn")
        )
    rewritten, fts = _extract_fulltext(arg)
    if fts:
        # full-text predicates attach as throwaway boolean
        # columns so they compose with any boolean expression
        # (NOT/AND/OR around MATCH); Catalyst collapses the
        # projections back into one Filter
        scored = "_score" in df.columns
        for ph, col, dsl in fts:
            df = df.withColumn(ph, col)
            if scored:
                # METADATA _score: each scoring function in the
                # WHERE adds its relevance (BM25 for the match
                # family — the SAME expression _search ranks by,
                # stats over the pre-filter frame, like the
                # index); a non-matching call adds 0
                from .querydsl import _score_and_filter

                _, s = _score_and_filter(df, dsl, True)
                df = df.withColumn(
                    "_score",
                    F.col("_score")
                    + F.coalesce(
                        F.when(
                            F.coalesce(
                                F.col(ph), F.lit(False)
                            ),
                            s,
                        ),
                        F.lit(0.0),
                    ),
                )
        return df.filter(_expr_col(rewritten)).drop(
            *[ph for ph, _, _ in fts]
        )
    return df.filter(_expr_col(arg))


def _apply_stage(
    df: DataFrame, stage: str, tables: dict[str, DataFrame]
) -> DataFrame:
    """Execute ONE ``| cmd ..`` stage against the running frame."""
    m = _CMD_RE.match(stage)
    if not m:
        raise ValueError(f"ES|QL: cannot parse stage {stage!r}")
    cmd, arg = m.group(1).upper(), m.group(2).strip()
    if cmd == "FORK":
        df = _fork(df, arg, tables)
    elif cmd == "FUSE":
        df = _fuse(df, arg)
    elif cmd == "WHERE":
        df = _where_stage(df, arg)
    elif cmd == "EVAL":
        for part in _split_top_commas(arg):
            am = _ASSIGN_RE.match(part)
            if not am:
                raise ValueError(
                    f"ES|QL EVAL needs 'name = expr': {part!r}"
                )
            df = df.withColumn(am.group(1), _expr_col(am.group(2)))
    elif cmd == "STATS":
        df = _stats(df, arg)
    elif cmd == "INLINESTATS":
        df = _inlinestats(df, arg)
    elif cmd == "SAMPLE":
        # SAMPLE probability [seed] (ES 8.19): random per-row
        # sampling; a seed makes the predicate reproducible
        # across runs (rand(seed) is deterministic per row order
        # within a given partitioning)
        toks = arg.split()
        if not 1 <= len(toks) <= 2:
            raise ValueError(
                f"ES|QL SAMPLE needs 'probability [seed]': {arg!r}"
            )
        p = float(toks[0])
        if not 0.0 < p < 1.0:
            raise ValueError(
                f"ES|QL SAMPLE: probability must be in (0, 1): {p}"
            )
        rnd = F.rand(int(toks[1])) if len(toks) == 2 else F.rand()
        df = df.filter(rnd < F.lit(p))
    elif cmd == "CHANGE_POINT":
        df = _change_point(df, arg)
    elif cmd == "RERANK":
        df = _rerank(df, arg)
    elif cmd == "COMPLETION":
        # ES 8.19 tech preview: LLM text generation through an
        # inference endpoint — an external model this engine does
        # not ship. Fail loud rather than fabricate text.
        raise ValueError(
            "ES|QL COMPLETION needs an inference endpoint (an "
            "external LLM); this engine does not model one — a "
            "declared gap, not a silent stub"
        )
    elif cmd == "SORT":
        df = _sort(df, arg)
    elif cmd == "LIMIT":
        df = df.limit(int(arg))
    elif cmd == "KEEP":
        df = df.select(
            *_resolve_keep(df.columns, _split_top_commas(arg))
        )
    elif cmd == "DROP":
        df = df.drop(
            *_resolve_drop(df.columns, _split_top_commas(arg))
        )
    elif cmd == "RENAME":
        for part in _split_top_commas(arg):
            rm = re.match(
                r"^(\S+)\s+AS\s+(\S+)$", part, re.IGNORECASE
            )
            if not rm:
                raise ValueError(
                    f"ES|QL RENAME needs 'old AS new': {part!r}"
                )
            df = df.withColumnRenamed(rm.group(1), rm.group(2))
    elif cmd == "GROK":
        gm = _GROK_ARG_RE.match(arg)
        if not gm:
            raise ValueError(
                f'ES|QL GROK needs: field "pattern" — got {arg!r}'
            )
        from ..grok import default_grok, grok_schema, grok_struct

        g = default_grok()
        g.add_pattern("__ESQL__", gm.group(2))
        # a row the pattern does not match gets NULL in every field,
        # as ES|QL appends nulls for it
        parsed = grok_struct(g, gm.group(1), "__ESQL__", null_on_nonmatch=True)
        df = df.select(
            "*",
            *[
                parsed.getField(f.name).alias(f.name)
                for f in grok_schema(g, "__ESQL__").fields
            ],
        )
    elif cmd == "ENRICH":
        # ENRICH policy ON key [WITH f1, f2] — ES|QL's lookup
        # enrichment (the reference's app-metadata join, in pipe
        # syntax): the policy is a dimension frame in the table
        # map, matched on the shared key column and broadcast
        # (missing keys tolerate as NULLs, like the enrich
        # processor). WITH narrows the added fields.
        em = re.match(
            r"^(\S+)\s+ON\s+(\S+)(?:\s+WITH\s+(.+))?$",
            arg,
            re.IGNORECASE | re.DOTALL,
        )
        if not em:
            raise ValueError(
                f"ES|QL ENRICH needs 'policy ON key [WITH ..]': "
                f"{arg!r}"
            )
        policy, key, withs = em.group(1), em.group(2), em.group(3)
        if policy not in tables:
            raise ValueError(
                f"ES|QL ENRICH: unknown policy {policy!r} "
                f"(known: {sorted(tables)})"
            )
        dim = tables[policy]
        if key not in dim.columns:
            raise ValueError(
                f"ES|QL ENRICH: policy {policy!r} has no match "
                f"field {key!r}"
            )
        keep = (
            _split_top_commas(withs)
            if withs
            else [c for c in dim.columns if c != key]
        )
        missing = [c for c in keep if c not in dim.columns]
        if missing:
            raise ValueError(
                f"ES|QL ENRICH: policy {policy!r} has no field(s) "
                f"{missing} (has: {dim.columns})"
            )
        # enrich fields OVERRIDE same-named stream columns (the
        # ES enrich-processor rule) — drop the collisions first
        # so the join is never ambiguous
        collide = [c for c in keep if c in df.columns]
        if collide:
            df = df.drop(*collide)
        df = df.join(
            F.broadcast(dim.select(key, *keep)), on=key, how="left"
        )
    elif cmd == "LOOKUP":
        # LOOKUP JOIN index ON key — ES 8.18's general join
        # command: broadcast left join keeping the lookup index's
        # FULL column set; same-named stream columns are
        # overridden (ES's last-write-wins rule); multiple
        # matching lookup rows multiply the stream row.
        lm = re.match(
            r"^JOIN\s+(\S+)\s+ON\s+(\S+)$", arg, re.IGNORECASE
        )
        if not lm:
            raise ValueError(
                f"ES|QL LOOKUP needs 'JOIN index ON key': {arg!r}"
            )
        idx_name, key = lm.group(1), lm.group(2)
        if idx_name not in tables:
            raise ValueError(
                f"ES|QL LOOKUP JOIN: unknown index {idx_name!r} "
                f"(known: {sorted(tables)})"
            )
        lk = tables[idx_name]
        if key not in lk.columns:
            raise ValueError(
                f"ES|QL LOOKUP JOIN: index {idx_name!r} has no "
                f"join field {key!r} (has: {lk.columns})"
            )
        if key not in df.columns:
            raise ValueError(
                f"ES|QL LOOKUP JOIN: stream has no join field "
                f"{key!r} (has: {df.columns})"
            )
        collide = [
            c for c in lk.columns if c != key and c in df.columns
        ]
        if collide:
            df = df.drop(*collide)
        df = df.join(F.broadcast(lk), on=key, how="left")
    elif cmd == "MV_EXPAND":
        # explode_outer, not explode: ES|QL keeps a row whose
        # multi-value column is NULL (the value becomes NULL)
        df = df.withColumn(arg.strip(), F.explode_outer(arg.strip()))
    elif cmd == "DISSECT":
        # DISSECT field "pattern" [APPEND_SEPARATOR="sep"] — the
        # separator feeds the %{+key} append modifier
        dm = re.match(
            r"^([A-Za-z_][A-Za-z0-9_.]*)\s+\"(.+?)\"\s*"
            r'(?:APPEND_SEPARATOR\s*=\s*"([^"]*)")?\s*$',
            arg,
            re.IGNORECASE | re.DOTALL,
        )
        if not dm:
            raise ValueError(
                f'ES|QL DISSECT needs: field "pattern" '
                f'[APPEND_SEPARATOR="sep"] — got {arg!r}'
            )
        from .ingest import apply_ingest_pipeline

        spec = {"field": dm.group(1), "pattern": dm.group(2)}
        if dm.group(3) is not None:
            spec["append_separator"] = dm.group(3)
        df = apply_ingest_pipeline(df, [{"dissect": spec}])
    else:
        raise ValueError(
            f"ES|QL: unsupported command {cmd!r} (supported: FROM "
            "TS ROW WHERE EVAL STATS INLINESTATS SORT LIMIT KEEP "
            "DROP RENAME GROK DISSECT ENRICH LOOKUP JOIN "
            "MV_EXPAND SAMPLE CHANGE_POINT FORK FUSE RERANK)"
        )
    return df
