"""Grok -> Spark column compilation (and DuckDB SQL emission for the
correctness oracle).

Three paths, each for its own shape:

- ``grok_columns`` / ``grok_struct``: one ``regexp_extract(line, rx,
  group_idx)`` (+ cast) per capture, all inside whole-stage codegen.
  The regex runs once per capture, which is the cheaper path for
  narrow patterns such as the 1- and 3-capture declared ones (PROPSKV,
  DOCHEAD).
- ``grok_parse_many`` / ``grok_parse_into``: one packed
  ``regexp_replace`` per row and pattern, unpacked by ``split`` — the
  regex runs once however many captures there are, for wide patterns
  (ROUTERACCESS: 23 captures) and the parity pipeline's route set.
- ``grok_parse_auto`` / ``grok_parse_struct_pandas``: an Arrow-batched
  Python fallback, only for a user pattern whose regex the Java
  dialect rejects (``java_dialect_ok``).

Equivalent reference behavior: grok Parse/ParseTyped/Match
(vendor/github.com/vjeantet/grok/grok.go:187-259).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .compiler import CompiledPattern, Grok

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

__all__ = [
    "grok_columns",
    "grok_struct",
    "grok_match",
    "grok_schema",
    "grok_parse_into",
    "grok_parse_many",
    "compile_grok_many",
    "grok_multimap",
    "grok_parse_struct_pandas",
    "grok_parse_auto",
    "java_dialect_ok",
    "duckdb_exprs",
]

_SPARK_TYPE = {"string": StringType(), "int": IntegerType(), "float": DoubleType()}
_SQL_CAST = {"int": "BIGINT", "float": "DOUBLE"}


def _resolve(grok: Grok, pattern: str | CompiledPattern) -> CompiledPattern:
    return pattern if isinstance(pattern, CompiledPattern) else grok.compile(pattern)


def grok_schema(grok: Grok, pattern: str | CompiledPattern) -> StructType:
    """Static output schema — derivable at plan time because the capture
    set of a pattern is static (SURVEY §1.1 'Parsed values')."""
    cp = _resolve(grok, pattern)
    return StructType(
        [StructField(c.name, _SPARK_TYPE[c.type], True) for c in cp.fields]
    )


def grok_columns(
    grok: Grok, col: Column | str, pattern: str | CompiledPattern
) -> list[Column]:
    """One typed column per capture; '' -> non-match or empty capture
    (same conflation as Go's FindStringSubmatch, grok.go:201-215).
    Typed casts of '' yield NULL (reference errors per-record; NULL is
    the columnar equivalent of 'value absent')."""
    cp = _resolve(grok, pattern)
    col = F.col(col) if isinstance(col, str) else col
    out = []
    for c in cp.fields:
        e = F.regexp_extract(col, cp.regex, c.group)
        # try_cast: '' (no match / empty capture) -> NULL under ANSI mode
        if c.type == "int":
            e = e.try_cast("int")
        elif c.type == "float":
            e = e.try_cast("double")
        out.append(e.alias(c.name))
    return out


def grok_struct(
    grok: Grok,
    col: Column | str,
    pattern: str | CompiledPattern,
    null_on_nonmatch: bool = True,
) -> Column:
    """All captures as one struct column; NULL struct when the line does
    not match (distinguishes no-match from matched-empty, which the
    reference signals via the empty capture map, grok.go:211-214)."""
    cp = _resolve(grok, pattern)
    col = F.col(col) if isinstance(col, str) else col
    s = F.struct(*grok_columns(grok, col, cp))
    if not null_on_nonmatch:
        return s
    return F.when(grok_match(grok, col, cp), s)


def grok_match(
    grok: Grok, col: Column | str, pattern: str | CompiledPattern
) -> Column:
    """Boolean match predicate (G7, grok.go:187-198). Unanchored search,
    like Go's FindStringSubmatch."""
    cp = _resolve(grok, pattern)
    col = F.col(col) if isinstance(col, str) else col
    return col.rlike(cp.regex)


_SEP = "\x01"  # capture delimiter (control char: rare in log lines)
_SENTINEL = "\x02"  # marks "regex matched"; non-match keeps the raw line


def _sanitize(line: Column) -> Column:
    """Strip the packed-parse sentinel bytes from the line BEFORE the
    packed rewrite: a line that itself contains ``\\x01``/``\\x02``
    (binary garbage, malicious payload) would otherwise SHIFT or
    FABRICATE captures — wrong columns with no error. One narrow
    char-class regexp_replace per row; for every line free of control
    bytes (all real log lines) the result is byte-identical.

    Documented divergence: on a garbage line the match and the
    captured values are computed over the stripped text, so a capture
    adjacent to a control byte omits that byte (the reference's grok
    would keep it). Fields can never shift; an exact-per-capture
    fallback was tried and rejected — doubling the regex tree pushed
    wide patterns (ROUTERACCESS, 22 captures) past Janino's 64 KB
    method limit and dropped the whole hot stage out of codegen."""
    # translate, not regexp_replace: a char-table delete costs one
    # linear pass with no regex engine — measurable on the hot parse
    return F.translate(line, _SEP + _SENTINEL, "")


def grok_parse_into(
    grok: Grok,
    df: "DataFrame",
    col: Column | str,
    pattern: str | CompiledPattern,
    out_col: str,
    condition: Column | None = None,
) -> "DataFrame":
    """Append ``out_col`` (nullable struct of typed captures) with ONE
    regex evaluation per row.

    ``grok_struct`` evaluates the compiled regex once per capture
    (+once for the match predicate) — 24 passes of a ~1 KB regex per
    ROUTERACCESS row. Here a single ``regexp_replace`` rewrites the
    matched line to ``SENTINEL + $g1 SEP $g2 ...`` (Java replacement
    group references), then one split + element_at per field unpacks
    it. Non-matching lines come back without the sentinel -> NULL
    struct, preserving grok_struct's null_on_nonmatch semantics
    (grok.go:211-214: no match -> empty capture map). The line is
    sanitized of sentinel bytes first (see _sanitize) so adversarial
    input can never shift or fabricate captures.

    Three staged projections keep each intermediate an attribute, so
    Catalyst cannot inline the regex into every field (CollapseProject
    re-evaluates non-attribute subexpressions per reference).

    ``condition``: only parse rows satisfying it (rows routed to this
    pattern); others get NULL without touching the regex.
    """
    return grok_parse_many(grok, df, col, [(out_col, pattern, condition)])


def grok_parse_many(
    grok: Grok,
    df: "DataFrame",
    col: Column | str,
    specs: list[tuple[str, "str | CompiledPattern", Column | None]],
) -> "DataFrame":
    """Parse one line column under several patterns in THREE projections
    total (raw -> array -> structs), however many patterns there are.

    A per-pattern withColumn chain costs one analysis pass over an
    ever-growing plan per call (driver-side seconds for a 6-pattern
    pipeline) and nests 3N projections; batching keeps plan depth and
    analysis cost constant in the number of patterns.
    """
    return compile_grok_many(grok, col, specs)(df)


def compile_grok_many(
    grok: Grok,
    col: Column | str,
    specs: list[tuple[str, "str | CompiledPattern", Column | None]],
) -> "Callable[[DataFrame], DataFrame]":
    """``grok_parse_many`` split in two: every Column is built here,
    once, and the returned ``df -> df`` only issues the projections.
    A caller that parses many frames with one pattern set (a stream's
    micro-batches) compiles once; each expression costs several py4j
    round trips to build. The helper columns are dropped by name, so
    the input's own columns are never re-selected one by one."""
    line = F.col(col) if isinstance(col, str) else col
    raws, arrs, structs, helpers = [], [], [], []
    for out_col, pattern, condition in specs:
        cp = _resolve(grok, pattern)
        raw_col, arr_col = f"__graw_{out_col}", f"__garr_{out_col}"
        helpers += [raw_col, arr_col]
        # Reluctant prefix = leftmost match, same as an unanchored
        # search; (?s) keeps the wrapper safe for embedded newlines.
        wrapped = "(?s)^.*?(?:" + cp.regex + ").*$"
        repl = _SENTINEL + _SEP.join(f"${c.group}" for c in cp.fields)
        raw = F.regexp_replace(_sanitize(line), wrapped, repl)
        if condition is not None:
            raw = F.when(condition, raw)
        raws.append(raw.alias(raw_col))
        arrs.append(
            F.when(
                F.col(raw_col).startswith(_SENTINEL),
                F.split(F.expr(f"substring({raw_col}, 2)"), _SEP, -1),
            ).alias(arr_col)
        )
        arr = F.col(arr_col)
        fields = []
        for i, c in enumerate(cp.fields):
            e = F.element_at(arr, i + 1)
            if c.type == "int":
                e = e.try_cast("int")
            elif c.type == "float":
                e = e.try_cast("double")
            fields.append(e.alias(c.name))
        structs.append(F.when(arr.isNotNull(), F.struct(*fields)).alias(out_col))

    def apply(df: "DataFrame") -> "DataFrame":
        df = df.select("*", *raws).select("*", *arrs)
        return df.select("*", *structs).drop(*helpers)

    return apply


def grok_multimap(
    grok: Grok,
    df: "DataFrame",
    col: Column | str,
    pattern: str | CompiledPattern,
    suffix: str = "_values",
) -> "DataFrame":
    """G6 (grok ParseToMultiMap, grok.go:264-283): duplicate capture
    names accumulate. Appends one ``<name><suffix>`` ARRAY<STRING>
    column per distinct capture name, values in textual order; NULL
    arrays on non-match. Same single-pass regexp_replace trick as
    grok_parse_many, over ALL captures (duplicates included)."""
    cp = _resolve(grok, pattern)
    line = F.col(col) if isinstance(col, str) else col
    wrapped = "(?s)^.*?(?:" + cp.regex + ").*$"
    repl = _SENTINEL + _SEP.join(f"${c.group}" for c in cp.captures)
    df = df.withColumn(
        "__graw", F.regexp_replace(_sanitize(line), wrapped, repl)
    )
    df = df.withColumn(
        "__garr",
        F.when(
            F.col("__graw").startswith(_SENTINEL),
            F.split(F.expr("substring(__graw, 2)"), _SEP, -1),
        ),
    )
    by_name: dict[str, list[int]] = {}
    for i, c in enumerate(cp.captures):
        by_name.setdefault(c.name, []).append(i + 1)
    outs = [
        F.when(
            F.col("__garr").isNotNull(),
            F.array(*[F.element_at(F.col("__garr"), i) for i in idxs]),
        ).alias(name + suffix)
        for name, idxs in by_name.items()
    ]
    return df.select(
        *[F.col(f"`{c}`") for c in df.columns if c not in ("__graw", "__garr")],
        *outs,
    )


def java_dialect_ok(spark: "object", regex: str) -> bool:
    """Plan-time check: does this regex compile in the Java dialect the
    executors use? The grok compiler emits plain groups so the shipped
    library always passes; user-supplied pattern bodies may use
    Python-only constructs (e.g. conditional groups ``(?(1)...)``) that
    ``java.util.regex`` rejects — those take the pandas fallback
    (SURVEY §2.10)."""
    try:
        spark._jvm.java.util.regex.Pattern.compile(regex)  # type: ignore[attr-defined]
        return True
    except Exception:
        return False


def grok_parse_struct_pandas(
    grok: Grok,
    df: "DataFrame",
    col: Column | str,
    pattern: str | CompiledPattern,
    out_col: str,
    condition: Column | None = None,
) -> "DataFrame":
    """Python-dialect fallback with the SAME output shape as
    ``grok_parse_many``: one nullable struct column of typed captures,
    NULL on non-match (or when ``condition`` is false). Arrow-batched
    mapInPandas, regex evaluated once per row.

    Use only for patterns `java_dialect_ok` rejects — the JVM path is
    the hot path (DESIGN.md §1)."""
    cp = _resolve(grok, pattern)
    src = f"__gsrc_{out_col}"
    cond = f"__gcond_{out_col}"
    base = list(df.columns)
    staged = df.withColumn(src, F.col(col) if isinstance(col, str) else col)
    staged = staged.withColumn(
        cond, condition if condition is not None else F.lit(True)
    )
    out_schema = StructType(
        [staged.schema[c] for c in base]
        + [StructField(out_col, grok_schema(grok, cp), True)]
    )
    rx = cp.python_regex
    fields = cp.fields

    def run(batches: Iterator["object"]) -> Iterator["object"]:
        for pdf in batches:
            vals: list[object] = []
            for t, ok in zip(pdf[src], pdf[cond]):
                if not ok or not isinstance(t, str):
                    vals.append(None)
                    continue
                m = rx.search(t)
                if m is None:
                    vals.append(None)
                    continue
                d: dict[str, object] = {}
                for c in fields:
                    raw = m.group(c.group) or ""
                    if c.type == "int":
                        try:
                            d[c.name] = int(raw) if raw else None
                        except ValueError:
                            d[c.name] = None
                    elif c.type == "float":
                        try:
                            d[c.name] = float(raw) if raw else None
                        except ValueError:
                            d[c.name] = None
                    else:
                        d[c.name] = raw
                vals.append(d)
            out = pdf[base].copy()
            out[out_col] = vals
            yield out

    return staged.mapInPandas(run, out_schema)


def grok_parse_auto(
    grok: Grok,
    df: "DataFrame",
    col: Column | str,
    pattern: str | CompiledPattern,
    out_col: str,
    condition: Column | None = None,
) -> "DataFrame":
    """Dialect-aware parse (SURVEY §2.10): compile to JVM-side
    expressions when the expanded regex is valid Java
    (`grok_parse_many`, codegen hot path), else fall back to the
    Python-dialect mapInPandas parser with identical output schema and
    NULL-on-nonmatch semantics. The choice happens once, at plan time."""
    cp = _resolve(grok, pattern)
    if java_dialect_ok(df.sparkSession, cp.regex):
        return grok_parse_many(grok, df, col, [(out_col, cp, condition)])
    return grok_parse_struct_pandas(grok, df, col, cp, out_col, condition)


def duckdb_exprs(
    grok: Grok,
    col_sql: str,
    pattern: str | CompiledPattern,
    prefix: str = "",
) -> list[str]:
    """DuckDB SQL select-list matching :func:`grok_columns` — the same
    plain-group regex string, so Spark and the oracle agree by
    construction. NULLIF-free: DuckDB regexp_extract also returns ''
    on no match, and casts of '' are handled via NULLIF to mirror
    Spark's cast('') -> NULL."""
    cp = _resolve(grok, pattern)
    rx = cp.regex.replace("'", "''")
    # DuckDB's numeric group index caps at 9; the name-list form is
    # positional and unbounded: name list[i] binds capture group i+1.
    # Place each semantic at its compile-time group index, fillers
    # elsewhere (names must be unique).
    max_group = max((c.group for c in cp.fields), default=0)
    names = [f"_g{i + 1}" for i in range(max_group)]
    for c in cp.fields:
        names[c.group - 1] = c.name
    name_list = "[" + ", ".join(f"'{n}'" for n in names) + "]"
    out = []
    for c in cp.fields:
        e = (
            f"struct_extract(regexp_extract({col_sql}, '{rx}', {name_list}), "
            f"'{c.name}')"
        )
        if c.type in _SQL_CAST:
            e = f"CAST(NULLIF({e}, '') AS {_SQL_CAST[c.type]})"
        out.append(f"{e} AS {prefix}{c.name}")
    return out
