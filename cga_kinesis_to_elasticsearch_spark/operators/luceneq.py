"""Lucene query-syntax parsers: ``query_string`` and
``simple_query_string`` — what Kibana's search bar sends for every
free-text query against the indices the reference ships
(reference main.go:447 index routing; the query language itself is
public Lucene/ES syntax).

Both parsers LOWER to the engine's existing query-DSL tree
(operators/querydsl.compile_query) rather than compiling predicates
themselves — one grammar, one lowering, one scoring path:

- ``field:value``            -> ``match`` (single analyzed token)
- ``field:"a b c"``          -> ``match_phrase``
- ``field:va?ue*``           -> token-level wildcard (unescaped
                                ``*``/``?`` — Lucene expands
                                multi-term queries against the
                                ANALYZED terms, so any matching token
                                qualifies the doc; the engine's
                                internal ``_token_wildcard`` leaf)
- ``field:*``                -> ``exists``
- ``field:[a TO b]``         -> ``range`` (also ``{a TO b}`` exclusive
                                and ``field:>x`` / ``>=`` / ``<`` /
                                ``<=`` comparisons; numbers coerced)
- ``field:(a b OR c)``       -> field-scoped group
- ``_exists_:field``         -> ``exists``
- ``term~`` / ``term~1``     -> token-level fuzzy (Levenshtein vs
                                each analyzed token; ``_token_fuzzy``)
- bare terms                 -> ``match`` over ``default_field`` /
                                ``fields`` (``multi_match`` when
                                several; phrase/wildcard fan out as a
                                ``should`` of per-field leaves)
- ``AND`` / ``OR`` / ``NOT`` (upper-case only; lower-case ``and``
  / ``or`` / ``not`` are terms, as in ES), ``&&`` ``||`` ``!``,
  parentheses,
  ``+``required / ``-``prohibited prefixes -> ``bool`` trees with
  Lucene's occurs-bucketing: in an OR context ``+``/``-`` operands
  become must/must_not of the SAME bool (so ``a +b -c`` keeps ES's
  should-optional-when-must-present semantics via compile_query's
  default minimum_should_match).

Error posture is the ES contract: ``query_string`` REJECTS invalid
syntax at plan time (ValueError — unbalanced quotes/parens, dangling
operators, boosts and other unsupported constructs); <-
``simple_query_string`` never raises on query text — invalid parts
degrade to literal terms or are discarded, exactly the "simple" selling
point. An empty/fully-discarded simple query matches NOTHING (ES
match_none), lowered as ``bool.must_not: match_all``.

Scale: the lowering produces the same bool/match/wildcard trees the
rest of the engine compiles to ONE codegen predicate — a parsed query
costs exactly what the equivalent hand-written DSL costs (pushable
conjuncts reach the parquet scan; no UDFs, no shuffles).
"""

from __future__ import annotations

import re

__all__ = ["query_string_to_dsl", "simple_query_string_to_dsl"]

_FIELD_RE = re.compile(r"^[A-Za-z_@][A-Za-z0-9_.@\-]*$")
_NUM_RE = re.compile(r"^-?\d+(\.\d+)?$")


def _coerce(v: str):
    """Range bound coercion: int, float, else the literal string
    (``*`` means unbounded)."""
    if _NUM_RE.match(v):
        return float(v) if "." in v else int(v)
    return v


# ---------------------------------------------------------------------------
# query_string lexer
# ---------------------------------------------------------------------------

# token kinds: lparen rparen and or not plus minus term phrase range
# fieldgroup (field-scoped parenthesized group opener)


def _lex_query_string(q: str) -> list[tuple]:
    toks: list[tuple] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
            continue
        if c == "(":
            toks.append(("lparen",))
            i += 1
            continue
        if c == ")":
            toks.append(("rparen",))
            i += 1
            continue
        if c == "+" and not (i + 1 < n and q[i + 1].isspace()):
            toks.append(("plus",))
            i += 1
            continue
        if c == "-" and i + 1 < n and not q[i + 1].isspace():
            toks.append(("minus",))
            i += 1
            continue
        if c == "!":
            toks.append(("not",))
            i += 1
            continue
        if q.startswith("&&", i):
            toks.append(("and",))
            i += 2
            continue
        if q.startswith("||", i):
            toks.append(("or",))
            i += 2
            continue
        if c == '"':
            j, buf = i + 1, []
            while j < n and q[j] != '"':
                if q[j] == "\\" and j + 1 < n:
                    buf.append(q[j + 1])
                    j += 2
                else:
                    buf.append(q[j])
                    j += 1
            if j >= n:
                raise ValueError(
                    f"query_string: unbalanced quote in {q!r}"
                )
            toks.append(("phrase", None, "".join(buf)))
            i = j + 1
            continue
        # a word: runs to whitespace / paren / quote, with \ escapes.
        # Tracks which chars were escaped so \* stays a literal star.
        buf: list[str] = []
        esc: list[bool] = []
        j = i
        while j < n and not q[j].isspace() and q[j] not in '()"':
            if (
                q[j] in "[{"
                and buf
                and buf[-1] == ":"
                and not esc[-1]
            ):
                break  # `field:[...]` — the range lexer takes over
            if q[j] == "\\" and j + 1 < n:
                buf.append(q[j + 1])
                esc.append(True)
                j += 2
            else:
                buf.append(q[j])
                esc.append(False)
                j += 1
        word = "".join(buf)
        # only UPPER-case AND/OR/NOT are operators (ES query_string);
        # lower-case and/or/not are ordinary terms
        if word in ("AND", "OR", "NOT") and not any(esc):
            toks.append((word.lower(),))
            i = j
            continue
        # field prefix: split at the first UNESCAPED ':' when the
        # prefix is a plausible field name ("12:30" stays a term)
        field = None
        for k, (ch, e) in enumerate(zip(buf, esc)):
            if ch == ":" and not e:
                cand = "".join(buf[:k])
                if _FIELD_RE.match(cand):
                    field = cand
                    buf = buf[k + 1:]
                    esc = esc[k + 1:]
                    word = "".join(buf)
                break
        if field is not None and not word:
            # `field:` then a bracketed range or a scoped group
            while j < n and q[j].isspace():
                j += 1
            if j < n and q[j] in "[{":
                close = "]" if q[j] == "[" else "}"
                other = "}" if q[j] == "[" else "]"
                end_i = -1
                for k2 in range(j + 1, n):
                    if q[k2] in (close, other):
                        end_i = k2
                        break
                if end_i < 0:
                    raise ValueError(
                        f"query_string: unterminated range after "
                        f"{field}: in {q!r}"
                    )
                inner = q[j + 1:end_i].split()
                if len(inner) != 3 or inner[1].upper() != "TO":
                    raise ValueError(
                        f"query_string: range must be [a TO b]: "
                        f"{q[j:end_i + 1]!r}"
                    )
                lo_inc = q[j] == "["
                hi_inc = q[end_i] == "]"
                bounds = {}
                if inner[0] != "*":
                    bounds["gte" if lo_inc else "gt"] = _coerce(inner[0])
                if inner[2] != "*":
                    bounds["lte" if hi_inc else "lt"] = _coerce(inner[2])
                if not bounds:
                    raise ValueError(
                        "query_string: range needs at least one bound"
                    )
                toks.append(("range", field, bounds))
                i = end_i + 1
                continue
            if j < n and q[j] == "(":
                toks.append(("fieldgroup", field))
                i = j
                continue
            if j < n and q[j] == '"':
                k2, pbuf = j + 1, []
                while k2 < n and q[k2] != '"':
                    if q[k2] == "\\" and k2 + 1 < n:
                        pbuf.append(q[k2 + 1])
                        k2 += 2
                    else:
                        pbuf.append(q[k2])
                        k2 += 1
                if k2 >= n:
                    raise ValueError(
                        f"query_string: unbalanced quote in {q!r}"
                    )
                toks.append(("phrase", field, "".join(pbuf)))
                i = k2 + 1
                continue
            raise ValueError(
                f"query_string: field {field!r} has no value in {q!r}"
            )
        if field is not None and word and word[0] in "<>":
            op = (
                "gte" if word.startswith(">=")
                else "lte" if word.startswith("<=")
                else "gt" if word[0] == ">"
                else "lt"
            )
            val = word[2:] if word[1:2] == "=" else word[1:]
            if not val:
                raise ValueError(
                    f"query_string: comparison with no value: {word!r}"
                )
            toks.append(("range", field, {op: _coerce(val)}))
            i = j
            continue
        for bad, what in (("^", "boost"), ("/", "regex literal")):
            for ch, e in zip(buf, esc):
                if ch == bad and not e:
                    raise ValueError(
                        f"query_string: {what} ({bad!r}) is not "
                        f"supported: {word!r}"
                    )
        # an unescaped ~ is only valid as a trailing fuzzy marker on a
        # non-empty term
        fuzz = re.search(r"~(\d?)$", word)
        if fuzz is not None and fuzz.start() == 0:
            fuzz = None  # `~` / `~2` alone: no term to fuzz
        for k2, (ch, e) in enumerate(zip(buf, esc)):
            if ch == "~" and not e and not (fuzz and k2 == fuzz.start()):
                raise ValueError(
                    f"query_string: '~' is only supported as a "
                    f"trailing fuzzy marker (term~ / term~1): {word!r}"
                )
        toks.append(("term", field, word, esc))
        i = j
    return toks


# ---------------------------------------------------------------------------
# leaf lowering (shared)
# ---------------------------------------------------------------------------


def _term_leaf(field: str, word: str, esc: list[bool] | None) -> dict:
    """One field + one analyzed token -> the narrowest DSL leaf."""
    if field == "_exists_":
        return {"exists": {"field": word}}
    esc = esc or [False] * len(word)
    # trailing unescaped ~ / ~N -> fuzzy (whole-value Levenshtein)
    m = re.search(r"~(\d?)$", word)
    if m and not esc[m.start()]:
        base = word[: m.start()]
        if base:
            spec = {"value": base}
            if m.group(1):
                spec["fuzziness"] = int(m.group(1))
            # token-level: Lucene expands fuzzy terms against the
            # index terms of the analyzed field
            return {"_token_fuzzy": {field: spec}}
    has_wild = any(
        ch in "*?" and not e for ch, e in zip(word, esc)
    )
    if word == "*" and not esc[0]:
        return {"exists": {"field": field}}
    if has_wild:
        # token-level multi-term query, like Lucene wildcard
        # expansion; ESCAPED * ? \ get their backslash back (the lexer
        # stripped it) so _wildcard_to_like keeps them literal —
        # foo\*bar* wildcards only on the trailing star
        pat = "".join(
            "\\" + ch if (e and ch in "*?\\") else ch
            for ch, e in zip(word, esc)
        )
        return {"_token_wildcard": {field: pat}}
    return {"match": {field: word}}


def _fan_out(fields: list[str], make_leaf) -> dict:
    """A leaf over one-or-many fields: single field stays a leaf,
    multiple fields become should-of-leaves (doc matches if ANY field
    matches — Lucene's multi-field expansion)."""
    if len(fields) == 1:
        return make_leaf(fields[0])
    return {
        "bool": {
            "should": [make_leaf(f) for f in fields],
            "minimum_should_match": 1,
        }
    }


def _resolve_fields(
    body: dict, kind: str, *, required: bool = True
) -> list[str] | None:
    fields = body.get("fields")
    if fields:
        out = []
        for f in fields:
            if "^" in f:
                raise ValueError(
                    f"{kind}: per-field boost is not supported: {f!r}"
                )
            out.append(f)
        return out
    df = body.get("default_field")
    if df:
        return [df]
    if not required:
        # query_string: a fully-FIELDED query (every term carries its
        # own field:) needs no default — resolution defers to the
        # first unfielded term, which raises there
        return None
    raise ValueError(
        f"{kind} needs default_field or fields (the engine has no "
        "index mapping to infer a default * expansion from)"
    )


def _mk_term_dsl(tok: tuple, fields: list[str] | None) -> dict:
    kind = tok[0]
    if kind == "term":
        _, field, word, esc = tok
        if field is not None:
            return _term_leaf(field, word, esc)
        if fields is None:
            raise ValueError(
                f"query_string: unfielded term {word!r} needs "
                "default_field or fields (the engine has no index "
                "mapping to infer a default * expansion from)"
            )
        # multi-field plain token: multi_match keeps BM25 best_fields
        # scoring; anything wildcard-ish fans out per field
        probe = _term_leaf(fields[0], word, esc)
        if next(iter(probe)) == "match" and len(fields) > 1:
            return {"multi_match": {"query": word, "fields": fields}}
        return _fan_out(fields, lambda f: _term_leaf(f, word, esc))
    if kind == "phrase":
        _, field, text = tok
        if field is None and fields is None:
            raise ValueError(
                f"query_string: unfielded phrase {text!r} needs "
                "default_field or fields"
            )
        tgt = [field] if field is not None else fields
        return _fan_out(tgt, lambda f: {"match_phrase": {f: text}})
    if kind == "range":
        _, field, bounds = tok
        return {"range": {field: bounds}}
    raise AssertionError(f"not a term token: {tok}")


# ---------------------------------------------------------------------------
# query_string parser (strict)
# ---------------------------------------------------------------------------


class _QSParser:
    def __init__(self, toks: list[tuple], fields: list[str], default_op: str):
        self.toks = toks
        self.i = 0
        self.fields = fields
        self.default_op = default_op

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    # tagged node: (occur, dsl) with occur in {None, "+", "-"}

    def parse(self) -> dict:
        node = self._or()
        if self.peek() is not None:
            raise ValueError(
                f"query_string: unexpected {self.peek()!r} after "
                "a complete query (unbalanced ')'?)"
            )
        return _untag(node)

    def _or(self):
        items = [self._and()]
        while True:
            t = self.peek()
            if t is not None and t[0] == "or":
                self.next()
                items.append(self._and())
            elif (
                self.default_op == "or"
                and t is not None
                and t[0] not in ("rparen", "and", "or")
            ):
                items.append(self._and())
            else:
                break
        if len(items) == 1:
            return items[0]
        return (None, _bucket_bool(items))

    def _and(self):
        items = [self._unary()]
        while True:
            t = self.peek()
            if t is not None and t[0] == "and":
                self.next()
                items.append(self._unary())
            elif (
                self.default_op == "and"
                and t is not None
                and t[0] not in ("rparen", "and", "or")
            ):
                items.append(self._unary())
            else:
                break
        if len(items) == 1:
            return items[0]
        must = [d for occ, d in items if occ in (None, "+")]
        must_not = [d for occ, d in items if occ == "-"]
        out: dict = {}
        if must:
            out["must"] = must
        if must_not:
            out["must_not"] = must_not
        return (None, {"bool": out})

    def _unary(self):
        t = self.peek()
        if t is None:
            raise ValueError("query_string: dangling operator")
        if t[0] == "not":
            self.next()
            occ, node = self._unary()
            if occ == "-":  # NOT -x == x? Lucene: double negative -> keep NOT once
                return (None, node)
            return ("-", node)
        if t[0] == "plus":
            self.next()
            _, node = self._primary()
            return ("+", node)
        if t[0] == "minus":
            self.next()
            _, node = self._primary()
            return ("-", node)
        return self._primary()

    def _primary(self):
        t = self.next()
        if t is None:
            raise ValueError("query_string: unexpected end of query")
        if t[0] == "lparen":
            node = self._or()
            if (self.peek() or ("",))[0] != "rparen":
                raise ValueError("query_string: unbalanced '('")
            self.next()
            return (None, _untag(node))
        if t[0] == "fieldgroup":
            field = t[1]
            t2 = self.next()
            if t2 is None or t2[0] != "lparen":
                raise ValueError(
                    f"query_string: {field}: must be followed by '('"
                )
            saved = self.fields
            self.fields = [field]
            try:
                node = self._or()
            finally:
                self.fields = saved
            if (self.peek() or ("",))[0] != "rparen":
                raise ValueError("query_string: unbalanced '('")
            self.next()
            return (None, _untag(node))
        if t[0] in ("term", "phrase", "range"):
            return (None, _mk_term_dsl(t, self.fields))
        raise ValueError(f"query_string: unexpected token {t!r}")


def _untag(tagged) -> dict:
    occ, node = tagged
    if occ == "-":
        return {"bool": {"must_not": [node]}}
    return node


def _bucket_bool(items: list[tuple]) -> dict:
    """Lucene occurs-bucketing for an OR-joined clause list: plain
    operands -> should, ``+`` -> must, ``-`` -> must_not, all in ONE
    bool — compile_query's ES-default minimum_should_match (1 without
    must, 0 with) then reproduces Lucene's should-optional-when-
    must-present behavior."""
    out: dict = {}
    for occ, d in items:
        key = {"+": "must", "-": "must_not"}.get(occ, "should")
        out.setdefault(key, []).append(d)
    return {"bool": out}


def query_string_to_dsl(body: dict) -> dict:
    """Lower a ``query_string`` body to the engine's query-DSL tree.
    Strict: any syntax error or unsupported construct raises
    ValueError at plan time (ES's query_string does the same)."""
    if not isinstance(body, dict) or "query" not in body:
        raise ValueError(f"query_string needs a query: {body}")
    fields = _resolve_fields(body, "query_string", required=False)
    default_op = str(body.get("default_operator", "or")).lower()
    if default_op not in ("or", "and"):
        raise ValueError(
            f"query_string: bad default_operator {default_op!r}"
        )
    toks = _lex_query_string(str(body["query"]))
    if not toks:
        raise ValueError("query_string: empty query")
    dsl = _QSParser(toks, fields, default_op).parse()
    msm = body.get("minimum_should_match")
    if msm is not None:
        if (
            len(dsl) == 1
            and "bool" in dsl
            and set(dsl["bool"]) <= {"should", "minimum_should_match"}
        ):
            dsl["bool"]["minimum_should_match"] = msm
        else:
            raise ValueError(
                "query_string: minimum_should_match applies only when "
                "the query lowers to a pure should-bool"
            )
    return dsl


# ---------------------------------------------------------------------------
# simple_query_string (error-tolerant)
# ---------------------------------------------------------------------------

_SIMPLE_SPECIALS = '+|-"*()~\\'


def _lex_simple(q: str) -> list[tuple]:
    """SimpleQueryParser token stream: ``+`` ``|`` ``-`` ``(`` ``)``
    quoted phrases and words; trailing unescaped ``*`` marks a prefix
    query. NEVER raises — an unbalanced quote degrades to literal
    words, stray parens are dropped by the parser."""
    toks: list[tuple] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
            continue
        if c == "(":
            toks.append(("lparen",))
            i += 1
            continue
        if c == ")":
            toks.append(("rparen",))
            i += 1
            continue
        if c == "+":
            toks.append(("and",))
            i += 1
            continue
        if c == "|":
            toks.append(("or",))
            i += 1
            continue
        if c == "-":
            toks.append(("neg",))
            i += 1
            continue
        if c == '"':
            j = q.find('"', i + 1)
            if j < 0:
                # unbalanced quote: degrade — drop the quote char,
                # re-lex the rest as plain words
                i += 1
                continue
            toks.append(("phrase", q[i + 1:j]))
            i = j + 1
            continue
        buf: list[str] = []
        esc: list[bool] = []
        j = i
        while j < n and not q[j].isspace() and q[j] not in '()|+-"':
            if q[j] == "\\" and j + 1 < n:
                buf.append(q[j + 1])
                esc.append(True)
                j += 2
            else:
                buf.append(q[j])
                esc.append(False)
                j += 1
        if buf:
            toks.append(("word", "".join(buf), esc))
        i = j
    return toks


def _simple_leaf(tok: tuple, fields: list[str]) -> dict | None:
    """A simple-syntax token to a DSL leaf over the body's fields.
    Returns None for an empty/degenerate token (discarded)."""
    if tok[0] == "phrase":
        text = tok[1].strip()
        if not text:
            return None
        return _fan_out(fields, lambda f: {"match_phrase": {f: text}})
    _, word, esc = tok
    if not word:
        return None
    # trailing unescaped ~N -> fuzzy; trailing unescaped * -> prefix
    m = re.search(r"~(\d?)$", word)
    if m and not esc[m.start()] and word[: m.start()]:
        base = word[: m.start()]
        spec = {"value": base}
        if m.group(1):
            spec["fuzziness"] = int(m.group(1))
        return _fan_out(
            fields, lambda f: {"_token_fuzzy": {f: dict(spec)}}
        )
    if word.endswith("*") and not esc[-1]:
        base = word[:-1]
        if not base:
            return None
        # interior * / ? are LITERAL characters in the simple syntax;
        # only the trailing * is an operator (token-prefix query)
        return _fan_out(fields, lambda f: {"_token_prefix": {f: base}})
    if len(fields) > 1:
        return {"multi_match": {"query": word, "fields": fields}}
    return {"match": {fields[0]: word}}


class _SimpleParser:
    """Error-tolerant, with Lucene occurs-bucketing: a ``-``negated
    operand becomes must_not of the ENCLOSING bool (not a nested NOT),
    so ``qu* -bad`` means "matches qu* and not bad". Dangling
    operators are dropped, an unmatched ')' ends the current group
    (top level: it is skipped), an unmatched '(' group runs to the end
    of the input."""

    def __init__(self, toks: list[tuple], fields: list[str], default_op: str):
        self.toks = toks
        self.i = 0
        self.fields = fields
        self.default_op = default_op

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def parse(self) -> dict | None:
        groups: list[dict] = []
        while self.peek() is not None:
            if self.peek()[0] == "rparen":
                self.i += 1  # stray ')' at top level: discard
                continue
            node = self._or()
            if node is not None:
                groups.append(node)
        if not groups:
            return None
        if len(groups) == 1:
            return groups[0]
        if self.default_op == "and":
            return {"bool": {"must": groups}}
        return {"bool": {"should": groups, "minimum_should_match": 1}}

    def _or(self) -> dict | None:
        items: list[tuple[bool, dict]] = []
        item = self._and()
        if item is not None:
            items.append(item)
        while True:
            t = self.peek()
            if t is not None and t[0] == "or":
                self.i += 1
                item = self._and()
                if item is not None:
                    items.append(item)
            elif (
                self.default_op == "or"
                and t is not None
                and t[0] not in ("rparen", "or", "and")
            ):
                item = self._and()
                if item is not None:
                    items.append(item)
            else:
                break
        if not items:
            return None
        if len(items) == 1:
            neg, node = items[0]
            return {"bool": {"must_not": [node]}} if neg else node
        out: dict = {}
        pos = [n for neg, n in items if not neg]
        negs = [n for neg, n in items if neg]
        if pos:
            out["should"] = pos
        if negs:
            out["must_not"] = negs
        return {"bool": out}

    def _and(self) -> tuple[bool, dict] | None:
        items: list[tuple[bool, dict]] = []

        def grab():
            node, neg = self._unary()
            if node is not None:
                items.append((neg, node))

        grab()
        while True:
            t = self.peek()
            if t is not None and t[0] == "and":
                self.i += 1
                grab()
            elif (
                self.default_op == "and"
                and t is not None
                and t[0] not in ("rparen", "or", "and")
            ):
                grab()
            else:
                break
        if not items:
            return None
        if len(items) == 1:
            return items[0]
        must = [n for neg, n in items if not neg]
        must_not = [n for neg, n in items if neg]
        out: dict = {}
        if must:
            out["must"] = must
        if must_not:
            out["must_not"] = must_not
        return (False, {"bool": out})

    def _unary(self) -> tuple[dict | None, bool]:
        neg = False
        while self.peek() is not None and self.peek()[0] == "neg":
            self.i += 1
            neg = not neg
        t = self.peek()
        if t is None or t[0] in ("or", "and", "rparen"):
            return None, False  # dangling operator/negation: discard
        self.i += 1
        if t[0] == "lparen":
            inner = self._or()
            if self.peek() is not None and self.peek()[0] == "rparen":
                self.i += 1
            # unmatched '(': the group just ran to end-of-input
            return inner, neg
        return _simple_leaf(t, self.fields), neg


_MATCH_NONE = {"bool": {"must_not": [{"match_all": {}}]}}


def simple_query_string_to_dsl(body: dict) -> dict:
    """Lower a ``simple_query_string`` body to the engine's query-DSL
    tree. The BODY is still validated (missing fields / bad
    default_operator raise), but the QUERY TEXT never raises — ES's
    simple parser discards what it cannot parse; a query with nothing
    parseable matches no documents."""
    if not isinstance(body, dict) or "query" not in body:
        raise ValueError(f"simple_query_string needs a query: {body}")
    fields = _resolve_fields(body, "simple_query_string")
    default_op = str(body.get("default_operator", "or")).lower()
    if default_op not in ("or", "and"):
        raise ValueError(
            f"simple_query_string: bad default_operator {default_op!r}"
        )
    toks = _lex_simple(str(body["query"]))
    dsl = _SimpleParser(toks, fields, default_op).parse()
    if dsl is None:
        return dict(_MATCH_NONE)
    msm = body.get("minimum_should_match")
    if (
        msm is not None
        and len(dsl) == 1
        and "bool" in dsl
        and set(dsl["bool"]) <= {"should", "minimum_should_match"}
    ):
        dsl["bool"]["minimum_should_match"] = msm
    return dsl
