"""SPARQL SELECT front-end: compile a query-string subset onto the
relational operators this engine already has.

The reference library (0x51-dev/rdf) stops at programmatic
Find/FindAll (graph.go:17-39); real KG consumers speak SPARQL.  This
module parses a pragmatic SELECT subset and compiles it to ONE
declarative DataFrame plan — Catalyst owns join order, filter
pushdown, and partial aggregation exactly as if the user had written
the DataFrame calls by hand:

- basic graph patterns  -> :func:`graphops.bgp_match` (constant-
  filtered scans + shared-variable equi-joins; ``;`` and ``,``
  predicate/object lists; ``a`` = rdf:type),
- property paths in predicate position (``^ / | + * ? !()``)
  -> :func:`paths.eval_path` via bgp_match's path passthrough,
- FILTER             -> a Column expression (whole-stage codegen:
  comparisons, && || !, REGEX, STRSTARTS/STRENDS/CONTAINS, STRLEN,
  LCASE/UCASE, BOUND, STR, COALESCE, IF),
- OPTIONAL { ... }   -> left outer join on the shared variables,
- { A } UNION { B }  -> unionByName with null-fill (bag semantics),
- VALUES             -> broadcast inline-binding join (UNDEF -> null),
- MINUS { ... }      -> left-anti equi-join on the shared variables
  (disjoint-domain MINUS removes nothing, per spec §8.3.3),
- FILTER [NOT] EXISTS { ... } -> left-semi / left-anti equi-join;
  with no shared variable the pattern is one scalar fact, probed via
  a 1-row broadcast left join (never a data-sized cross join),
- GROUP BY + COUNT/COUNT(DISTINCT)/SUM/AVG/MIN/MAX/SAMPLE/
  GROUP_CONCAT(...; SEPARATOR="..") (AS ?alias)
                     -> groupBy.agg (map-side partial combine;
  GROUP_CONCAT sorts collected values for determinism, SAMPLE = min),
- FILTER ?x [NOT] IN (term, ...) -> Column.isin over constant terms,
- BIND(expr AS ?v)   -> withColumn, applied POSITIONALLY (spec §10:
  a BIND before an OPTIONAL does not see its variables — references
  out of scope at the BIND's position evaluate to unbound/null; a
  target already used before the BIND raises per §10.1, and a BIND
  written before a pattern that binds the same variable compiles to
  an equality constraint, never an overwrite — and a row whose
  expression is null imposes NO constraint, the Extend-error rule),
- HAVING -> post-aggregate filter,
- SELECT [DISTINCT] / ORDER BY [ASC|DESC] / LIMIT / OFFSET; both the
  projection (``(?a + ?b AS ?c)``) and ASC()/DESC() accept full value
  expressions — arithmetic (+ - * /, double-cast, unary sign) and the
  FILTER function set; SELECT expressions, HAVING, and ORDER BY
  ASC()/DESC() may also contain aggregate calls
  (``(SUM(?x)/COUNT(?y) AS ?r)``, ``HAVING(SUM(?q) > 5)``,
  ``ORDER BY DESC(COUNT(?p))``, spec [109]) — each computes with the
  visible aggregates under a hidden alias dropped from the output
  (identical calls compute once per SELECT body; ORDER BY aggregates
  combine with DISTINCT only via a projected alias, per the spec's
  projected-values-only ordering rule); aggregates in FILTER/BIND
  raise,
- CONSTRUCT { template } -> a new triple table via one array-explode
  pass over the bindings (:func:`sparql_construct`),
- ASK -> first-match probe (:func:`sparql_ask`), DESCRIBE -> simple
  symmetric CBD (:func:`sparql_describe`),
- UPDATE (:func:`sparql_update`): INSERT DATA / DELETE DATA /
  DELETE-INSERT-WHERE as functional snapshot transforms (anti-join
  deletes + unionByName inserts over ONE shared bindings pass).

Semantics notes (documented contracts, mirrored by the test oracles):

- Literal comparison is LEXICAL-FORM equality, matching the
  reference's own lexical-only literal equality (node.go) and this
  repo's canonical triple table: ``"01"^^xsd:int`` != ``"1"``.
  Comparisons against a NUMERIC literal in FILTER cast both sides to
  double (so ``FILTER(?qty > 30)`` behaves arithmetically).
- OPTIONAL with no shared variable raises (implicit cross join —
  never at 10^12 rows), as does a disconnected BGP pattern.
- GRAPH <iri>/?g { patterns } -> graph-position constants/variables
  on quad tables (union-default-graph semantics for patterns outside
  GRAPH, the common store configuration).  Property paths work
  inside GRAPH: a constant graph scopes the path's edge set to that
  graph, a graph variable evaluates the path per named graph and
  binds it (paths never cross graph boundaries, spec §13.3).
- MINUS compares shared variables null-strictly: an outer row whose
  shared variable is null (OPTIONAL-sourced) is never removed — the
  spec's domain-intersection rule agrees when that is the only shared
  variable; the partially-bound MULTI-variable case diverges, and is
  no longer silent: compiling such a query (>1 shared variable, an
  outer or inner group that can bind null) emits
  :class:`SparqlApproximationWarning`,
  and ``exact_null_semantics=True`` switches to the spec-exact
  broadcast compatibility anti-join (inner side must be
  broadcast-sized — the exact join is non-equi).  Fully-disjoint
  domains follow the spec exactly (nothing removed).
- [NOT] EXISTS routes rows whose shared variable is null through the
  unconstrained 1-row probe (an unbound variable stays free inside
  EXISTS, so the pattern matches iff it matches at all) — exact for
  one shared variable; partially-bound multi-variable rows get the
  same warning, and the same ``exact_null_semantics=True`` escape to
  the broadcast compatibility semi/anti-join.
- { SELECT ... } subqueries -> the sub-select compiles to its own
  DataFrame (aggregates, DISTINCT, ORDER/LIMIT all apply inside),
  then equi-joins into the enclosing group on its projected
  variables (bottom-up evaluation per spec §12).
- Unsupported SPARQL (SERVICE) raises
  :class:`SparqlSyntaxError` — never silently wrong.

Scale shape: the compiled plan is exactly the hand-written one — no
driver-side evaluation, no collect; LIMIT/ORDER push into Spark's
TakeOrderedAndProject when both are present.
"""

from __future__ import annotations

import re
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlSyntaxError(ValueError):
    """Raised for malformed or out-of-subset SPARQL text."""


class SparqlApproximationWarning(UserWarning):
    """Emitted when a query hits a documented approximate semantics
    path (null-strict MINUS/EXISTS over multiple shared variables
    where the outer or inner group can bind null) and the exact flag
    is off."""


_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRI><[^<>\s]*>)
    | (?P<VAR>\?[A-Za-z_]\w*)
    | (?P<STRING>"(?:[^"\\]|\\.)*")
    | (?P<NUMBER>[+-]?\d+(?:\.\d+)?)
    | (?P<PNAME>[A-Za-z_][\w-]*:[A-Za-z_][\w.-]*)
    | (?P<KW>[A-Za-z_][\w]*)
    | (?P<PUNCT>&&|\|\||!=|<=|>=|[{}().,;:=<>!|/^*+?-])
    """,
    re.VERBOSE,
)

_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\"}


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SparqlSyntaxError(f"bad character at {text[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind != "WS":
            out.append((kind, m.group()))
    out.append(("EOF", ""))
    return out


def _unquote(tok: str) -> str:
    body, out, i = tok[1:-1], [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            out.append(_ESCAPES.get(body[i + 1], body[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


_AGG_NAMES = ("COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT",
              "SAMPLE")


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        # aggregates written INSIDE a SELECT expression
        # ((SUM(?x)/COUNT(?y) AS ?r)): registered here under hidden
        # __iagg aliases while the expression parses, computed with
        # the visible aggregates, projected away afterwards
        self.inline_aggs: list[tuple] = []
        # token span of each inline aggregate call, so dependency
        # analysis can tell in-aggregate from outside-aggregate
        # variable occurrences
        self._iagg_spans: list[tuple[int, int]] = []
        # per-SELECT-body reuse pool (see select_body); aliases stay
        # globally unique via len(inline_aggs)
        self._iagg_pool: list[tuple] = []
        self._allow_inline_aggs = False

    # -- token helpers ---------------------------------------------
    def peek(self, k: int = 0) -> tuple[str, str]:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def take(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect_punct(self, p: str) -> None:
        kind, val = self.take()
        if kind != "PUNCT" or val != p:
            raise SparqlSyntaxError(f"expected {p!r}, got {val!r}")

    def kw(self, word: str) -> bool:
        kind, val = self.peek()
        if kind == "KW" and val.upper() == word:
            self.i += 1
            return True
        return False

    def expect_kw(self, word: str) -> None:
        if not self.kw(word):
            raise SparqlSyntaxError(
                f"expected {word}, got {self.peek()[1]!r}")

    # -- terms ------------------------------------------------------
    def _expand(self, pname: str) -> str:
        pfx, local = pname.split(":", 1)
        if pfx not in self.prefixes:
            raise SparqlSyntaxError(f"undeclared prefix {pfx!r}")
        return self.prefixes[pfx] + local

    def term(self):
        """Subject/object term -> bgp_match form (?var / constant)."""
        kind, val = self.take()
        if kind == "VAR":
            return val
        if kind == "IRI":
            return val[1:-1]
        if kind == "PNAME":
            return self._expand(val)
        if kind == "STRING":
            return _unquote(val)
        if kind == "NUMBER":
            return val
        if kind == "KW" and val in ("true", "false"):
            return val
        raise SparqlSyntaxError(f"unexpected term {val!r}")

    # -- property paths (predicate position) ------------------------
    # Reassembles the operators/paths.py string syntax; a bare IRI
    # stays a plain constant so bgp_match keeps the direct scan.
    def path(self) -> str:
        s = self.path_seq()
        while self.peek() == ("PUNCT", "|"):
            self.take()
            s = f"{s}|{self.path_seq()}"
        return s

    def path_seq(self) -> str:
        s = self.path_elt_or_inv()
        while self.peek() == ("PUNCT", "/"):
            self.take()
            s = f"{s}/{self.path_elt_or_inv()}"
        return s

    def path_elt_or_inv(self) -> str:
        if self.peek() == ("PUNCT", "^"):
            self.take()
            return "^" + self.path_elt()
        return self.path_elt()

    def path_elt(self) -> str:
        s = self.path_primary()
        kind, val = self.peek()
        if kind == "PUNCT" and val in ("+", "*", "?"):
            self.take()
            return s + val
        return s

    def path_primary(self) -> str:
        kind, val = self.peek()
        if kind == "IRI":
            self.take()
            return val
        if kind == "PNAME":
            self.take()
            return f"<{self._expand(val)}>"
        if kind == "KW" and val == "a":
            self.take()
            return f"<{RDF_TYPE}>"
        if kind == "PUNCT" and val == "!":
            self.take()
            self.expect_punct("(")
            inner = self.path()
            self.expect_punct(")")
            return f"!({inner})"
        if kind == "PUNCT" and val == "(":
            self.take()
            inner = self.path()
            self.expect_punct(")")
            return f"({inner})"
        raise SparqlSyntaxError(f"bad path element {val!r}")

    def predicate(self):
        """-> bgp_match predicate: '?var', a plain IRI constant, or a
        property-path string (recognized downstream by its 1st char)."""
        kind, val = self.peek()
        if kind == "VAR":
            self.take()
            return val
        p = self.path()
        plain = re.fullmatch(r"<([^<>]*)>", p)
        return plain.group(1) if plain else p

    # -- FILTER expressions -> pyspark Column ------------------------
    def _or_expr(self) -> Column:
        c = self._and_expr()
        while self.peek() == ("PUNCT", "||"):
            self.take()
            c = c | self._and_expr()
        return c

    def _and_expr(self) -> Column:
        c = self._unary()
        while self.peek() == ("PUNCT", "&&"):
            self.take()
            c = c & self._unary()
        return c

    def _unary(self) -> Column:
        if self.peek() == ("PUNCT", "!"):
            self.take()
            return ~self._unary()
        return self._relational()

    def _relational(self) -> Column:
        left, left_num = self._operand()
        kind, val = self.peek()
        if kind == "KW" and val.upper() in ("IN", "NOT"):
            neg = val.upper() == "NOT"
            self.take()
            if neg:
                self.expect_kw("IN")
            self.expect_punct("(")
            items = []
            if self.peek() != ("PUNCT", ")"):
                while True:
                    item, item_num = self._operand()
                    if isinstance(item, Column):
                        raise SparqlSyntaxError(
                            "IN list must be constant terms in this "
                            "subset")
                    items.append((item, item_num))
                    if self.peek() == ("PUNCT", ","):
                        self.take()
                        continue
                    break
            self.expect_punct(")")
            # spec: IN is a chain of '=' comparisons -> apply the
            # same numeric-literal casting rule per item
            expr = F.lit(False)  # ?x IN () is false, NOT IN () true
            for item, item_num in items:
                if left_num or item_num:
                    lc = (left.cast("double") if isinstance(left, Column)
                          else F.lit(float(left)))
                    rc = F.lit(float(item))
                else:
                    lc = left if isinstance(left, Column) else F.lit(left)
                    rc = F.lit(item)
                expr = expr | (lc == rc)
            return ~expr if neg else expr
        if kind == "PUNCT" and val in ("=", "!=", "<", "<=", ">", ">="):
            self.take()
            right, right_num = self._operand()
            if left_num or right_num:
                left = left.cast("double") if isinstance(left, Column) else F.lit(float(left))
                right = right.cast("double") if isinstance(right, Column) else F.lit(float(right))
            else:
                left = left if isinstance(left, Column) else F.lit(left)
                right = right if isinstance(right, Column) else F.lit(right)
            return {
                "=": left == right, "!=": left != right,
                "<": left < right, "<=": left <= right,
                ">": left > right, ">=": left >= right,
            }[val]
        if not isinstance(left, Column):
            raise SparqlSyntaxError("literal is not a boolean filter")
        return left  # BOUND(?x) etc. used directly as a boolean

    def _agg_expr(self, parse):
        """Run ``parse`` over one value expression that may contain
        aggregate calls (a SELECT item, HAVING, an ORDER BY key) ->
        (expr, new hidden __iagg items, variables occurring outside
        every aggregate call, has_aggregate).  The outside variables
        drive dependency analysis and non-grouped validation."""
        i0, n0, s0 = self.i, len(self.inline_aggs), len(self._iagg_spans)
        self._allow_inline_aggs = True
        try:
            expr = parse()
        finally:
            self._allow_inline_aggs = False
        spans = self._iagg_spans[s0:]
        outside = {
            self.toks[idx][1][1:]
            for idx in range(i0, self.i)
            if self.toks[idx][0] == "VAR"
            and not any(a <= idx < b for a, b in spans)
        }
        return expr, self.inline_aggs[n0:], outside, bool(spans)

    def _agg_call_body(self, fn):
        """After an aggregate keyword: ``( [DISTINCT] ?v | * [;
        SEPARATOR="..."] )`` -> (distinct, var, sep)."""
        self.expect_punct("(")
        agg_distinct = self.kw("DISTINCT")
        if self.peek() == ("PUNCT", "*"):
            self.take()
            var = None
            if fn != "COUNT":
                raise SparqlSyntaxError(f"{fn}(*) is not SPARQL")
            if agg_distinct:
                raise SparqlSyntaxError("COUNT(DISTINCT *) not in subset")
        else:
            vkind, vval = self.take()
            if vkind != "VAR":
                raise SparqlSyntaxError("aggregate needs a variable or *")
            var = vval[1:]
        sep = " "  # spec default separator
        if fn == "GROUP_CONCAT" and self.peek() == ("PUNCT", ";"):
            self.take()
            self.expect_kw("SEPARATOR")
            self.expect_punct("=")
            skind, sval = self.take()
            if skind != "STRING":
                raise SparqlSyntaxError("SEPARATOR needs a string")
            sep = _unquote(sval)
        self.expect_punct(")")
        return agg_distinct, var, sep

    def _as_double(self, v):
        """Arithmetic operand -> double Column; a non-numeric python
        literal (string/IRI in + - * /) is an in-query type error ->
        SparqlSyntaxError, never a bare ValueError."""
        if isinstance(v, Column):
            return v.cast("double")
        try:
            return F.lit(float(v))
        except (TypeError, ValueError):
            raise SparqlSyntaxError(
                f"non-numeric operand in arithmetic: {v!r}")

    def _operand(self):
        """-> (Column-or-python-literal, is_numeric). Entry point of
        the value-expression grammar: additive level (+/-) over
        multiplicative (* /) over primaries — arithmetic casts both
        sides to double (the FILTER numeric-comparison rule)."""
        left, num = self._mult()
        while True:
            kind, val = self.peek()
            if (kind, val) in (("PUNCT", "+"), ("PUNCT", "-")):
                op = self.take()[1]
                right, _ = self._mult()
            elif kind == "NUMBER" and val[0] in "+-":
                # the tokenizer folds a sign into the number
                # (``?a+1`` lexes as VAR NUMBER(+1) — the SPARQL
                # grammar has the same wart): the sign IS the
                # operator, and grammar [116] lets the signed number
                # carry its own multiplicative tail (``?a+1*2``), so
                # consume that before combining.
                self.take()
                op = val[0]
                right, _ = self._mult_tail(val[1:])
            else:
                return left, num
            lc, rc = self._as_double(left), self._as_double(right)
            left, num = (lc + rc) if op == "+" else (lc - rc), True

    def _mult(self):
        left, num = self._primary()
        left, changed = self._mult_tail(left)
        return left, num or changed

    def _mult_tail(self, left):
        """Consume ``('*' | '/') primary`` repetitions onto ``left``;
        -> (result, consumed_any)."""
        changed = False
        while self.peek() in (("PUNCT", "*"), ("PUNCT", "/")):
            op = self.take()[1]
            right, _ = self._primary()
            lc, rc = self._as_double(left), self._as_double(right)
            left = (lc * rc) if op == "*" else (lc / rc)
            changed = True
        return left, changed

    def _primary(self):
        """-> (Column-or-python-literal, is_numeric): one unsigned
        value primary (the pre-arithmetic ``_operand``)."""
        kind, val = self.peek()
        if kind == "PUNCT" and val in ("+", "-"):
            # unary sign before a parenthesized/var operand
            self.take()
            inner, _ = self._primary()
            c = self._as_double(inner)
            return (c if val == "+" else -c), True
        if kind == "PUNCT" and val == "(":
            self.take()
            c = self._or_expr()
            self.expect_punct(")")
            return c, False
        if kind == "VAR":
            self.take()
            return F.col(val[1:]), False
        if kind == "NUMBER":
            self.take()
            return val, True
        if kind == "STRING":
            self.take()
            return _unquote(val), False
        if kind == "IRI":
            self.take()
            return val[1:-1], False
        if kind == "PNAME":
            self.take()
            return self._expand(val), False
        if kind == "KW" and val.upper() in _AGG_NAMES \
                and self.peek(1) == ("PUNCT", "("):
            if not self._allow_inline_aggs:
                raise SparqlSyntaxError(
                    f"aggregate {val.upper()} is only valid in SELECT "
                    "expressions, HAVING, or ORDER BY — not FILTER/"
                    "BIND")
            span0 = self.i
            self.take()
            fn = val.upper()
            agg_distinct, var, sep = self._agg_call_body(fn)
            self._iagg_spans.append((span0, self.i))
            for ex in self._iagg_pool:
                # identical call repeated across this SELECT body's
                # expressions/HAVING/ORDER BY: reuse its computed
                # column (the pool is per SELECT body — a subquery's
                # aggregates are never shared with the outer query's:
                # different groups)
                if (ex[1], ex[2], ex[3], ex[5]) == (
                        fn, agg_distinct, var, sep):
                    return F.col(ex[4]), True
            alias = f"__iagg{len(self.inline_aggs)}"
            item = ("agg", fn, agg_distinct, var, alias, sep)
            self.inline_aggs.append(item)
            self._iagg_pool.append(item)
            return F.col(alias), True
        if kind == "KW":
            return self._function(val.upper())
        raise SparqlSyntaxError(f"bad filter operand {val!r}")

    def _function(self, name: str):
        self.take()
        self.expect_punct("(")
        if name == "BOUND":
            kind, val = self.take()
            if kind != "VAR":
                raise SparqlSyntaxError("BOUND takes a variable")
            self.expect_punct(")")
            return F.col(val[1:]).isNotNull(), False
        if name == "IF":
            # the condition is a full boolean expression, not an operand
            cond = self._or_expr()
            self.expect_punct(",")
            then_v = self._operand()[0]
            self.expect_punct(",")
            else_v = self._operand()[0]
            self.expect_punct(")")
            then_c = then_v if isinstance(then_v, Column) else F.lit(then_v)
            else_c = else_v if isinstance(else_v, Column) else F.lit(else_v)
            return F.when(cond, then_c).otherwise(else_c), False
        args = [self._operand()[0]]
        while self.peek() == ("PUNCT", ","):
            self.take()
            args.append(self._operand()[0])
        self.expect_punct(")")
        cols = [a if isinstance(a, Column) else F.lit(a) for a in args]

        def _lit(i):
            if isinstance(args[i], Column):
                raise SparqlSyntaxError(f"{name} arg {i+1} must be a literal")
            return args[i]

        if name == "REGEX":
            pat = _lit(1)
            if len(args) > 2 and "i" in _lit(2):
                pat = "(?i)" + pat
            return cols[0].rlike(pat), False
        if name == "STRSTARTS":
            return cols[0].startswith(cols[1]), False
        if name == "STRENDS":
            return cols[0].endswith(cols[1]), False
        if name == "CONTAINS":
            return cols[0].contains(cols[1]), False
        if name == "STRLEN":
            return F.length(cols[0]), True
        if name == "LCASE":
            return F.lower(cols[0]), False
        if name == "UCASE":
            return F.upper(cols[0]), False
        if name == "STR":
            # binding columns already hold the lexical form
            return cols[0], False
        if name == "COALESCE":
            return F.coalesce(*cols), False
        raise SparqlSyntaxError(f"unsupported function {name}")

    def term_tagged(self):
        """CONSTRUCT-template term -> (tag, value) keeping the
        syntactic category: var / iri / lit / num / bool."""
        kind, val = self.take()
        if kind == "VAR":
            return ("var", val[1:])
        if kind == "IRI":
            return ("iri", val[1:-1])
        if kind == "PNAME":
            return ("iri", self._expand(val))
        if kind == "STRING":
            return ("lit", _unquote(val))
        if kind == "NUMBER":
            return ("num", val)
        if kind == "KW" and val == "a":
            return ("iri", RDF_TYPE)
        if kind == "KW" and val in ("true", "false"):
            return ("bool", val)
        raise SparqlSyntaxError(f"bad template term {val!r}")

    def triples_block(self, term, pred, out) -> None:
        """``s p o (, o)* (; p o (, o)*)* [;] [.]`` -> (s, p, o) tuples
        appended to ``out``, reading terms with ``term`` and
        predicates with ``pred`` — shared by WHERE groups and
        templates (a dangling ``;`` may end the block, grammar [83])."""
        subj = term()
        while True:
            p = pred()
            while True:
                out.append((subj, p, term()))
                if self.peek() != ("PUNCT", ","):
                    break
                self.take()
            if self.peek() != ("PUNCT", ";"):
                break
            self.take()
            if self.peek() in (("PUNCT", "."), ("PUNCT", "}")):
                break
        if self.peek() == ("PUNCT", "."):
            self.take()

    def template(self):
        """CONSTRUCT { ... } -> list of tagged (s, p, o) triples;
        supports the same ``;`` / ``,`` lists as WHERE, no paths."""
        self.expect_punct("{")
        out = []
        while self.peek() != ("PUNCT", "}"):
            self.triples_block(self.term_tagged, self.term_tagged, out)
        self.take()
        if not out:
            raise SparqlSyntaxError("empty CONSTRUCT template")
        return out

    # -- WHERE group --------------------------------------------------
    def group(self):
        """-> dict(patterns, filters, optionals, unions, values).

        ``optionals`` holds nested group dicts; ``unions`` a list of
        group-dict alternatives (``{A} UNION {B} ...``); ``values``
        ``(var_names, rows)`` inline-binding tables."""
        self.expect_punct("{")
        g = {"patterns": [], "filters": [], "optionals": [],
             "unions": [], "values": [], "binds": [], "minuses": [],
             "exists": [], "subqueries": []}
        while True:
            kind, val = self.peek()
            if (kind, val) == ("PUNCT", "}"):
                self.take()
                return g
            if (kind, val) == ("PUNCT", "{"):
                nk, nv = self.peek(1)
                if nk == "KW" and nv.upper() == "SELECT":
                    # { SELECT ... } subquery: evaluated bottom-up,
                    # joined into the group on its projected variables
                    self.i += 2  # '{' SELECT
                    g["subqueries"].append(self.select_body())
                    self.expect_punct("}")
                    continue
                # { A } UNION { B } [UNION { C } ...]
                alts = [self.group()]
                while self.kw("UNION"):
                    alts.append(self.group())
                if len(alts) < 2:
                    raise SparqlSyntaxError(
                        "bare nested group (only UNION alternatives "
                        "are supported)")
                if g["unions"]:
                    raise SparqlSyntaxError(
                        "one UNION block per group in this subset")
                g["unions"] = alts
                continue
            if kind == "KW" and val.upper() == "FILTER":
                self.take()
                nk, nv = self.peek()
                if nk == "KW" and nv.upper() in ("EXISTS", "NOT"):
                    positive = nv.upper() == "EXISTS"
                    self.take()
                    if not positive:
                        self.expect_kw("EXISTS")
                    g["exists"].append(
                        (positive, self._flat_group("EXISTS")))
                    continue
                self.expect_punct("(")
                g["filters"].append(self._or_expr())
                self.expect_punct(")")
                continue
            if kind == "KW" and val.upper() in ("OPTIONAL", "MINUS"):
                self.take()
                key = "optionals" if val.upper() == "OPTIONAL" else "minuses"
                g[key].append(self._flat_group(val.upper()))
                continue
            if kind == "KW" and val.upper() == "VALUES":
                self.take()
                g["values"].append(self._values_block())
                continue
            if kind == "KW" and val.upper() == "BIND":
                self.take()
                self.expect_punct("(")
                i0 = self.i
                expr, _ = self._operand()
                # the variables this expression references (token
                # scan) — the compiler nulls any reference that is
                # out of scope at the BIND's position (spec §10)
                deps = {t[1][1:] for t in self.toks[i0:self.i]
                        if t[0] == "VAR"}
                self.expect_kw("AS")
                vkind, vval = self.take()
                if vkind != "VAR":
                    raise SparqlSyntaxError("BIND needs AS ?var")
                self.expect_punct(")")
                # spec §10.1 syntax restriction: the BIND target must
                # not have been used in the group before the BIND —
                # catching it here keeps the compiler's later
                # withColumn from silently overwriting matched values
                in_scope = _group_vars(g)
                tgt = vval[1:]
                if tgt in in_scope:
                    raise SparqlSyntaxError(
                        f"BIND target ?{tgt} already used in the "
                        "group before the BIND (SPARQL §10.1)")
                # tag with the number of OPTIONALs already parsed:
                # BIND is positional (spec §10) — it evaluates over
                # the group-so-far, so a BIND written before an
                # OPTIONAL must NOT see that OPTIONAL's variables.
                # scope_ok records whether every referenced variable
                # was in scope at the BIND's textual position; if
                # not, the expression errors -> target stays UNBOUND
                # (joins freely with a later pattern binding it)
                g["binds"].append((
                    expr if isinstance(expr, Column) else F.lit(expr),
                    tgt, deps, len(g["optionals"]),
                    deps <= in_scope))
                continue
            if kind == "KW" and val.upper() == "GRAPH":
                self.take()
                if self.peek()[0] not in ("VAR", "IRI", "PNAME"):
                    raise SparqlSyntaxError(
                        f"GRAPH needs a variable or IRI, got "
                        f"{self.peek()[1]!r}")
                gterm = self.term()
                inner = self._flat_group("GRAPH")
                g["patterns"].extend(
                    (s, p, o, gterm) for s, p, o in inner["patterns"])
                g["filters"].extend(inner["filters"])
                continue
            if kind == "KW" and val.upper() == "SERVICE":
                raise SparqlSyntaxError("SERVICE not in subset")
            self.triples_block(self.term, self.predicate, g["patterns"])

    def _flat_group(self, clause):
        """The group after OPTIONAL / MINUS / [NOT] EXISTS / GRAPH:
        none may nest OPTIONAL, UNION, MINUS, EXISTS or a subquery,
        and GRAPH takes only triple patterns and FILTER."""
        g = self.group()
        nested = ["optionals", "unions", "minuses", "exists", "subqueries"]
        if clause == "GRAPH":
            if any(g[k] for k in nested + ["values", "binds"]):
                raise SparqlSyntaxError(
                    "only triple patterns and FILTER inside GRAPH")
        elif any(g[k] for k in nested):
            raise SparqlSyntaxError(
                "nested OPTIONAL/UNION/MINUS/EXISTS/subquery "
                f"inside {clause} unsupported")
        return g

    def _values_block(self):
        """VALUES ?x { v... } | VALUES (?x ?y) { (v v) ... } ->
        (var_names, rows); UNDEF -> None."""
        def one_value():
            kind, val = self.peek()
            if kind == "KW" and val.upper() == "UNDEF":
                self.take()
                return None
            return self.term()

        if self.peek()[0] == "VAR":
            names = [self.take()[1][1:]]
            self.expect_punct("{")
            rows = []
            while self.peek() != ("PUNCT", "}"):
                rows.append((one_value(),))
            self.take()
            return names, rows
        self.expect_punct("(")
        names = []
        while self.peek()[0] == "VAR":
            names.append(self.take()[1][1:])
        self.expect_punct(")")
        if not names:
            raise SparqlSyntaxError("VALUES needs variables")
        self.expect_punct("{")
        rows = []
        while self.peek() != ("PUNCT", "}"):
            self.expect_punct("(")
            row = []
            while self.peek() != ("PUNCT", ")"):
                row.append(one_value())
            self.take()
            if len(row) != len(names):
                raise SparqlSyntaxError("VALUES row arity mismatch")
            rows.append(tuple(row))
        self.take()
        return names, rows

    # -- full query ---------------------------------------------------
    def prologue(self):
        while self.kw("PREFIX"):
            kind, val = self.take()
            if kind != "KW":
                raise SparqlSyntaxError("bad PREFIX declaration")
            self.expect_punct(":")
            kind, iri = self.take()
            if kind != "IRI":
                raise SparqlSyntaxError("PREFIX needs an IRI")
            self.prefixes[val] = iri[1:-1]

    def parse(self, forms):
        """[prologue] FORM ... -> (head, where): the one parse entry
        for all five query forms, ``forms`` naming the keywords the
        caller accepts.  ``head`` is the SELECT body tuple, CONSTRUCT
        ``(template, limit)``, DESCRIBE ``(iris, vars)`` or the
        update's ``(delete, insert)`` templates (None for ASK);
        ``where`` is the WHERE group dict, or None for DESCRIBE
        <iri> and the DATA updates."""
        self.prologue()
        form = next((f for f in forms if self.kw(f)), None)
        if form is None:
            raise SparqlSyntaxError(
                f"expected {' or '.join(forms)}, got {self.peek()[1]!r}")
        head = where = None
        if form == "SELECT":
            head = self.select_body()
            where = head[2]
        elif form == "CONSTRUCT":
            template = self.template()
            self.expect_kw("WHERE")
            where = self.group()
            head = (template,
                    int(self.take()[1]) if self.kw("LIMIT") else None)
        elif form == "ASK":
            where = self.group()
        elif form == "DESCRIBE":
            iris, vars_ = [], []
            while self.peek()[0] in ("IRI", "PNAME", "VAR"):
                if self.peek()[0] == "VAR":
                    vars_.append(self.take()[1][1:])
                else:
                    iris.append(self.term())
            if not iris and not vars_:
                raise SparqlSyntaxError("DESCRIBE needs IRIs or variables")
            if vars_:
                if not self.kw("WHERE"):
                    raise SparqlSyntaxError(
                        "DESCRIBE ?var needs a WHERE group")
                where = self.group()
            head = (iris, vars_)
        else:  # INSERT DATA | DELETE DATA | [DELETE] [INSERT] WHERE
            data = self.kw("DATA")
            dele = self.template() if form == "DELETE" else None
            ins = (self.template() if form == "INSERT"
                   or (not data and self.kw("INSERT")) else None)
            if not data:
                self.expect_kw("WHERE")
                where = self.group()
            head = (dele, ins)
        if self.peek()[0] != "EOF":
            raise SparqlSyntaxError(
                f"trailing input at {self.peek()[1]!r}")
        if form in ("INSERT", "DELETE") and where is None and any(
                tag == "var" for tmpl in head if tmpl
                for triple in tmpl for tag, _ in triple):
            raise SparqlSyntaxError(
                "INSERT/DELETE DATA cannot contain variables")
        return head, where

    def select_body(self):
        """SELECT ... WHERE {...} [solution modifiers], after the
        SELECT keyword — shared by the top-level query and ``{ SELECT
        ... }`` subqueries (the caller checks the terminator: EOF vs
        ``}``)."""
        outer_pool = self._iagg_pool
        self._iagg_pool = []  # fresh reuse scope for this body
        try:
            return self._select_body_inner()
        finally:
            self._iagg_pool = outer_pool

    def _select_body_inner(self):
        distinct = self.kw("DISTINCT")
        select_items = []  # ('var', name) | ('agg', fn, distinct, var, alias)
        if self.peek() == ("PUNCT", "*"):
            self.take()
        else:
            while True:
                kind, val = self.peek()
                if kind == "VAR":
                    self.take()
                    select_items.append(("var", val[1:]))
                elif (kind, val) == ("PUNCT", "("):
                    # (expr AS ?v) projection item — BIND's grammar
                    # plus aggregate calls (spec [109]): each
                    # aggregate registers as a hidden __iagg item
                    # computed with the group, and the expression
                    # references its column.  A bare `(AGG(..) AS ?v)`
                    # is the degenerate single-aggregate case of the
                    # same path (identical plan: the hidden column
                    # renamed to the alias).
                    self.take()
                    expr, new_aggs, deps, _ = self._agg_expr(
                        lambda: self._operand()[0])
                    # a variable is a dependency only where it occurs
                    # OUTSIDE every aggregate call (aggregate args are
                    # pre-group; the expression's real inputs are the
                    # hidden aliases + group keys) — a var used both
                    # inside AND outside stays a dependency, so the
                    # strict non-grouped check still raises on it as
                    # SparqlSyntaxError, never a Spark analysis error
                    deps |= {a[4] for a in new_aggs}
                    self.expect_kw("AS")
                    akind, aval = self.take()
                    if akind != "VAR":
                        raise SparqlSyntaxError("AS needs a variable")
                    if aval[1:].startswith("__iagg"):
                        raise SparqlSyntaxError(
                            "?__iagg* aliases are reserved for "
                            "inline-aggregate compilation")
                    self.expect_punct(")")
                    select_items.extend(new_aggs)
                    select_items.append((
                        "expr",
                        expr if isinstance(expr, Column)
                        else F.lit(expr),
                        aval[1:], deps))
                else:
                    break
            if not select_items:
                raise SparqlSyntaxError("SELECT needs variables or *")
        self.expect_kw("WHERE")
        where = self.group()
        group_by = []
        if self.kw("GROUP"):
            self.expect_kw("BY")
            while self.peek()[0] == "VAR":
                group_by.append(self.take()[1][1:])
            if not group_by:
                raise SparqlSyntaxError("GROUP BY needs variables")
        star = not select_items  # SELECT *
        keys = []  # (clause, variables outside aggregates, has_aggregate)

        def modifier(clause, parse):
            """One HAVING/ORDER BY expression.  Its aggregates compile
            like SELECT-expression ones: hidden __iagg items computed
            with the group, referenced by column, dropped after the
            solution modifiers run."""
            expr, new, outside, has_agg = self._agg_expr(parse)
            if has_agg and star:
                raise SparqlSyntaxError(
                    f"aggregates in {clause} need an explicit "
                    "SELECT list (not SELECT *)")
            select_items.extend(new)
            keys.append((clause, outside, has_agg))
            return expr

        having = None
        if self.kw("HAVING"):
            self.expect_punct("(")
            having = modifier("HAVING", self._or_expr)
            self.expect_punct(")")
        order = []
        if self.kw("ORDER"):
            self.expect_kw("BY")
            while True:
                kind, val = self.peek()
                if kind == "KW" and val.upper() in ("ASC", "DESC"):
                    # ASC(expr)/DESC(expr) — full value expressions
                    # (arithmetic, string functions, aggregates),
                    # not just vars
                    self.take()
                    self.expect_punct("(")
                    e = modifier("ORDER BY", lambda: self._operand()[0])
                    self.expect_punct(")")
                    order.append((
                        e if isinstance(e, Column) else F.lit(e),
                        val.upper() == "DESC"))
                elif kind == "VAR":
                    self.take()
                    keys.append(("ORDER BY", {val[1:]}, False))
                    order.append((val[1:], False))
                else:
                    break
        # in an aggregate query every HAVING/ORDER BY key may reference
        # only group keys / SELECT aliases, aggregate call or not —
        # checked here so the error is structured, not a Spark
        # analysis failure
        aggregate = group_by or any(it[0] == "agg" for it in select_items)
        allowed = set(group_by) | {_item_alias(it) for it in select_items}
        for clause, outside, has_agg in keys:
            bad = sorted(outside - allowed)
            if aggregate and bad:
                raise SparqlSyntaxError(
                    f"{clause} aggregate expression references "
                    f"non-grouped variables {bad}")
            if distinct and has_agg and clause == "ORDER BY":
                # SPARQL: under DISTINCT, ORDER BY may only use
                # projected values — and the hidden carrier must not
                # survive into distinct()
                raise SparqlSyntaxError(
                    "ORDER BY aggregate with SELECT DISTINCT "
                    "is not supported — project the aggregate "
                    "and order by its alias")
        limit = offset = None
        # LIMIT/OFFSET in either order, each at most once
        for _ in range(2):
            if self.kw("LIMIT"):
                limit = int(self.take()[1])
            elif self.kw("OFFSET"):
                offset = int(self.take()[1])
        return (distinct, select_items, where, group_by, having,
                order, limit, offset)


def _group_vars(g: dict) -> set[str]:
    """Variables a (possibly partially-parsed) group can bind:
    pattern positions, VALUES names, BIND targets, UNION branches,
    OPTIONALs, and subquery projections.  MINUS/EXISTS groups never
    bind outer variables and are excluded.  Used for BIND's
    already-in-scope checks at parse time."""
    vs = set()
    for p in g["patterns"]:
        for t in p:
            if isinstance(t, str) and t.startswith("?"):
                vs.add(t[1:])
    for names, _rows in g["values"]:
        vs.update(names)
    for b in g["binds"]:
        vs.add(b[1])
    for alt in g["unions"]:
        vs |= _group_vars(alt)
    for opt in g["optionals"]:
        vs |= _group_vars(opt)
    for sq in g["subqueries"]:
        items = sq[1]
        if items:
            vs.update(_item_alias(it) for it in items
                      if _visible_item(it))
        else:  # SELECT * — projects every variable of its WHERE
            vs |= _group_vars(sq[2])
    return vs


def _item_alias(it) -> str:
    """Output column name of one SELECT item: ('var', name) |
    ('agg', fn, distinct, var, alias, sep) | ('expr', col, alias,
    deps)."""
    return it[1] if it[0] == "var" else it[4] if it[0] == "agg" else it[2]


def _visible_item(it) -> bool:
    """False for the hidden __iagg items backing aggregates inside a
    SELECT expression — computed, then projected away."""
    return not (it[0] == "agg" and it[4].startswith("__iagg"))


_META_SUFFIXES = ("__kind", "__datatype", "__lang")


def _is_meta(col: str) -> bool:
    """True for the per-variable term-metadata companion columns that
    bgp_match emits under keep_kinds (``v__kind`` etc.) — they mirror
    the variable 1:1 and must NEVER join: datatype/lang are null for
    IRIs, so an equi-join keyed on them silently matches nothing."""
    return col.endswith(_META_SUFFIXES)


def _shared_vars(a: DataFrame, b: DataFrame) -> list[str]:
    """Shared VARIABLE columns of two binding frames (metadata
    companions excluded) — the only legal join surface."""
    bcols = set(b.columns)
    return sorted(c for c in a.columns if c in bcols and not _is_meta(c))


def _join_bindings(out: DataFrame, inner: DataFrame, shared: list[str],
                   how: str = "inner") -> DataFrame:
    """Equi-join two binding frames on shared variables, dropping the
    inner side's duplicated metadata companions (both sides bind the
    same term for a shared variable, so the outer copy is
    authoritative and keeping both would leave ambiguous columns)."""
    dup_meta = [c for c in inner.columns
                if _is_meta(c) and c in out.columns]
    return out.join(inner.drop(*dup_meta), on=shared, how=how)


def _nullable(g: dict) -> bool:
    """Whether a group can bind null: patterns/joins alone never do —
    only OPTIONAL misses, UNION null-fill, BIND expressions, VALUES
    UNDEF, or a subquery can.  Drives MINUS/EXISTS null handling."""
    return bool(g["optionals"] or g["unions"] or g["binds"]
                or g["values"] or g["subqueries"])


def _compat_join(out: DataFrame, inner: DataFrame, shared: list[str],
                 how: str, overlap: bool) -> DataFrame:
    """Spec-exact compatibility semi/anti-join: an outer row matches
    an inner row iff every shared variable bound on BOTH sides is
    equal (an unbound side leaves the variable free); ``overlap``
    (MINUS, §8.3.3) also needs at least one variable bound on both.
    A broadcast non-equi join — only safe for broadcast-sized inner
    sides, which is why it sits behind ``exact_null_semantics``."""
    inr = F.broadcast(inner.select(
        *[F.col(v).alias(f"__c_{v}") for v in shared]).distinct())
    compat, both_any = F.lit(True), F.lit(False)
    for v in shared:
        both = F.col(v).isNotNull() & F.col(f"__c_{v}").isNotNull()
        compat = compat & (~both | (F.col(v) == F.col(f"__c_{v}")))
        both_any = both_any | both
    return out.join(inr, compat & both_any if overlap else compat, how)


def _scalar_probe(df: DataFrame, inner: DataFrame,
                  positive: bool) -> DataFrame:
    """Keep ``df``'s rows iff ``inner`` has (``positive``) / has no
    row: a "does the pattern match AT ALL" probe through ONE
    broadcast row, never a data-sized cross join."""
    pr = F.broadcast(inner.limit(1).select(F.lit(1).alias("__e")))
    df = df.join(pr, F.lit(True), "left")
    return df.where(F.col("__e").isNotNull() if positive
                    else F.col("__e").isNull()).drop("__e")


def _compile_group(triples: DataFrame, g: dict,
                   path_max_rounds: int,
                   keep_kinds: bool = False,
                   exact_null_semantics: bool = False) -> DataFrame:
    """Compile one WHERE group dict -> a bindings DataFrame."""
    from .graphops import bgp_match

    def sub(inner: dict) -> DataFrame:
        return _compile_group(triples, inner, path_max_rounds, keep_kinds,
                              exact_null_semantics)

    out = None
    if g["unions"]:
        alts = [sub(alt) for alt in g["unions"]]
        # SPARQL UNION aligns by variable NAME; a variable absent
        # from one branch is unbound (null) there
        out = alts[0]
        for alt in alts[1:]:
            out = out.unionByName(alt, allowMissingColumns=True)
    for sq in g["subqueries"]:
        # bottom-up: the sub-select is a complete query over the same
        # graph; its projected columns are the join surface
        sq_out = _apply_select(sub(sq[2]), sq)
        if out is None:
            out = sq_out
            continue
        shared = _shared_vars(out, sq_out)
        if not shared:
            raise SparqlSyntaxError(
                "subquery shares no variable with the group "
                "(would be a cross join)")
        out = _join_bindings(out, sq_out, shared)
    if g["patterns"]:
        bgp = bgp_match(triples, g["patterns"],
                        path_max_rounds=path_max_rounds,
                        keep_kinds=keep_kinds)
        if out is None:
            out = bgp
        else:
            shared = _shared_vars(out, bgp)
            if not shared:
                raise SparqlSyntaxError(
                    "preceding UNION/subquery block shares no variable "
                    "with the group's triple patterns (would be a "
                    "cross join)")
            out = _join_bindings(out, bgp, shared)
    for names, rows in g["values"]:
        vals = triples.sparkSession.createDataFrame(
            rows, ", ".join(f"`{n}` string" for n in names))
        if out is None:
            out = vals
            continue
        shared = sorted(set(out.columns) & set(names))
        if not shared:
            raise SparqlSyntaxError(
                "VALUES shares no variable with the group")
        out = out.join(F.broadcast(vals), on=shared)
    if out is None:
        raise SparqlSyntaxError("empty WHERE group")

    def apply_binds_at(df, k):
        """Apply the BINDs written after the k-th OPTIONAL (positional
        semantics, spec §10): a referenced variable not in scope AT
        THE BIND'S POSITION (scope_ok=False) evaluates to unbound
        (null) — the spec's expression-error rule — even if a later
        pattern or OPTIONAL binds it."""
        for expr, name, deps, tag, scope_ok in g["binds"]:
            if tag != k:
                continue
            ok = scope_ok and deps <= set(df.columns)
            if name in df.columns:
                # the target is also bound by the group's patterns
                # written AFTER the BIND (prior use raises at parse
                # time): per spec the Extend runs first and the
                # pattern joins into it — an equality constraint on
                # the shared variable, never an overwrite.  An
                # expression error leaves the target unbound, which
                # is join-compatible with anything: no constraint —
                # including at RUNTIME (expr null on this row, e.g. a
                # referenced OPTIONAL var missing), hence the isNull
                # escape alongside the equality.
                if ok:
                    df = df.where((F.col(name) == expr)
                                  | expr.isNull())
            elif ok:
                df = df.withColumn(name, expr)
            else:
                df = df.withColumn(name, F.lit(None).cast("string"))
        return df

    out = apply_binds_at(out, 0)
    for n_opt, opt in enumerate(g["optionals"]):
        inner = sub(opt)
        shared = _shared_vars(out, inner)
        if not shared:
            raise SparqlSyntaxError(
                "OPTIONAL shares no variable with the outer group")
        out = _join_bindings(out, inner, shared, how="left")
        out = apply_binds_at(out, n_opt + 1)
    outer_nullable = _nullable(g)
    for clause, positive, e in (
            [("MINUS", False, m) for m in g["minuses"]]
            + [("EXISTS" if pos else "NOT EXISTS", pos, e)
               for pos, e in g["exists"]]):
        inner = sub(e)
        shared = _shared_vars(out, inner)
        how = "left_semi" if positive else "left_anti"
        if not shared:
            if clause != "MINUS":
                out = _scalar_probe(out, inner, positive)
            # SPARQL MINUS with disjoint domains removes NOTHING
            # (spec §8.3.3) — dropping rows here would be wrong
            continue
        if len(shared) > 1 and (outer_nullable or _nullable(e)):
            if exact_null_semantics:
                out = _compat_join(out, inner, shared, how,
                                   overlap=clause == "MINUS")
                continue
            warnings.warn(
                f"{clause} over multiple shared variables {shared} "
                "where either group can bind null: partially-bound "
                "rows are approximated (documented deviation from spec "
                "§8.3); pass exact_null_semantics=True for the exact "
                "broadcast join",
                SparqlApproximationWarning, stacklevel=2)
        inner_k = inner.select(*shared).dropna(how="any")
        if clause == "MINUS" or not outer_nullable:
            # MINUS compares null-strictly (a null outer variable
            # never matches); a null-free outer group needs no second
            # scan for EXISTS either
            out = out.join(inner_k, on=shared, how=how)
            continue
        # a NULL shared variable is UNBOUND: it stays free inside
        # EXISTS, so the pattern matches iff it matches at all —
        # route those rows through the scalar probe instead of the
        # equi-join (exact for one shared variable; for partially-
        # bound multi-variable rows the probe ignores the still-bound
        # vars — documented deviation in the module docstring)
        nullk = F.lit(False)
        for v in shared:
            nullk = nullk | F.col(v).isNull()
        bound = out.where(~nullk).join(inner_k, on=shared, how=how)
        out = bound.unionByName(
            _scalar_probe(out.where(nullk), inner, positive))
    # group-scope FILTERs apply over the whole group INCLUDING
    # optionals (SPARQL semantics — BOUND(?x) sees the join nulls);
    # Catalyst pushes outer-column-only predicates back below the
    # left joins, so evaluation order costs nothing.
    for f in g["filters"]:
        out = out.where(f)
    return out


_AGG_FN = {
    # SUM/AVG are numeric by definition -> cast the lexical form;
    # MIN/MAX stay lexical (documented, matches the engine's
    # string-ordered canonical sort)
    "COUNT": lambda c: F.count(c),
    "SUM": lambda c: F.sum(c.cast("double")),
    "AVG": lambda c: F.avg(c.cast("double")),
    "MIN": lambda c: F.min(c),
    "MAX": lambda c: F.max(c),
}


def _compile(triples: DataFrame, text: str, forms: tuple,
             path_max_rounds: int,
             exact_null_semantics: bool = False) -> tuple:
    """The one compile path: parse ``text`` as one of ``forms`` and
    compile its WHERE group -> (head, bindings).  Template forms
    (CONSTRUCT, INSERT, DELETE) keep term kinds for instantiation; a
    form without WHERE binds one empty row, so DATA templates
    instantiate through the same kernel."""
    head, where = _Parser(text).parse(forms)
    if where is None:
        return head, triples.sparkSession.range(1)
    keep_kinds = not {"CONSTRUCT", "INSERT", "DELETE"}.isdisjoint(forms)
    return head, _compile_group(triples, where, path_max_rounds,
                                keep_kinds, exact_null_semantics)


def sparql_select(
    triples: DataFrame, query: str, path_max_rounds: int = 16,
    exact_null_semantics: bool = False
) -> DataFrame:
    """Run a SPARQL SELECT (see module docstring for the subset) over
    the canonical triple table -> one column per selected variable /
    aggregate alias.

    The result is a lazy DataFrame; the plan is identical to the
    hand-composed bgp_match / filter / left-join / groupBy.agg /
    orderBy chain, so aggregation gets map-side partial combine and
    ORDER+LIMIT collapse to TakeOrderedAndProject for free.

    ``exact_null_semantics=True`` switches MINUS / (NOT) EXISTS over
    multiple shared variables where the outer or inner group can bind
    null from the null-strict approximation (which warns) to the
    spec-exact broadcast compatibility join — only for broadcast-sized
    inner sides (the join is non-equi, so the inner set must fit on
    every executor).
    """
    parsed, out = _compile(triples, query, ("SELECT",), path_max_rounds,
                           exact_null_semantics)
    return _apply_select(out, parsed)


def _apply_select(out: DataFrame, parsed: tuple) -> DataFrame:
    """Apply a parsed SELECT body (projection, aggregates, solution
    modifiers) to compiled WHERE bindings — shared by the top-level
    query and ``{ SELECT ... }`` subqueries."""
    (distinct, select_items, _where, group_by, having, order,
     limit, offset) = parsed

    aggs = [it for it in select_items if it[0] == "agg"]
    plain = [it[1] for it in select_items if it[0] == "var"]
    proj_exprs = [it for it in select_items if it[0] == "expr"]
    if having is not None and not (aggs or group_by):
        raise SparqlSyntaxError("HAVING requires GROUP BY or aggregates")

    def apply_proj_exprs(df, strict):
        """withColumn each (expr AS ?v) projection item.  strict
        (post-aggregate): a reference outside the grouped columns
        raises — it names a pre-group variable the aggregation
        consumed.  Non-strict (plain SELECT): an out-of-scope
        reference is the spec's expression error -> unbound/null."""
        for _, col, alias, deps in proj_exprs:
            if alias in df.columns:
                raise SparqlSyntaxError(
                    f"SELECT expression alias ?{alias} is already "
                    "an in-scope variable (spec §18.2.4.4)")
            if deps <= set(df.columns):
                df = df.withColumn(alias, col)
            elif strict:
                missing = sorted(deps - set(df.columns))
                raise SparqlSyntaxError(
                    "SELECT expression references non-grouped "
                    f"variables {missing}")
            else:
                df = df.withColumn(alias, F.lit(None).cast("string"))
        return df

    if aggs or group_by:
        bad = sorted(set(plain) - set(group_by))
        if bad:
            raise SparqlSyntaxError(
                f"non-grouped variables in aggregate SELECT: {bad}")
        exprs = []
        for _, fn, agg_distinct, var, alias, sep in aggs:
            if var is None:  # COUNT(*)
                col = F.lit(1)
            else:
                if var not in out.columns:
                    raise SparqlSyntaxError(f"unbound variable ?{var}")
                col = F.col(var)
            if fn == "GROUP_CONCAT":
                # the spec leaves concatenation order undefined; sort
                # the collected values so the result is deterministic
                # (and oracle-replayable with string_agg ORDER BY)
                vals = F.collect_list(col)
                if agg_distinct:
                    vals = F.array_distinct(vals)
                expr = F.array_join(F.sort_array(vals), sep)
            elif fn == "SAMPLE":
                # any value is a valid SAMPLE; min is the
                # deterministic choice
                expr = F.min(col)
            elif agg_distinct:
                if fn != "COUNT":
                    raise SparqlSyntaxError(
                        f"{fn}(DISTINCT) not in subset")
                expr = F.countDistinct(col)
            else:
                expr = _AGG_FN[fn](col)
            exprs.append(expr.alias(alias))
        missing = [v for v in group_by if v not in out.columns]
        if missing:
            raise SparqlSyntaxError(f"unbound GROUP BY variables {missing}")
        out = (out.groupBy(*group_by).agg(*exprs) if group_by
               else out.agg(*exprs))
        # (expr AS ?v) over the grouped result: references are group
        # keys / aggregate aliases / hidden __iagg inline-aggregate
        # columns (computed just above, projected away below).
        # Applied BEFORE HAVING so a `(AGG() AS ?v)` alias — which
        # compiles through this path — stays referenceable there.
        out = apply_proj_exprs(out, strict=True)
        if having is not None:  # references group vars / agg aliases
            out = out.where(having)
        if select_items:  # project in the written SELECT order,
            # hidden __iagg columns riding along until after ORDER BY
            # (which may reference one) — dropped at the end
            out = out.select(*[_item_alias(it) for it in select_items])
    elif select_items:
        missing = [v for v in plain if v not in out.columns]
        if missing:
            raise SparqlSyntaxError(f"unbound SELECT variables {missing}")
        out = apply_proj_exprs(out, strict=False)
        # carry each projected variable's term-metadata companions
        # when present (keep_kinds subqueries feeding CONSTRUCT/
        # UPDATE templates): they mirror the variable 1:1, so
        # DISTINCT semantics are unchanged
        proj = []
        for it in select_items:
            v = _item_alias(it)
            proj.append(v)
            if it[0] == "var":
                proj.extend(f"{v}{s}" for s in _META_SUFFIXES
                            if f"{v}{s}" in out.columns)
        out = out.select(*proj)
    hidden = [it[4] for it in select_items
              if it[0] == "agg" and not _visible_item(it)]
    if distinct:
        if hidden:
            # hidden inline-aggregate carriers must not take part in
            # row dedup (two groups agreeing on every VISIBLE column
            # are one distinct row); ORDER BY cannot reference them
            # under DISTINCT (parse-time error), so drop them first
            out = out.drop(*hidden)
            hidden = []
        out = out.distinct()
    if order:
        out = out.orderBy(*[
            (F.col(v) if isinstance(v, str) else v).desc() if desc
            else (F.col(v) if isinstance(v, str) else v).asc()
            for v, desc in order])
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    if hidden:
        # inline-aggregate carriers: computed with the group, usable
        # by projection exprs / HAVING / ORDER BY, never output
        out = out.drop(*hidden)
    return out


def sparql_construct(
    triples: DataFrame, query: str, path_max_rounds: int = 16
) -> DataFrame:
    """Run a SPARQL CONSTRUCT over the canonical triple table -> a NEW
    triple table (7-column core), deduplicated (CONSTRUCT builds a
    graph: set semantics).

    The WHERE group supports the full SELECT subset (BGP, paths,
    FILTER, OPTIONAL, UNION, VALUES). Template instantiation is ONE
    pass over the bindings: every template triple becomes a struct in
    an array column, invalid instantiations are nulled in place and
    filtered inside the array, then a single ``explode`` emits the
    graph — no per-template re-scan of the bindings.

    Spec conformance on invalid instantiations (silently omitted, per
    SPARQL 1.1 §16.2): rows where any template variable is unbound
    (OPTIONAL miss / UNION branch), where a subject variable is bound
    to a literal, or where a predicate variable is bound to anything
    but an IRI.  Term metadata flows through: an object variable
    bound to a literal keeps its datatype/lang (bgp_match
    keep_kinds); variables bound by property-path patterns carry no
    kind column and default to IRI (paths traverse the graph, so
    non-tail path bindings are IRIs; a literal path tail constructed
    into an object keeps its lexical form but drops datatype/lang —
    documented limitation).
    """
    (template, limit), b = _compile(triples, query, ("CONSTRUCT",),
                                    path_max_rounds)
    out = _instantiate(b, template)
    return out.limit(limit) if limit is not None else out


def _instantiate(b: DataFrame, template) -> DataFrame:
    """Instantiate a tagged (s, p, o) template over bindings ``b`` ->
    a deduplicated 7-column triple table (ONE explode pass; invalid
    instantiations nulled in place per SPARQL 1.1 §16.2 — shared by
    CONSTRUCT and the UPDATE forms)."""
    from ..terms import KIND_IRI, KIND_LITERAL

    cols = set(b.columns)

    null_s = F.lit(None).cast("string")
    XSD = "http://www.w3.org/2001/XMLSchema#"

    def piece(term, position):
        """-> (lex, kind, datatype, lang, valid) Columns for one
        template term in subj/pred/obj position."""
        tag, v = term
        if tag == "var":
            if v not in cols:
                raise SparqlSyntaxError(
                    f"template variable ?{v} not bound in WHERE")
            lex = F.col(v)
            if f"{v}__kind" in cols:
                kind = F.coalesce(F.col(f"{v}__kind"), F.lit(KIND_IRI))
                dt, lang = F.col(f"{v}__datatype"), F.col(f"{v}__lang")
            else:
                kind, dt, lang = F.lit(KIND_IRI), null_s, null_s
            valid = lex.isNotNull()
            if position == "subj":
                valid = valid & (kind != KIND_LITERAL)
            elif position == "pred":
                valid = valid & (kind == KIND_IRI)
            return lex, kind, dt, lang, valid
        if tag == "iri":
            return F.lit(v), F.lit(KIND_IRI), null_s, null_s, F.lit(True)
        if position != "obj":
            raise SparqlSyntaxError(
                f"literal {v!r} only allowed in object position")
        dt = {"lit": null_s,
              "num": F.lit(XSD + ("integer" if "." not in v else "decimal")),
              "bool": F.lit(XSD + "boolean")}[tag]
        return F.lit(v), F.lit(KIND_LITERAL), dt, null_s, F.lit(True)

    structs = []
    for s, p, o in template:
        s_lex, s_kind, _, _, s_ok = piece(s, "subj")
        p_lex, _, _, _, p_ok = piece(p, "pred")
        o_lex, o_kind, o_dt, o_lang, o_ok = piece(o, "obj")
        structs.append(F.when(s_ok & p_ok & o_ok, F.struct(
            s_kind.cast("tinyint").alias("subj_kind"),
            s_lex.alias("subj"),
            p_lex.alias("pred"),
            o_kind.cast("tinyint").alias("obj_kind"),
            o_lex.alias("obj_lex"),
            o_dt.alias("obj_datatype"),
            o_lang.alias("obj_lang"),
        )))
    arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
    return (
        b.select(F.explode(arr).alias("t"))
        .select([F.col(f"t.{c}").alias(c) for c in (
            "subj_kind", "subj", "pred", "obj_kind", "obj_lex",
            "obj_datatype", "obj_lang")])
        .distinct()
    )


def sparql_update(
    triples: DataFrame, update: str, path_max_rounds: int = 16
) -> DataFrame:
    """Apply a SPARQL UPDATE operation -> a NEW triple table (the
    input is never mutated — functional semantics matching Spark
    immutability and the Iceberg snapshot model; the caller writes
    the result as the next snapshot).

    Forms (one operation per call; ``;``-sequences out of subset):

    - ``INSERT DATA { constant triples }`` -> unionByName append,
    - ``DELETE DATA { constant triples }`` -> left-anti equi-join on
      (subj, pred, obj_lex) — lexical-form matching, the engine's
      documented equality,
    - ``[DELETE { template }] [INSERT { template }] WHERE { group }``
      -> the WHERE bindings are computed ONCE against the ORIGINAL
      graph (spec §3.1.3 evaluation order), both templates
      instantiate via the shared CONSTRUCT kernel (one explode pass
      each), deletes apply before inserts.

    Inserted rows carry null url/graph provenance columns (they were
    never parsed from a page); deletes remove ALL equal rows (set
    semantics, reference Graph.Remove graph.go:41-48 — production
    target is an Iceberg MERGE row-level delete).
    """
    from .graphops import add, remove

    (dele, ins), b = _compile(triples, update, ("INSERT", "DELETE"),
                              path_max_rounds)
    out = triples
    if dele is not None:
        out = remove(out, _instantiate(b, dele))
    if ins is not None:
        out = add(out, _instantiate(b, ins))
    return out


def sparql_ask(
    triples: DataFrame, query: str, path_max_rounds: int = 16
) -> bool:
    """Run a SPARQL ASK: ``[prologue] ASK { group }`` -> Python bool.

    Compiles the group exactly like SELECT and probes for ONE row
    (``limit(1).isEmpty()`` — Spark stops the scan at first match);
    this is the single deliberately-eager entry point in the module,
    because ASK's result IS a scalar.
    """
    _, out = _compile(triples, query, ("ASK",), path_max_rounds)
    return not out.limit(1).isEmpty()


def sparql_describe(
    triples: DataFrame, query: str, path_max_rounds: int = 16
) -> DataFrame:
    """Run a SPARQL DESCRIBE -> every triple whose subject OR object
    is a described resource (simple symmetric Concise Bounded
    Description, the common store default).

    Forms: ``DESCRIBE <iri> [<iri> ...]`` and
    ``DESCRIBE ?v [?v ...] WHERE { group }``.  Constant IRIs become
    pushed-down scan filters; variable describes semi-join the triple
    table against the DISTINCT bindings (broadcast when small — the
    resource list is usually tiny next to the graph).
    """
    (iris, vars_), b = _compile(triples, query, ("DESCRIBE",),
                                path_max_rounds)
    missing = [v for v in vars_ if v not in b.columns]
    if missing:
        raise SparqlSyntaxError(f"unbound DESCRIBE variables {missing}")
    nodes = None  # 1-column DataFrame of described resources
    for v in vars_:
        sel = b.select(F.col(v).alias("__node")).where(
            F.col("__node").isNotNull())
        nodes = sel if nodes is None else nodes.unionByName(sel)
    out = None
    if iris:
        out = triples.where(
            F.col("subj").isin(iris) | F.col("obj_lex").isin(iris))
    if nodes is not None:
        bn = F.broadcast(nodes.distinct())
        by_subj = triples.join(
            bn, triples["subj"] == bn["__node"], "left_semi")
        by_obj = triples.join(
            bn, triples["obj_lex"] == bn["__node"], "left_semi")
        var_part = by_subj.unionByName(by_obj)
        out = var_part if out is None else out.unionByName(var_part)
    return out.distinct()
