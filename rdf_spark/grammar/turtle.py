"""Turtle parser + evaluator (W3C RDF 1.1 Turtle).

Recursive-descent PEG parser (ordered choice, commit-on-success) with
regex-matched terminals, plus the evaluator that lowers the statement
AST to flat N-Triples terms. Pure Python: runs inside Arrow-batched
Spark UDFs, one document per call.

Parity notes vs the reference (0x51-dev/rdf, /root/reference):
- grammar structure and whitespace placement: turtle/grammar/grammar.go
  (WSPLNC vs space-tab-only OWhitespace positions are replicated exactly,
  e.g. only [ \t]* before a ',' in an object list and between the prefix
  name and IRI of a @prefix directive)
- evaluation: turtle/evaluate.go — IRI resolution incl. the simplified
  base algorithm (truncate at last '/' unless base ends '/' or '#', no
  RFC-3986 dot-segment handling; evaluate.go:110-118), relative @base
  and @prefix plain concatenation (evaluate.go:458-469), prefixed-name
  local-part re-escaping (unescaped '.' -> \\u002E, 0x7F..0xFFFF ->
  \\uXXXX uppercase, >0xFFFF -> \\UXXXXXXXX; evaluate.go:133-150), string
  literal escape canonicalization (evaluate.go:256-340), numeric/boolean
  typing (evaluate.go:156-172, 37-43), collection and bnode-property-
  list expansion (evaluate.go:15-35, 45-88, 342-452)
- validation (negative-syntax gate): every *used* prefixed name's prefix
  must be declared; datatype IRIs are NOT checked, matching
  turtle/validate.go:69-83

Deliberate deviations (documented; none observable through the W3C
eval goldens, which are the ground truth for our P/R gate):
1. No statement-level sort after parse (reference turtle/doc.go:339
   sorts with a non-transitive comparator whose effect is label-only).
2. Collections emit a *correct* rdf:first/rdf:rest chain. The reference
   aliases one Go variable as every rest-pointer target
   (turtle/evaluate.go:70-77), which accidentally yields correct chains
   for <=2 elements (all the eval suite exercises) and disconnected
   cells for >=3; we emit the correct chain for any length.
3. An object-position blankNodePropertyList allocates ONE blank node
   for the whole list per the W3C spec; the reference allocates one per
   predicate-object pair (turtle/evaluate.go:15-35), a quirk no eval
   test observes.
4. String escapes are read with backslash parity: the body is split on
   escaped backslashes (``\\\\``), and every other backslash starts an
   escape. Six classes of string literal therefore denote their value:
   ECHAR ``\\"`` in a single-line string (was ``\\\\"``), ``\\\\b`` and
   ``\\\\f`` (were ``\\\\u0008`` and ``\\\\u000C``), ``\\\\"`` in a long
   string (was ``\\\\"`` with a bare quote), and UCHAR ``"`` and ``\\``
   (were a bare quote and a bare backslash). Each old form spells
   another value or is no valid N-Triples, and the W3C eval goldens are
   valid N-Triples compared lexically, so no eval test can contain
   one. Spellings that denote the right value are kept as the reference
   writes them: ``\\'`` stays ``\\'``, a UCHAR control stays
   ``\\uXXXX`` (``\\u0009``, not ``\\t``) and UCHAR U+FFFF is written
   ``\\U0000FFFF``. Raw characters are spelled by the one escape table,
   ``chars.BODY_ESCAPES``.
"""

from __future__ import annotations

import re

from .chars import (
    BNODE_LABEL,
    BODY_ESCAPES,
    ECHAR,
    HEX,
    IRIREF_BODY,
    LANGTAG,
    PN_CHARS,
    PN_CHARS_BASE,
    PN_CHARS_U,
    STRING_BODY_DQ,
    UCHAR,
    UCHAR_RE,
    unescape_unicode,
    unrolled,
)
from .ntriples import RDFSyntaxError
from ..terms import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
)

__all__ = [
    "RDFSyntaxError",
    "RDFEvalError",
    "parse_document",
    "evaluate_document",
    "validate_document",
    "parse_and_evaluate",
]


class RDFEvalError(ValueError):
    """Raised when a well-formed document cannot be evaluated
    (undefined prefix, invalid resolved IRI, ...)."""


# --- terminals --------------------------------------------------------------

_IRIREF_RE = re.compile(rf"<({IRIREF_BODY})>")
_IRIREF_FULL_RE = re.compile(rf"(?:{IRIREF_BODY})\Z")

_PLX = rf"%[{HEX}]{{2}}|\\[_~.\-!$&'()*+,;=/?#@%]"
_PN_PREFIX = rf"[{PN_CHARS_BASE}](?:[{PN_CHARS}.]*[{PN_CHARS}])?"
_PNAME_NS = rf"(?:{_PN_PREFIX})?:"
# PN_LOCAL ::= (PN_CHARS_U | ':' | [0-9] | PLX)
#              ((PN_CHARS | '.' | ':' | PLX)* (PN_CHARS | ':' | PLX))?
# as a possessive run: a run of dots is taken only where the name goes
# on after it, so the name never ends with '.' and needs no backtracking
_PN_LOCAL = rf"(?:[{PN_CHARS_U}:0-9]|{_PLX})" + unrolled(
    rf"{PN_CHARS}:", rf"{_PLX}|\.++(?=[{PN_CHARS}:]|{_PLX})"
)
_PREFIXED_NAME_RE = re.compile(rf"(?!_:)({_PNAME_NS})((?:{_PN_LOCAL})?)")
_PNAME_NS_RE = re.compile(_PNAME_NS)
_BNODE_RE = re.compile(rf"_:({BNODE_LABEL})")
_ANON_RE = re.compile(r"\[[ \t\r\n]*\]")
_LANGTAG_RE = re.compile(rf"@({LANGTAG})")

_INTEGER_RE = re.compile(r"[+-]?[0-9]+")
_DECIMAL_RE = re.compile(r"[+-]?[0-9]*\.[0-9]+")
_DOUBLE_RE = re.compile(
    r"[+-]?(?:[0-9]+\.[0-9]*[eE][+-]?[0-9]+|\.?[0-9]+[eE][+-]?[0-9]+)"
)
_BOOLEAN_RE = re.compile(r"true|false")

_STRING_DQ_RE = re.compile(rf"\"({STRING_BODY_DQ})\"")
_STRING_BODY_SQ = unrolled(r"^'\\\n\r", rf"{ECHAR}|{UCHAR}")
_STRING_SQ_RE = re.compile(rf"'({_STRING_BODY_SQ})'")
# long strings: (('"' | '""')? ([^"\\] | ECHAR | UCHAR))* — content can
# never end with a quote (grammar quirk = spec). A quote run inside the
# body is always followed by a non-quote, so the possessive run is the
# only way to reach the closing delimiter.
_STRING_BODY_LQ = unrolled(r'^"\\', rf'(?:""|")?(?:{ECHAR}|{UCHAR})|(?:""|")[^"\\]')
_STRING_LQ_RE = re.compile(rf'"""({_STRING_BODY_LQ})"""')
_STRING_BODY_LSQ = unrolled(r"^'\\", rf"(?:''|')?(?:{ECHAR}|{UCHAR})|(?:''|')[^'\\]")
_STRING_LSQ_RE = re.compile(rf"'''({_STRING_BODY_LSQ})'''")

# evaluator fast paths: inputs whose canonicalization is the identity
# (printable ASCII; no backslash; no '.' for PN_LOCAL / no '"' for
# string bodies) skip the escape canonicalizations in Context
_SIMPLE_LOCAL_RE = re.compile(r"[\x20-\x2D\x2F-\x5B\x5D-\x7E]*\Z")
_PLAIN_LEX_RE = re.compile(r"[\x20-\x21\x23-\x5B\x5D-\x7E]*\Z")
# a string body read in chunks of at most 256 escapes or runs of other
# chars: a chunk never ends inside an escape, and the pieces the
# evaluator holds at once stay few however dense the escapes are
_BODY_CHUNK_RE = re.compile(rf"(?:[^\\]{{1,4096}}|{UCHAR}|\\.){{1,256}}+", re.S)

_OWS_RE = re.compile(r"[ \t]*")
# WSPLNC ::= (Whitespace | EndOfLine | Comment)*
_WSPLNC_RE = re.compile(r"(?:[ \t\r\n]+|#[^\r\n]*)*")
_COMMENT_RE = re.compile(r"[ \t]*#[^\r\n]*")
_EOL_RE = re.compile(r"\r\n|\r|\n")
_PREFIX_KW_RE = re.compile(r"[Pp][Rr][Ee][Ff][Ii][Xx]")
_BASE_KW_RE = re.compile(r"[Bb][Aa][Ss][Ee]")


# --- AST --------------------------------------------------------------------
# statements: ("base", iri) | ("prefix", name_with_colon, iri)
#   | ("triples", subject_or_None, bnpl_pol_or_None, pol)
#   | TriG only (grammar/trig.py): ("graph", label_or_None, [triples...])
# terms: ("iri", value, prefixed) | ("bnode", label_or_"[]")
#   | ("coll", [obj...]) | ("bnpl", pol)
#   | ("str", value, lang, datatype_iri_or_None)
#   | ("num", lexical, kind) | ("bool", "true"/"false")
# pol: [(verb, [obj...])...]; verb: ("iri", v, p) | ("a",)


class _Parser:
    __slots__ = ("s", "i", "n")

    def __init__(self, s: str):
        self.s = s
        self.i = 0
        self.n = len(s)

    # -- helpers --
    def _rx(self, rx):
        m = rx.match(self.s, self.i)
        if m is None:
            return None
        self.i = m.end()
        return m

    def _lit(self, lit: str) -> bool:
        if self.s.startswith(lit, self.i):
            self.i += len(lit)
            return True
        return False

    def _ows(self):
        m = _OWS_RE.match(self.s, self.i)
        self.i = m.end()

    def _wsplnc(self):
        # cheap guard: the regex only consumes whitespace/comments
        c = self.s[self.i: self.i + 1]
        if c == " " or c == "\n" or c == "\t" or c == "\r" or c == "#":
            self.i = _WSPLNC_RE.match(self.s, self.i).end()

    def fail(self, what: str):
        frag = self.s[self.i : self.i + 32]
        raise RDFSyntaxError(f"turtle: expected {what} at offset {self.i}: {frag!r}")

    # -- document --
    # The statement production (Turtle: triples + '.'); a subclass
    # grammar overrides try_statement() and names it here for errors.
    STATEMENT = "triples"

    def parse_document(self):
        stmts = []
        while self.i < self.n:
            self._ows()
            if self.i >= self.n:
                break
            # directives start with '@' or (case-insensitive) P/B — skip
            # the four probe attempts for the common triple statement
            if self.s[self.i] in "@PpBb":
                d = self.try_directive()
                if d is not None:
                    stmts.append(d)
                    continue
            t = self.try_statement()
            if t is not None:
                stmts.append(t)
                continue
            # (Comment? EOL)
            _COMMENT_RE.match(self.s, self.i) and self._rx(_COMMENT_RE)
            if self._rx(_EOL_RE) is None:
                self.fail(f"directive, {self.STATEMENT}, or end of line")
        return stmts

    def try_statement(self):
        t = self.try_triples()
        if t is not None:
            self._wsplnc()
            if not self._lit("."):
                self.fail("'.' after triples")
        return t

    # -- directives --
    def try_directive(self):
        start = self.i
        # @prefix PNAME_NS <iri> .
        if self._lit("@prefix"):
            self._wsplnc()
            m = self._rx(_PNAME_NS_RE)
            if m is not None:
                name = m.group(0)
                self._ows()
                mi = self._rx(_IRIREF_RE)
                if mi is not None:
                    self._ows()
                    if self._lit("."):
                        return ("prefix", name, mi.group(1))
            self.i = start
            return None
        if self._lit("@base"):
            self._wsplnc()
            mi = self._rx(_IRIREF_RE)
            if mi is not None:
                self._ows()
                if self._lit("."):
                    return ("base", mi.group(1))
            self.i = start
            return None
        # SPARQL forms: no trailing dot; only [ \t]* between tokens
        if self._rx(_PREFIX_KW_RE) is not None:
            self._ows()
            m = self._rx(_PNAME_NS_RE)
            if m is not None:
                self._ows()
                mi = self._rx(_IRIREF_RE)
                if mi is not None:
                    return ("prefix", m.group(0), mi.group(1))
            self.i = start
            return None
        if self._rx(_BASE_KW_RE) is not None:
            self._ows()
            mi = self._rx(_IRIREF_RE)
            if mi is not None:
                return ("base", mi.group(1))
            self.i = start
            return None
        return None

    # -- triples --
    def try_triples(self):
        start = self.i
        subj = self.try_subject()
        if subj is not None:
            self._wsplnc()
            pol = self.try_predicate_object_list()
            if pol is not None:
                return ("triples", subj, None, pol)
            self.i = start
        bnpl = self.try_bnpl()
        if bnpl is not None:
            mark = self.i
            self._wsplnc()
            pol = self.try_predicate_object_list()
            if pol is None:
                self.i = mark
                pol = []
            return ("triples", None, bnpl[1], pol)
        self.i = start
        return None

    def try_subject(self):
        t = self.try_iri()
        if t is not None:
            return t
        t = self.try_blank_node()
        if t is not None:
            return t
        return self.try_collection()

    def try_iri(self):
        # '<' can only start an IRIREF and never a prefixed name, so
        # exactly one regex runs per attempt
        if self.s[self.i: self.i + 1] == "<":
            m = self._rx(_IRIREF_RE)
            if m is not None:
                return ("iri", m.group(1), False)
            return None
        m = self._rx(_PREFIXED_NAME_RE)
        if m is not None:
            return ("iri", m.group(0), True)
        return None

    def try_blank_node(self):
        m = self._rx(_BNODE_RE)
        if m is not None:
            return ("bnode", m.group(1))
        m = self._rx(_ANON_RE)
        if m is not None:
            return ("bnode", "[]")
        return None

    def try_collection(self):
        start = self.i
        if not self._lit("("):
            return None
        self._wsplnc()
        objs = []
        while True:
            o = self.try_object()
            if o is None:
                break
            objs.append(o)
            self._wsplnc()
        if not self._lit(")"):
            self.i = start
            return None
        return ("coll", objs)

    def try_bnpl(self):
        start = self.i
        if not self._lit("["):
            return None
        self._wsplnc()
        pol = self.try_predicate_object_list()
        if pol is None:
            self.i = start
            return None
        self._wsplnc()
        if not self._lit("]"):
            self.i = start
            return None
        return ("bnpl", pol)

    def try_predicate_object_list(self):
        po = self.try_predicate_object()
        if po is None:
            return None
        pol = [po]
        while True:
            mark = self.i
            self._wsplnc()
            if not self._lit(";"):
                self.i = mark
                break
            mark2 = self.i
            self._wsplnc()
            po = self.try_predicate_object()
            if po is None:
                self.i = mark2
            else:
                pol.append(po)
        return pol

    def try_predicate_object(self):
        start = self.i
        verb = self.try_verb()
        if verb is None:
            return None
        self._wsplnc()
        ol = self.try_object_list()
        if ol is None:
            self.i = start
            return None
        return (verb, ol)

    def try_verb(self):
        v = self.try_iri()
        if v is not None:
            return v
        if self._lit("a"):
            return ("a",)
        return None

    def try_object_list(self):
        o = self.try_object()
        if o is None:
            return None
        objs = [o]
        while True:
            mark = self.i
            self._ows()  # only space/tab before ',' (grammar quirk = spec)
            if not self._lit(","):
                self.i = mark
                break
            self._wsplnc()
            o = self.try_object()
            if o is None:
                self.fail("object after ','")
            objs.append(o)
        return objs

    def try_object(self):
        t = self.try_literal()
        if t is not None:
            return t
        t = self.try_iri()
        if t is not None:
            return t
        t = self.try_blank_node()
        if t is not None:
            return t
        t = self.try_collection()
        if t is not None:
            return t
        bnpl = self.try_bnpl()
        if bnpl is not None:
            return bnpl
        return None

    def try_literal(self):
        # RDFLiteral first, then numeric (Double > Decimal > Integer),
        # boolean. First-char guards skip regex attempts that cannot
        # match (hot path; the guarded regexes only match these chars).
        c = self.s[self.i: self.i + 1]
        if c == '"' or c == "'":
            return self.try_rdf_literal()
        if c in "+-.0123456789":
            m = self._rx(_DOUBLE_RE)
            if m is not None:
                return ("num", m.group(0), "double")
            m = self._rx(_DECIMAL_RE)
            if m is not None:
                return ("num", m.group(0), "decimal")
            m = self._rx(_INTEGER_RE)
            if m is not None:
                return ("num", m.group(0), "integer")
            return None
        if c == "t" or c == "f":
            m = self._rx(_BOOLEAN_RE)
            if m is not None:
                return ("bool", m.group(0))
        return None

    def try_rdf_literal(self):
        # String order per grammar: LSQ | LQ | DQ | SQ; dispatch on the
        # quote kind first so each attempt runs at most two regexes
        if self.s[self.i: self.i + 1] == '"':
            m = self._rx(_STRING_LQ_RE) or self._rx(_STRING_DQ_RE)
        else:
            m = self._rx(_STRING_LSQ_RE) or self._rx(_STRING_SQ_RE)
        if m is None:
            return None
        value = m.group(1)
        lm = self._rx(_LANGTAG_RE)
        if lm is not None:
            return ("str", value, lm.group(1), None)
        if self._lit("^^"):
            dt = self.try_iri()
            if dt is None:
                self.fail("datatype IRI after '^^'")
            return ("str", value, None, dt)
        return ("str", value, None, None)


def parse_document(doc: str):
    """Parse a Turtle document -> list of statement AST nodes
    (document order preserved; see deviation #1 in module docstring)."""
    if not doc:
        return []
    if not doc.endswith("\n"):
        doc += "\n"
    return _Parser(doc).parse_document()


# --- evaluation -------------------------------------------------------------


def _uchar_lex(m):
    """One UCHAR of a string body: printable ASCII as its char (a
    backslash as ``\\\\``), any other code point as \\uXXXX
    (\\UXXXXXXXX from U+FFFF up)."""
    n = int(m.group()[2:], 16)
    if 0x1F < n < 0x7F:
        return "\\\\" if n == 0x5C else chr(n)
    return f"\\u{n:04X}" if n < 0xFFFF else f"\\U{n:08X}"


def _canonical_chunk(c):
    # between escaped backslashes every backslash starts an escape
    return "\\\\".join([_canonical_piece(p) for p in c.split("\\\\")])


def _canonical_piece(p):
    """A string body between two escaped backslashes -> its canonical
    lexical form. Every backslash in ``p`` starts an ECHAR or a UCHAR:
    ``\\"`` is read as ``"``, ``\\b``/``\\f`` as their characters, each
    UCHAR per ``_uchar_lex``; the table then spells the raw characters
    and leaves the other escapes as written."""
    p = p.replace('\\"', '"').replace("\\b", "\b").replace("\\f", "\f")
    if "\\u" in p or "\\U" in p:
        p = UCHAR_RE.sub(_uchar_lex, p)
    return p.translate(BODY_ESCAPES)


def _escape_local(run):
    """A PN_LOCAL run between PLX escapes, spelled by the table, with
    each '.' as \\u002E."""
    return run.translate(BODY_ESCAPES).replace(".", "\\u002E")


class Context:
    """Per-document evaluation state (reference turtle/context.go:8-29)."""

    __slots__ = ("base", "prefixes", "bn_i", "el_i", "iri_cache")

    def __init__(self, base: str = ""):
        self.base = base
        self.prefixes: dict[str, str] = {}
        self.bn_i = 0
        self.el_i = 0
        # memoized evaluate_iri results; MUST be cleared whenever base
        # or a prefix binding changes (redefinition mid-document)
        self.iri_cache: dict = {}

    def bn(self):
        self.bn_i += 1
        return ("b", f"b{self.bn_i}")

    def el(self):
        self.el_i += 1
        return ("b", f"el{self.el_i}")

    # E2: IRI resolution (turtle/evaluate.go:90-154)
    def evaluate_iri(self, node):
        _, value, prefixed = node
        # key must carry the prefixed flag: <ex:n> (absolute IRIREF)
        # and ex:n (prefixed name) share the same lexical value
        key = (prefixed, value)
        got = self.iri_cache.get(key)
        if got is not None:
            return got
        term = self._evaluate_iri_uncached(value, prefixed)
        self.iri_cache[key] = term
        return term

    def _evaluate_iri_uncached(self, value, prefixed):
        if not prefixed:
            v = value
            if "\\u" in v or "\\U" in v:
                v = unescape_unicode(v)
            if _IRIREF_FULL_RE.match(v) is None:
                raise RDFEvalError(f"invalid IRI <{v}>")
            r = v.replace("\\", "")
            if ":" not in r:
                base = self.base
                if not base.endswith("/") and not base.endswith("#"):
                    base = base[: base.rfind("/") + 1]
                return ("i", base + r)
            return ("i", r)
        idx = value.find(":")
        if idx < 0:
            raise RDFEvalError(f"invalid prefixed IRI {value!r}")
        prefix_key, local = value[: idx + 1], value[idx + 1 :]
        prefix = self.prefixes.get(prefix_key)
        if prefix is None:
            raise RDFEvalError(f"prefix {prefix_key!r} not defined")
        # fast path: printable-ASCII local with no '\' and no '.' is
        # emitted verbatim by the code below (hot: most locals)
        if _SIMPLE_LOCAL_RE.match(local) is not None:
            return ("i", prefix + local)
        # each backslash is dropped and the char after it kept as is; an
        # unescaped '.' becomes \u002E
        first, *rest = local.split("\\")
        return ("i", prefix + "".join(
            [_escape_local(first)] + [p[:1] + _escape_local(p[1:]) for p in rest]))

    # E10: string literal escape canonicalization (turtle/evaluate.go:256-340)
    def evaluate_string(self, node):
        _, v, lang, dt = node
        # fast path: printable-ASCII with no '\' and no '"' is its own
        # canonical form — every transform below is an identity on it
        if _PLAIN_LEX_RE.match(v) is not None:
            if lang:
                return ("l", v, None, lang)
            if dt is not None:
                return ("l", v, self.evaluate_iri(dt)[1], None)
            return ("l", v, None, None)
        lex = "".join([_canonical_chunk(m.group()) for m in _BODY_CHUNK_RE.finditer(v)])
        if lang:
            return ("l", lex, None, lang)
        if dt is not None:
            dt_iri = self.evaluate_iri(dt)
            return ("l", lex, dt_iri[1], None)
        return ("l", lex, None, None)

    _NUM_DT = {"integer": XSD_INTEGER, "decimal": XSD_DECIMAL, "double": XSD_DOUBLE}

    # returns the object term; the triples of a nested collection or
    # property list are appended to `out` first
    def evaluate_object(self, node, out):
        k = node[0]
        if k == "iri":
            return self.evaluate_iri(node)
        if k == "bnode":
            return self.bn() if node[1] == "[]" else ("b", node[1])
        if k == "str":
            return self.evaluate_string(node)
        if k == "num":
            return ("l", node[1], self._NUM_DT[node[2]], None)
        if k == "bool":
            return ("l", node[1], XSD_BOOLEAN, None)
        if k == "coll":
            return self.evaluate_collection(node[1], out)
        if k == "bnpl":
            # single blank node for the whole list (deviation #3)
            b = self.bn()
            self.emit(b, node[1], out)
            return b
        raise RDFEvalError(f"unknown object node {k!r}")

    def evaluate_collection(self, items, out):
        """rdf:first/rdf:rest cons chain; empty -> rdf:nil
        (correct chain for any length; deviation #2)."""
        objects = [self.evaluate_object(o, out) for o in items]
        if not objects:
            return ("i", RDF_NIL)
        cells = [self.el() for _ in objects]
        for cell, o, rest in zip(cells, objects, cells[1:] + [("i", RDF_NIL)]):
            out.append((cell, ("i", RDF_FIRST), o))
            out.append((cell, ("i", RDF_REST), rest))
        return cells[0]

    def emit(self, subject, pol, out):
        """Append `subject`'s predicate-object list to `out`, each triple
        after the nested triples of its object."""
        for verb, objs in pol:
            p = ("i", RDF_TYPE) if verb[0] == "a" else self.evaluate_iri(verb)
            for o in objs:
                ot = self.evaluate_object(o, out)
                out.append((subject, p, ot))

    def evaluate_triples(self, stmt, out):
        _, subj, bnpl_pol, pol = stmt
        if subj is None:
            self.emit(self.bn(), bnpl_pol + pol, out)
        elif subj[0] != "coll" or subj[1]:
            # an empty subject collection drops the statement entirely
            # (reference turtle/evaluate.go:371-373)
            self.emit(self.evaluate_object(subj, out), pol, out)


def evaluate_document(stmts, base: str = ""):
    """Statement AST -> flat triples in document order (reference
    turtle/evaluate.go:454-482; `base` = the reference's `cwd`)."""
    ctx = Context(base)
    out = []
    for stmt in stmts:
        k = stmt[0]
        if k == "base":
            v = stmt[1]
            # relative base: plain concatenation (evaluate.go:460-463)
            ctx.base = ctx.base + v if ":" not in v else v
            ctx.iri_cache.clear()
        elif k == "prefix":
            _, name, iri_v = stmt
            if ":" not in iri_v:
                iri_v = ctx.base + iri_v
            ctx.prefixes[name] = iri_v
            ctx.iri_cache.clear()
        elif k == "triples":
            ctx.evaluate_triples(stmt, out)
        else:
            raise RDFEvalError(f"unknown statement {k!r}")
    return out


def _walk_iris(node, hit):
    k = node[0]
    if k == "iri":
        hit(node)
    elif k == "coll":
        for o in node[1]:
            _walk_iris(o, hit)
    elif k == "bnpl":
        for verb, objs in node[1]:
            if verb[0] == "iri":
                hit(verb)
            for o in objs:
                _walk_iris(o, hit)
    # str datatype IRIs intentionally NOT validated (turtle/validate.go:69-83)


def validate_document(stmts) -> bool:
    """Prefix-definedness check without producing triples
    (reference turtle/validate.go)."""
    prefixes: set[str] = set()
    ok = True

    def hit(node):
        nonlocal ok
        _, value, prefixed = node
        if prefixed:
            idx = value.find(":")
            if idx < 0 or value[: idx + 1] not in prefixes:
                ok = False

    for stmt in stmts:
        k = stmt[0]
        if k == "prefix":
            prefixes.add(stmt[1])
        elif k == "triples":
            _, subj, bnpl_pol, pol = stmt
            if subj is not None:
                _walk_iris(subj, hit)
            for verb, objs in (bnpl_pol or []) + pol:
                if verb[0] == "iri":
                    hit(verb)
                for o in objs:
                    _walk_iris(o, hit)
        if not ok:
            return False
    return ok


def parse_and_evaluate(doc: str, base: str = ""):
    """Convenience: text -> triples (the UDF entry point)."""
    return evaluate_document(parse_document(doc), base)
