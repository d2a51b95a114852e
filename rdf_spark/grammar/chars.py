"""Character classes and escape helpers for the W3C RDF 1.1 grammars.

Implements, from the public W3C EBNF specs (N-Triples, N-Quads, Turtle,
TriG), the shared terminal character classes plus the unicode-escape
helpers whose behavior must match the reference library
(0x51-dev/rdf) byte-for-byte:

- PN_CHARS_BASE / PN_CHARS_U / PN_CHARS (reference:
  ntriples/grammar/grammar.go:131-156)
- UCHAR / ECHAR (reference: ntriples/grammar/grammar.go:119-129)
- RFC 3987 absolute-IRI + optional fragment validation (reference:
  ntriples/doc.go:192-208, which delegates to the `rids/iri` grammar)
- unicode unescape with Go `strconv.Unquote` error semantics: on any
  invalid escape / surrogate / overflow the *raw* string is used
  (reference: ntriples/doc.go:194-199, turtle/evaluate.go:95-101)
- ``EscapeTable``, the one escape table that spells every literal's
  canonical lexical form: ``terms.escape_literal_lex`` (the extraction
  sources) and the Turtle/TriG evaluator translate through it

Everything here is pure Python (no Spark imports) so it can run inside
Arrow-batched UDFs without pulling in driver-side state.
"""

from __future__ import annotations

import re

# --- W3C terminal character classes (regex fragments) ---------------------

# PN_CHARS_BASE ::= [A-Z] | [a-z] | [#x00C0-#x00D6] | [#x00D8-#x00F6]
#   | [#x00F8-#x02FF] | [#x0370-#x037D] | [#x037F-#x1FFF] | [#x200C-#x200D]
#   | [#x2070-#x218F] | [#x2C00-#x2FEF] | [#x3001-#xD7FF] | [#xF900-#xFDCF]
#   | [#xFDF0-#xFFFD] | [#x10000-#xEFFFF]
PN_CHARS_BASE = (
    "A-Za-z"
    "\u00C0-\u00D6\u00D8-\u00F6\u00F8-\u02FF"
    "\u0370-\u037D\u037F-\u1FFF\u200C-\u200D"
    "\u2070-\u218F\u2C00-\u2FEF\u3001-\uD7FF"
    "\uF900-\uFDCF\uFDF0-\uFFFD"
    "\U00010000-\U000EFFFF"
)
PN_CHARS_U = PN_CHARS_BASE + "_"
PN_CHARS = PN_CHARS_U + "\\-0-9\u00B7\u0300-\u036F\u203F-\u2040"

HEX = "0-9A-Fa-f"
UCHAR = rf"\\u[{HEX}]{{4}}|\\U[{HEX}]{{8}}"
# ECHAR ::= '\' [tbnrf"'\]
ECHAR = r"\\[tbnrf\"'\\]"


def unrolled(chars: str, escape: str) -> str:
    """``([chars] | escape)*`` as an unrolled possessive run,
    ``[chars]*+(?:escape[chars]*+)*+``.

    The plain alternation keeps one backtrack entry per character, so a
    long literal or IRI costs hundreds of bytes of memory per input
    byte; the possessive form keeps none. It always takes the longest run, which
    is the only one that can match wherever the text after the run can
    start with neither a char of ``chars`` nor an escape (true at every
    use here). Possessive quantifiers need Python >= 3.11."""
    return rf"[{chars}]*+(?:(?:{escape})[{chars}]*+)*+"


# IRIREF ::= '<' ([^#x00-#x20<>"{}|^`\] | UCHAR)* '>'
IRIREF_BODY = unrolled(r"^\x00-\x20<>\"{}|^`\\", UCHAR)

# STRING_LITERAL_QUOTE ::= '"' ([^#x22#x5C#xA#xD] | ECHAR | UCHAR)* '"'
STRING_BODY_DQ = unrolled(r"^\"\\\n\r", rf"{ECHAR}|{UCHAR}")

# BLANK_NODE_LABEL ::= '_:' (PN_CHARS_U | [0-9]) ((PN_CHARS | '.')* PN_CHARS)?
BNODE_LABEL = rf"[{PN_CHARS_U}0-9](?:(?:[{PN_CHARS}.])*[{PN_CHARS}])?"

# LANGTAG ::= '@' [a-zA-Z]+ ('-' [a-zA-Z0-9]+)*
LANGTAG = r"[A-Za-z]+(?:-[A-Za-z0-9]+)*"

# --- Unicode escape helpers -----------------------------------------------

UCHAR_RE = re.compile(UCHAR)

# Go escape sequences that strconv.Unquote accepts inside a "..." string.
_GO_SIMPLE_ESCAPES = {
    "a": "\a", "b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t",
    "v": "\v", "\\": "\\", '"': '"',
}


def unescape_unicode(s: str) -> str:
    """Decode ``\\uXXXX`` / ``\\UXXXXXXXX`` escapes, mirroring the
    reference's conditional ``strconv.Unquote`` call.

    Reference behavior (ntriples/doc.go:194-199): only attempted when the
    string contains ``\\u`` or ``\\U``; on *any* decode error the raw
    string is kept. Go rejects surrogate halves and > 0x10FFFF; so do we.
    Go also decodes simple escapes (\\n, \\t, ...) in the same pass and
    fails on unknown escapes — replicated here.
    """
    if "\\u" not in s and "\\U" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        if i + 1 >= n:
            return s  # trailing backslash: Unquote error -> keep raw
        e = s[i + 1]
        if e in ("u", "U"):
            width = 4 if e == "u" else 8
            hexs = s[i + 2 : i + 2 + width]
            if len(hexs) != width or not all(h in "0123456789abcdefABCDEF" for h in hexs):
                return s
            cp = int(hexs, 16)
            if 0xD800 <= cp <= 0xDFFF or cp > 0x10FFFF:
                return s  # Go strconv.Unquote error -> keep raw
            out.append(chr(cp))
            i += 2 + width
        elif e in _GO_SIMPLE_ESCAPES:
            out.append(_GO_SIMPLE_ESCAPES[e])
            i += 2
        elif e == "x":
            hexs = s[i + 2 : i + 4]
            if len(hexs) != 2 or not all(h in "0123456789abcdefABCDEF" for h in hexs):
                return s
            out.append(chr(int(hexs, 16)))
            i += 4
        else:
            return s  # unknown escape: Unquote error -> keep raw
    return "".join(out)


# --- Canonical lexical form -----------------------------------------------


class EscapeTable(dict):
    """The one spelling of "raw character -> canonical lexical form", as a
    ``str.translate`` table (reference turtle/evaluate.go:256-340):
    ``"`` as ``\\"``; tab, LF and CR as ``\\t``, ``\\n``, ``\\r``; other C0
    characters, DEL and non-ASCII as ``\\uXXXX``, above U+FFFF as
    ``\\UXXXXXXXX``; with ``backslash``, ``\\`` as ``\\\\``. Printable ASCII
    maps to itself. Spellings up to U+FFFF are cached on first use
    (at most 65,536 entries); astral ones are spelled on each use."""

    __slots__ = ()

    def __init__(self, backslash: bool):
        super().__init__({c: chr(c) for c in range(0x20, 0x7F)})
        self.update({0x22: '\\"', 0x09: "\\t", 0x0A: "\\n", 0x0D: "\\r"})
        if backslash:
            self[0x5C] = "\\\\"

    def __missing__(self, cp: int) -> str:
        if cp > 0xFFFF:
            return f"\\U{cp:08X}"
        spelled = self[cp] = f"\\u{cp:04X}"
        return spelled


# raw text (extraction sources: terms.escape_literal_lex)
LEX_ESCAPES = EscapeTable(backslash=True)
# a Turtle string body whose escapes are already canonical: each
# backslash there starts an escape and stays as written
BODY_ESCAPES = EscapeTable(backslash=False)


# --- RFC 3987 IRI validation ----------------------------------------------
# absolute-IRI ('#' ifragment)? — per reference ntriples/doc.go:204-206.

_SCHEME = r"[A-Za-z][A-Za-z0-9+.\-]*"
_UCSCHAR = (
    "\u00A0-\uD7FF\uF900-\uFDCF\uFDF0-\uFFEF"
    "\U00010000-\U0001FFFD\U00020000-\U0002FFFD\U00030000-\U0003FFFD"
    "\U00040000-\U0004FFFD\U00050000-\U0005FFFD\U00060000-\U0006FFFD"
    "\U00070000-\U0007FFFD\U00080000-\U0008FFFD\U00090000-\U0009FFFD"
    "\U000A0000-\U000AFFFD\U000B0000-\U000BFFFD\U000C0000-\U000CFFFD"
    "\U000D0000-\U000DFFFD\U000E1000-\U000EFFFD"
)
_IPRIVATE = "\uE000-\uF8FF\U000F0000-\U000FFFFD\U00100000-\U0010FFFD"
_IUNRESERVED = rf"A-Za-z0-9\-._~{_UCSCHAR}"
_SUB_DELIMS = r"!$&'()*+,;="
_PCT = rf"%[{HEX}]{{2}}"
# ipchar without pct-encoded, as a char-class body
_IPCHARS = rf"{_IUNRESERVED}{_SUB_DELIMS}:@"
_IUSERINFO = unrolled(rf"{_IUNRESERVED}{_SUB_DELIMS}:", _PCT)
_IREG_NAME = unrolled(rf"{_IUNRESERVED}{_SUB_DELIMS}", _PCT)
_IPV4 = r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])(?:\.(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}"
_H16 = rf"[{HEX}]{{1,4}}"
_LS32 = rf"(?:{_H16}:{_H16}|{_IPV4})"
_IPV6 = (
    rf"(?:(?:{_H16}:){{6}}{_LS32}"
    rf"|::(?:{_H16}:){{5}}{_LS32}"
    rf"|(?:{_H16})?::(?:{_H16}:){{4}}{_LS32}"
    rf"|(?:(?:{_H16}:)?{_H16})?::(?:{_H16}:){{3}}{_LS32}"
    rf"|(?:(?:{_H16}:){{0,2}}{_H16})?::(?:{_H16}:){{2}}{_LS32}"
    rf"|(?:(?:{_H16}:){{0,3}}{_H16})?::{_H16}:{_LS32}"
    rf"|(?:(?:{_H16}:){{0,4}}{_H16})?::{_LS32}"
    rf"|(?:(?:{_H16}:){{0,5}}{_H16})?::{_H16}"
    rf"|(?:(?:{_H16}:){{0,6}}{_H16})?::)"
)
_IPVFUTURE = rf"v[{HEX}]+\.[{_IUNRESERVED.replace(_UCSCHAR, '')}{_SUB_DELIMS}:]+"
_IP_LITERAL = rf"\[(?:{_IPV6}|{_IPVFUTURE})\]"
_IHOST = rf"(?:{_IP_LITERAL}|{_IPV4}|{_IREG_NAME})"
_IAUTHORITY = rf"(?:{_IUSERINFO}@)?{_IHOST}(?::[0-9]*)?"
_ISEGMENT = unrolled(_IPCHARS, _PCT)
_ISEGMENT_NZ = rf"(?:[{_IPCHARS}]|{_PCT}){_ISEGMENT}"
_IPATH_ABEMPTY = rf"(?:/{_ISEGMENT})*+"
_IPATH_ABSOLUTE = rf"/(?:{_ISEGMENT_NZ}(?:/{_ISEGMENT})*+)?"
_IPATH_ROOTLESS = rf"{_ISEGMENT_NZ}(?:/{_ISEGMENT})*+"
_IHIER_PART = rf"(?://{_IAUTHORITY}{_IPATH_ABEMPTY}|{_IPATH_ABSOLUTE}|{_IPATH_ROOTLESS}|)"
_IQUERY = unrolled(rf"{_IPCHARS}/?{_IPRIVATE}", _PCT)
_IFRAGMENT = unrolled(rf"{_IPCHARS}/?", _PCT)
_ABSOLUTE_IRI_RE = re.compile(
    rf"{_SCHEME}:{_IHIER_PART}(?:\?{_IQUERY})?(?:#{_IFRAGMENT})?\Z"
)


def is_valid_iri(v: str) -> bool:
    """RFC 3987 ``absolute-IRI ('#' ifragment)?`` check with the
    reference's pre-unescape step (ntriples/doc.go:192-208)."""
    v = unescape_unicode(v)
    return _ABSOLUTE_IRI_RE.match(v) is not None
