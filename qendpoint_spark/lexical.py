"""String unescape shared by every RDF text front-end.

N-Triples/N-Quads (sources.ntriples), Turtle/TriG (sources.turtle) and
SPARQL (sparql.parser) all write string content with the same escapes:
ECHAR `\\t \\b \\n \\r \\f \\" \\' \\\\` and UCHAR `\\uXXXX` /
`\\UXXXXXXXX` (reference UnicodeEscape.java). One decoder keeps a
literal written in a query byte-identical to the term the loaders
stored. Malformed numeric escapes (non-hex digits, a code point past
U+10FFFF) pass through unchanged — the loaders' line-oriented
leniency. The escape side is encoding.header._escape_literal.

Pure Python, so the SPARQL parser imports it without Spark.
"""

from __future__ import annotations

import re

_ECHAR = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}
_ESCAPE = re.compile(
    r"""\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|([tbnrf"'\\]))"""
)


def _decode(m: re.Match) -> str:
    if m.group(3):
        return _ECHAR[m.group(3)]
    cp = int(m.group(1) or m.group(2), 16)
    return chr(cp) if cp <= 0x10FFFF else m.group(0)


def unescape(s: str) -> str:
    """Decode the ECHAR/UCHAR escapes of `s`; anything else stays."""
    return _ESCAPE.sub(_decode, s) if "\\" in s else s
