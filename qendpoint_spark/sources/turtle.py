"""Turtle (.ttl) ingest.

Reference: RDFNotation.TURTLE parsed through Jena RIOT
(core/rdf/parsers/RDFParserRIOT.java:30-80). Spark has no Turtle
reader, and Turtle is stateful (prefix directives, multi-line
statements), so parsing is per-FILE: files load as `binaryFile` rows
(parallel ACROSS files — shard big dumps, as crawl exports already do)
and an Arrow-batched `mapInPandas` runs the pure-Python recursive-
descent parser below, emitting (s, p, o) rows in the engine's internal
lexical forms (bare IRIs, '"v"', '"v"@lang', '"v"^^<dt>', '_:b0').

Grammar coverage (W3C Turtle): @prefix/@base + SPARQL-style
PREFIX/BASE, `a`, predicate-object lists `;`, object lists `,`,
blank-node property lists `[ ... ]`, collections `( ... )` (expanded
to rdf:first/rest/nil), numeric/boolean shorthand literals, long
strings (triple quotes), comments, and \\u / string escapes. Unknown
syntax fails loudly with line context (the repo's error contract) —
notably there is no support for the rare `GRAPH`-less TriG extensions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from qendpoint_spark.lexical import unescape
from qendpoint_spark.sources.ntriples import _read_files

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"

_TOKEN = re.compile(
    r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
  | (?P<LONG_STRING>\"\"\"(?:(?:"|"")?(?:[^"\\]|\\.))*\"\"\"|'''(?:(?:'|'')?(?:[^'\\]|\\.))*''')
  | (?P<STRING>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
  | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<DOUBLECARET>\^\^)
  | (?P<NUMBER>[+-]?(?:\d+\.\d*[eE][+-]?\d+|\d+\.\d+|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?))
  | (?P<BLANK>_:[A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?)
  | (?P<PNAME>[A-Za-z_][A-Za-z_0-9.-]*?:[A-Za-z_0-9:%\\](?:[A-Za-z_0-9.:%\\-]*[A-Za-z_0-9:%\\-])?|[A-Za-z_][A-Za-z_0-9.-]*?:|:[A-Za-z_0-9](?:[A-Za-z_0-9.-]*[A-Za-z_0-9-])?|:)
  | (?P<KEYWORD>@?[A-Za-z][A-Za-z_0-9]*)
  | (?P<PUNCT>[\[\]().;,{}])
    """,
    re.VERBOSE,
)

_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

def _quote(value: str) -> str:
    """Internal literal form: '"<raw value>"' — the engine stores RAW
    characters (the N-Triples parser unescapes on the way in and the
    exporter re-escapes on the way out, encoding/header.py)."""
    return '"' + value + '"'


class TurtleParser:
    """One-file recursive-descent Turtle parser -> list of (s,p,o)."""

    def __init__(self, text: str, bnode_prefix: str = "b"):
        self.toks: list[tuple[str, str, int]] = []
        line = 1
        i = 0
        while i < len(text):
            m = _TOKEN.match(text, i)
            if m is None:
                raise SyntaxError(
                    f"turtle: cannot tokenize at line {line}: "
                    f"{text[i:i + 30]!r}"
                )
            kind = m.lastgroup
            tok = m.group()
            if kind != "WS":
                self.toks.append((kind, tok, line))
            line += tok.count("\n")
            i = m.end()
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.triples: list[tuple[str, str, str]] = []
        self._bn = 0
        self._bnp = bnode_prefix

    # -- token helpers ---------------------------------------------------

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("EOF", "", -1)

    def _next(self):
        t = self._peek()
        if t[0] == "EOF":
            raise SyntaxError("turtle: unexpected end of file")
        self.i += 1
        return t

    def _expect_punct(self, ch: str):
        k, v, ln = self._next()
        if not (k == "PUNCT" and v == ch):
            raise SyntaxError(f"turtle line {ln}: expected {ch!r}, got {v!r}")

    def _new_bnode(self) -> str:
        self._bn += 1
        return f"_:{self._bnp}{self._bn}"

    # -- grammar ---------------------------------------------------------

    def parse(self) -> list[tuple[str, str, str]]:
        while self._peek()[0] != "EOF":
            k, v, ln = self._peek()
            # "@prefix"/"@base" lex as LANGTAG (the @xxx rule wins)
            if k in ("KEYWORD", "LANGTAG") and v.lower() in (
                "@prefix",
                "@base",
            ):
                self._directive(v.lower()[1:], turtle_style=True)
            elif k == "KEYWORD" and v.upper() in ("PREFIX", "BASE"):
                self._directive(v.upper().lower(), turtle_style=False)
            else:
                self._statement()
        return self.triples

    def _directive(self, which: str, turtle_style: bool):
        self._next()  # the keyword
        if which == "prefix":
            k, v, ln = self._next()
            if k != "PNAME" or not v.endswith(":"):
                raise SyntaxError(f"turtle line {ln}: bad prefix name {v!r}")
            name = v[:-1]
            k2, iri, ln2 = self._next()
            if k2 != "IRIREF":
                raise SyntaxError(f"turtle line {ln2}: bad prefix IRI {iri!r}")
            self.prefixes[name] = self._resolve(iri[1:-1])
        else:  # base
            k2, iri, ln2 = self._next()
            if k2 != "IRIREF":
                raise SyntaxError(f"turtle line {ln2}: bad base IRI {iri!r}")
            self.base = self._resolve(iri[1:-1])
        if turtle_style:
            self._expect_punct(".")

    def _resolve(self, iri: str) -> str:
        # Absolute IRIs (any scheme: http, mailto, tel, doi, urn, ...)
        # pass through untouched; only genuinely relative references are
        # merged onto @base per RFC 3986.
        if _SCHEME.match(iri) or not self.base:
            return iri
        m = _SCHEME.match(self.base)
        if not m:
            raise SyntaxError(
                f"turtle: @base {self.base!r} is not an absolute IRI"
            )
        scheme = m.group(0)[:-1]
        # urljoin implements the RFC 3986 merge but only for schemes it
        # knows use relative refs; borrow http's rules, restore scheme.
        from urllib.parse import urljoin

        merged = urljoin("http:" + self.base[len(scheme) + 1 :], iri)
        return scheme + merged[4:]

    def _statement(self):
        subj = self._subject()
        self._predicate_object_list(subj)
        self._expect_punct(".")

    def _subject(self) -> str:
        k, v, ln = self._peek()
        if k == "PUNCT" and v == "[":
            return self._bnode_property_list()
        if k == "PUNCT" and v == "(":
            return self._collection()
        return self._term(position="subject")

    def _predicate_object_list(self, subj: str):
        while True:
            pred = self._predicate()
            while True:
                obj = self._object()
                self.triples.append((subj, pred, obj))
                k, v, _ = self._peek()
                if k == "PUNCT" and v == ",":
                    self._next()
                    continue
                break
            k, v, _ = self._peek()
            if k == "PUNCT" and v == ";":
                self._next()
                # trailing ; before . or ] is legal
                k2, v2, _ = self._peek()
                if k2 == "PUNCT" and v2 in (".", "]"):
                    return
                continue
            return

    def _predicate(self) -> str:
        k, v, ln = self._peek()
        if k == "KEYWORD" and v == "a":
            self._next()
            return RDF_NS + "type"
        t = self._term(position="predicate")
        if t.startswith('"') or t.startswith("_:"):
            raise SyntaxError(f"turtle line {ln}: predicate must be an IRI")
        return t

    def _object(self) -> str:
        k, v, ln = self._peek()
        if k == "PUNCT" and v == "[":
            return self._bnode_property_list()
        if k == "PUNCT" and v == "(":
            return self._collection()
        return self._term(position="object")

    def _bnode_property_list(self) -> str:
        self._expect_punct("[")
        node = self._new_bnode()
        k, v, _ = self._peek()
        if not (k == "PUNCT" and v == "]"):
            self._predicate_object_list(node)
        self._expect_punct("]")
        return node

    def _collection(self) -> str:
        self._expect_punct("(")
        items: list[str] = []
        while True:
            k, v, _ = self._peek()
            if k == "PUNCT" and v == ")":
                self._next()
                break
            items.append(self._object())
        if not items:
            return RDF_NS + "nil"
        head = self._new_bnode()
        cur = head
        for j, it in enumerate(items):
            self.triples.append((cur, RDF_NS + "first", it))
            if j == len(items) - 1:
                self.triples.append((cur, RDF_NS + "rest", RDF_NS + "nil"))
            else:
                nxt = self._new_bnode()
                self.triples.append((cur, RDF_NS + "rest", nxt))
                cur = nxt
        return head

    def _term(self, position: str) -> str:
        k, v, ln = self._next()
        if k == "IRIREF":
            return self._resolve(unescape(v[1:-1]))
        if k == "PNAME":
            pfx, _, local = v.partition(":")
            if pfx not in self.prefixes:
                raise SyntaxError(
                    f"turtle line {ln}: undeclared prefix {pfx!r}"
                )
            return self.prefixes[pfx] + local.replace("\\", "")
        if k == "BLANK":
            return v
        if k in ("STRING", "LONG_STRING"):
            raw = v[3:-3] if k == "LONG_STRING" else v[1:-1]
            value = unescape(raw)
            nk, nv, _ = self._peek()
            if nk == "LANGTAG":
                self._next()
                return _quote(value) + nv
            if nk == "DOUBLECARET":
                self._next()
                dk, dv, dln = self._next()
                if dk == "IRIREF":
                    dt = self._resolve(unescape(dv[1:-1]))
                elif dk == "PNAME":
                    pfx, _, local = dv.partition(":")
                    if pfx not in self.prefixes:
                        raise SyntaxError(
                            f"turtle line {dln}: undeclared prefix {pfx!r}"
                        )
                    dt = self.prefixes[pfx] + local
                else:
                    raise SyntaxError(
                        f"turtle line {dln}: bad datatype {dv!r}"
                    )
                return _quote(value) + f"^^<{dt}>"
            return _quote(value)
        if k == "NUMBER":
            if "e" in v.lower():
                dt = "double"
            elif "." in v:
                dt = "decimal"
            else:
                dt = "integer"
            return f'"{v}"^^<{XSD}{dt}>'
        if k == "KEYWORD" and v.lower() in ("true", "false"):
            return f'"{v.lower()}"^^<{XSD}boolean>'
        raise SyntaxError(
            f"turtle line {ln}: unexpected {v!r} in {position} position"
        )


def parse_turtle(text: str, bnode_prefix: str = "b") -> list[tuple[str, str, str]]:
    return TurtleParser(text, bnode_prefix).parse()


class TriGParser(TurtleParser):
    """TriG = Turtle + named-graph blocks (W3C TriG):

        [GRAPH] (iri|bnode) { triples }   named graph
        { triples }                       default-graph block
        <plain turtle statement>          default graph

    Produces (s, p, o, g) with g=None for default-graph statements.
    The reference reads .trig through the same RIOT entry point as
    Turtle (RDFNotation.TRIG)."""

    def __init__(self, text: str, bnode_prefix: str = "b"):
        super().__init__(text, bnode_prefix)
        self.quads: list[tuple[str, str, str, str | None]] = []

    def parse_quads(self) -> list[tuple[str, str, str, str | None]]:
        while self._peek()[0] != "EOF":
            k, v, ln = self._peek()
            if k in ("KEYWORD", "LANGTAG") and v.lower() in (
                "@prefix",
                "@base",
            ):
                self._directive(v.lower()[1:], turtle_style=True)
                continue
            if k == "KEYWORD" and v.upper() in ("PREFIX", "BASE"):
                self._directive(v.upper().lower(), turtle_style=False)
                continue
            if k == "KEYWORD" and v.upper() == "GRAPH":
                self._next()
                label = self._graph_label()
                self._graph_block(label)
                continue
            if k == "PUNCT" and v == "{":  # unlabeled default block
                self._graph_block(None)
                continue
            # graph label directly followed by a block, or a plain
            # turtle statement in the default graph
            mark_tok = self.i
            mark_tr = len(self.triples)
            try:
                label = self._graph_label()
            except SyntaxError:
                label = None
                self.i = mark_tok
            if label is not None and self._peek()[1] == "{":
                self._graph_block(label)
                continue
            self.i = mark_tok
            del self.triples[mark_tr:]
            self._statement()
            self._flush(None)
        return self.quads

    def _graph_label(self) -> str:
        k, v, ln = self._peek()
        if k == "BLANK":
            self._next()
            return v
        if k in ("IRIREF", "PNAME"):
            return self._term(position="graph label")
        raise SyntaxError(f"trig line {ln}: expected a graph label")

    def _graph_block(self, label: str | None):
        self._expect_punct("{")
        while not (self._peek()[0] == "PUNCT" and self._peek()[1] == "}"):
            subj = self._subject()
            self._predicate_object_list(subj)
            k, v, _ = self._peek()
            if k == "PUNCT" and v == ".":
                self._next()
        self._expect_punct("}")
        self._flush(label)

    def _flush(self, label: str | None):
        for s, p, o in self.triples:
            self.quads.append((s, p, o, label))
        self.triples.clear()


def parse_trig(
    text: str, bnode_prefix: str = "b"
) -> list[tuple[str, str, str, str | None]]:
    return TriGParser(text, bnode_prefix).parse_quads()


def read_trig(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """TriG file(s) -> (s, p, o, g) with g NULL for default-graph
    statements; same per-file parallelism and bnode scoping as
    read_turtle."""
    return _read_files(spark, path, "trig")


def read_turtle(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Turtle file(s) -> triples_str(s, p, o). One task per file
    (Turtle is stateful; cross-file parallelism like every
    non-splittable source). Per-file bnode labels are namespaced by a
    hash of the file path so bnodes never collide across files —
    mirroring RIOT's per-parser bnode scoping."""
    return _read_files(spark, path, "turtle")
