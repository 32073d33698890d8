"""RDF/XML (.rdf/.owl/.xml) source: per-file stdlib-ElementTree parser
emitting the repo's internal triple form (bare IRIs, `_:` bnodes,
`"raw"` literals with @lang / ^^<dt> suffixes), distributed one task
per file via binaryFile + mapInPandas like the Turtle path.

Reference anchor: the reference parses RDF/XML through Jena RIOT
(core/rdf/parsers/RDFParserRIOT.java:30-80, format table in
core/rdf/RDFParserFactory.java). This parser covers the W3C
RDF/XML constructs real exports use: rdf:Description and typed node
elements, rdf:about/ID/nodeID, property elements with
rdf:resource/nodeID/datatype, nested node elements, property
attributes, xml:lang / xml:base inheritance, rdf:li containers,
parseType Resource / Collection / Literal, and property-element
reification via rdf:ID. Unsupported constructs raise SyntaxError
loudly (repo error contract) rather than dropping data.

RDF/XML is not line-splittable, so parallelism is cross-file — the
same sharding guidance as Turtle applies (shard big exports into
>= cores files).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from qendpoint_spark.sources.ntriples import _read_files

RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XMLNS = "http://www.w3.org/XML/1998/namespace"

_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

# rdf:* attributes that are RDF/XML syntax, never property attributes
_SYNTAX_ATTRS = {
    f"{{{RDFNS}}}about",
    f"{{{RDFNS}}}ID",
    f"{{{RDFNS}}}nodeID",
    f"{{{RDFNS}}}resource",
    f"{{{RDFNS}}}datatype",
    f"{{{RDFNS}}}parseType",
    f"{{{RDFNS}}}RDF",
}
_XML_BASE = f"{{{XMLNS}}}base"
_XML_LANG = f"{{{XMLNS}}}lang"


def _resolve(base: str | None, ref: str) -> str:
    """RFC 3986 merge of a (possibly relative) reference onto base;
    absolute IRIs of any scheme pass through (same contract as
    turtle.py:_resolve)."""
    if _SCHEME.match(ref) or not base:
        return ref
    m = _SCHEME.match(base)
    if not m:
        raise SyntaxError(f"rdfxml: xml:base {base!r} is not absolute")
    scheme = m.group(0)[:-1]
    from urllib.parse import urljoin

    merged = urljoin("http:" + base[len(scheme) + 1 :], ref)
    return scheme + merged[4:]


def _tag_iri(el: ET.Element) -> str:
    tag = el.tag
    if not tag.startswith("{"):
        raise SyntaxError(f"rdfxml: unnamespaced element <{tag}>")
    ns, local = tag[1:].split("}", 1)
    return ns + local


class _RdfXmlParser:
    def __init__(self, text: str, bnode_prefix: str = "b"):
        self.triples: list[tuple[str, str, str]] = []
        self.bnode_prefix = bnode_prefix
        self._bn = 0
        self._named_bnodes: dict[str, str] = {}
        try:
            self.root = ET.fromstring(text)
        except ET.ParseError as e:
            raise SyntaxError(f"rdfxml: not well-formed XML: {e}") from e

    def _fresh_bnode(self) -> str:
        self._bn += 1
        # unscoped mode: keep fresh labels out of the verbatim namespace
        return f"_:{self.bnode_prefix or 'qesg'}{self._bn}"

    def _named_bnode(self, node_id: str) -> str:
        # rdf:nodeID labels are document-scoped; namespace them per file
        # (empty prefix = unscoped single-file mode: labels verbatim)
        if not self.bnode_prefix:
            return f"_:{node_id}"
        return self._named_bnodes.setdefault(
            node_id, f"_:{self.bnode_prefix}n_{node_id}"
        )

    def parse(self) -> list[tuple[str, str, str]]:
        base = self.root.get(_XML_BASE)
        lang = self.root.get(_XML_LANG)
        if _tag_iri(self.root) == RDFNS + "RDF":
            for child in self.root:
                self._node_element(child, base, lang)
        else:
            self._node_element(self.root, base, lang)
        return self.triples

    # -- node elements ------------------------------------------------

    def _node_element(
        self, el: ET.Element, base: str | None, lang: str | None
    ) -> str:
        base = el.get(_XML_BASE, base)
        lang = el.get(_XML_LANG, lang)
        about = el.get(f"{{{RDFNS}}}about")
        rid = el.get(f"{{{RDFNS}}}ID")
        node_id = el.get(f"{{{RDFNS}}}nodeID")
        if sum(x is not None for x in (about, rid, node_id)) > 1:
            raise SyntaxError(
                "rdfxml: at most one of rdf:about/rdf:ID/rdf:nodeID "
                "per node element"
            )
        if about is not None:
            subj = _resolve(base, about)
        elif rid is not None:
            subj = _resolve(base, "#" + rid)
        elif node_id is not None:
            subj = self._named_bnode(node_id)
        else:
            subj = self._fresh_bnode()

        tag = _tag_iri(el)
        if tag != RDFNS + "Description":
            if tag == RDFNS + "li" or re.fullmatch(
                re.escape(RDFNS) + r"_\d+", tag
            ):
                raise SyntaxError("rdfxml: rdf:li is not a node element")
            self.triples.append((subj, RDFNS + "type", tag))

        # property attributes (non-syntax, non-xml attributes)
        for k, v in el.attrib.items():
            if k in _SYNTAX_ATTRS or k.startswith(f"{{{XMLNS}}}"):
                continue
            if not k.startswith("{"):
                raise SyntaxError(
                    f"rdfxml: unnamespaced attribute {k!r} on node element"
                )
            attr_iri = k[1:].replace("}", "", 1)
            if attr_iri == RDFNS + "type":
                self.triples.append(
                    (subj, RDFNS + "type", _resolve(base, v))
                )
            elif attr_iri.startswith(RDFNS) and attr_iri[len(RDFNS):] not in (
                "value",
            ) and not re.fullmatch(r"_\d+", attr_iri[len(RDFNS):]):
                raise SyntaxError(
                    f"rdfxml: unsupported rdf: attribute {attr_iri!r}"
                )
            else:
                self.triples.append((subj, attr_iri, _literal(v, lang, None)))

        li = 0
        for child in el:
            li = self._property_element(child, subj, base, lang, li)
        return subj

    # -- property elements --------------------------------------------

    def _property_element(
        self,
        el: ET.Element,
        subj: str,
        base: str | None,
        lang: str | None,
        li: int,
    ) -> int:
        base = el.get(_XML_BASE, base)
        lang = el.get(_XML_LANG, lang)
        pred = _tag_iri(el)
        if pred == RDFNS + "li":
            li += 1
            pred = f"{RDFNS}_{li}"

        resource = el.get(f"{{{RDFNS}}}resource")
        node_id = el.get(f"{{{RDFNS}}}nodeID")
        datatype = el.get(f"{{{RDFNS}}}datatype")
        parse_type = el.get(f"{{{RDFNS}}}parseType")
        reify_id = el.get(f"{{{RDFNS}}}ID")
        prop_attrs = {
            k[1:].replace("}", "", 1): v
            for k, v in el.attrib.items()
            if k not in _SYNTAX_ATTRS and not k.startswith(f"{{{XMLNS}}}")
        }
        children = list(el)

        obj: str
        if parse_type == "Resource":
            obj = self._fresh_bnode()
            inner_li = 0
            for child in children:
                inner_li = self._property_element(
                    child, obj, base, lang, inner_li
                )
        elif parse_type == "Collection":
            obj = self._collection(children, base, lang)
        elif parse_type == "Literal":
            xml = "".join(
                ET.tostring(c, encoding="unicode") for c in children
            )
            obj = f'"{(el.text or "") + xml}"^^<{RDFNS}XMLLiteral>'
        elif parse_type is not None:
            raise SyntaxError(
                f"rdfxml: unsupported parseType {parse_type!r}"
            )
        elif resource is not None:
            if children:
                raise SyntaxError(
                    "rdfxml: rdf:resource with element content"
                )
            obj = _resolve(base, resource)
        elif node_id is not None:
            if children:
                raise SyntaxError("rdfxml: rdf:nodeID with element content")
            obj = self._named_bnode(node_id)
        elif children:
            if datatype is not None:
                # silently dropping the datatype would corrupt the
                # literal (ADVICE r6): fail loudly per module contract
                raise SyntaxError(
                    f"rdfxml: property element <{pred}> carries "
                    "rdf:datatype but contains element content"
                )
            if len(children) != 1 or (el.text or "").strip():
                raise SyntaxError(
                    f"rdfxml: property element <{pred}> must contain "
                    "exactly one node element or text"
                )
            obj = self._node_element(children[0], base, lang)
        elif prop_attrs:
            # empty property element with property attributes -> bnode
            obj = self._fresh_bnode()
            for attr_iri, v in prop_attrs.items():
                if attr_iri == RDFNS + "type":
                    self.triples.append(
                        (obj, RDFNS + "type", _resolve(base, v))
                    )
                else:
                    self.triples.append(
                        (obj, attr_iri, _literal(v, lang, None))
                    )
            prop_attrs = {}
        else:
            obj = _literal(el.text or "", lang, datatype)

        if prop_attrs:
            raise SyntaxError(
                "rdfxml: property attributes are only supported on empty "
                f"property elements (<{pred}>)"
            )
        self.triples.append((subj, pred, obj))

        if reify_id is not None:
            st = _resolve(base, "#" + reify_id)
            self.triples.extend(
                [
                    (st, RDFNS + "type", RDFNS + "Statement"),
                    (st, RDFNS + "subject", subj),
                    (st, RDFNS + "predicate", pred),
                    (st, RDFNS + "object", obj),
                ]
            )
        return li

    def _collection(
        self, items: list[ET.Element], base: str | None, lang: str | None
    ) -> str:
        if not items:
            return RDFNS + "nil"
        head = self._fresh_bnode()
        cur = head
        for i, item in enumerate(items):
            node = self._node_element(item, base, lang)
            self.triples.append((cur, RDFNS + "first", node))
            nxt = (
                RDFNS + "nil"
                if i == len(items) - 1
                else self._fresh_bnode()
            )
            self.triples.append((cur, RDFNS + "rest", nxt))
            cur = nxt
        return head


def _literal(raw: str, lang: str | None, datatype: str | None) -> str:
    if datatype is not None:
        return f'"{raw}"^^<{datatype}>'
    if lang:
        return f'"{raw}"@{lang}'
    return f'"{raw}"'


def parse_rdfxml(
    text: str, bnode_prefix: str = "b"
) -> list[tuple[str, str, str]]:
    return _RdfXmlParser(text, bnode_prefix).parse()


_NCNAME_SUFFIX = re.compile(r"[A-Za-z_][A-Za-z0-9_.\-]*$")
_LIT_DT = re.compile(r'"\^\^<([^<>]*)>$')
_LIT_LANG = re.compile(r'"@([A-Za-z][A-Za-z0-9\-]*)$')


def split_literal(term: str) -> tuple[str, str | None, str | None]:
    """Internal literal form -> (raw, lang, datatype)."""
    m = _LIT_DT.search(term)
    if m:
        return term[1 : m.start()], None, m.group(1)
    m = _LIT_LANG.search(term)
    if m:
        return term[1 : m.start()], m.group(1), None
    if not (term.startswith('"') and term.endswith('"')):
        raise ValueError(f"not an internal literal: {term!r}")
    return term[1:-1], None, None


#: C0 controls XML 1.0 cannot represent at all (tab/newline/CR excluded)
_XML10_INVALID = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")


def _esc_text(raw: str) -> str:
    """Escape literal text for element content. xml.sax.saxutils.escape
    leaves \\r unescaped, and XML end-of-line normalization would turn
    it into \\n on re-parse, silently corrupting the literal (ADVICE
    r6); \\r and \\t become numeric character references instead, and
    XML-1.0-invalid control characters raise rather than emitting an
    unparseable document."""
    from xml.sax.saxutils import escape

    if _XML10_INVALID.search(raw):
        raise ValueError(
            "rdfxml: literal contains a control character XML 1.0 "
            "cannot represent; serialize as N-Triples instead"
        )
    return escape(raw).replace("\r", "&#13;").replace("\t", "&#9;")


def serialize_rdfxml(triples) -> str:
    """Serialize (s, p, o) internal-form triples to an RDF/XML
    document (RDFWriterRIOT analog for the RDFXML format family).
    Predicates must split into namespace + NCName local part — RDF/XML
    cannot express others; those raise loudly."""
    from xml.sax.saxutils import escape, quoteattr

    rows = list(triples)
    ns_prefix: dict[str, str] = {}

    def qname(iri: str) -> str:
        m = _NCNAME_SUFFIX.search(iri)
        if not m or m.start() == 0:
            raise SyntaxError(
                f"rdfxml: predicate {iri!r} has no NCName local part; "
                "RDF/XML cannot serialize it (use N-Triples/Turtle)"
            )
        ns, local = iri[: m.start()], iri[m.start() :]
        p = ns_prefix.setdefault(ns, f"n{len(ns_prefix)}")
        return f"{p}:{local}"

    body: list[str] = []
    for s, p, o in rows:
        pq = qname(p)
        subj_attr = (
            f"rdf:nodeID={quoteattr(s[2:])}"
            if s.startswith("_:")
            else f"rdf:about={quoteattr(s)}"
        )
        if o.startswith('"'):
            raw, lang, dt = split_literal(o)
            extra = ""
            if lang:
                extra = f" xml:lang={quoteattr(lang)}"
            elif dt:
                extra = f" rdf:datatype={quoteattr(dt)}"
            prop = f"<{pq}{extra}>{_esc_text(raw)}</{pq}>"
        elif o.startswith("_:"):
            prop = f"<{pq} rdf:nodeID={quoteattr(o[2:])}/>"
        else:
            prop = f"<{pq} rdf:resource={quoteattr(o)}/>"
        body.append(f"  <rdf:Description {subj_attr}>{prop}</rdf:Description>")

    decls = "".join(
        f' xmlns:{p}="{ns}"' for ns, p in sorted(ns_prefix.items())
    )
    return (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        f'<rdf:RDF xmlns:rdf="{RDFNS}"{decls}>\n'
        + "\n".join(body)
        + "\n</rdf:RDF>\n"
    )


def write_rdfxml(triples_df: DataFrame, path: str) -> None:
    """Interchange writer: stream a triples_str frame into one RDF/XML
    file. Driver-side sequential by wire format (one XML document) —
    same stance as hdt/writer.py; don't use it for corpus-scale
    exports (write N-Triples part files instead)."""
    rows = (
        (r["s"], r["p"], r["o"])
        for r in triples_df.select("s", "p", "o").toLocalIterator()
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(serialize_rdfxml(rows))


def read_rdfxml(
    spark: SparkSession, path: str | list[str], scoped_bnodes: bool = True
) -> DataFrame:
    """RDF/XML file(s) -> triples_str(s, p, o). One task per file (XML
    is not splittable); per-file bnode labels namespaced by a path
    hash, mirroring RIOT's per-parser bnode scoping.
    scoped_bnodes=False keeps rdf:nodeID labels verbatim — only sound
    for a single file (or files with disjoint labels); used by the
    serializer round-trip gate."""
    return _read_files(spark, path, "rdfxml", scoped_bnodes)
