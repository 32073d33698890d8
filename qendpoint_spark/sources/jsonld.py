"""JSON-LD (.jsonld) source: per-file stdlib-json parser emitting the
repo's internal term form (bare IRIs, `_:` bnodes, `"raw"` literals
with @lang / ^^<dt>), distributed one task per file via binaryFile +
mapInPandas, quads shaped like the TriG path (g NULL = default graph).

Reference anchor: the reference parses JSON-LD through Jena RIOT
(core/rdf/parsers/RDFParserRIOT.java:30-80). This parser implements
the deserialize-JSON-LD-to-RDF algorithm for the embedded-context
subset real exports use: inline @context (term defs, compact IRIs,
@vocab/@base/@language, @type/@language coercion, @container @list/
@set), node objects with @id/@type, value objects, @list, @reverse,
@graph (top-level and named). Constructs that need the open web or
full API machinery fail loudly per the repo error contract:
remote-context URLs, @context overrides in nested nodes beyond simple
merge, @index/@json containers.

JSON-LD files are not splittable; parallelism is cross-file, same
sharding guidance as Turtle/RDF-XML.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

from qendpoint_spark.sources.ntriples import _read_files

RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"

_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

_KEYWORDS = {
    "@context", "@id", "@type", "@value", "@language", "@list", "@set",
    "@graph", "@reverse", "@base", "@vocab", "@container", "@index",
    "@nest", "@none", "@json", "@direction", "@included", "@version",
}


class _Context:
    def __init__(self):
        self.terms: dict[str, dict] = {}
        self.vocab: str | None = None
        self.base: str | None = None
        self.language: str | None = None

    def merged(self, ctx_value) -> "_Context":
        """Return a new context with ctx_value merged in (JSON-LD
        contexts compose left-to-right; null resets)."""
        out = _Context()
        out.terms = dict(self.terms)
        out.vocab, out.base, out.language = (
            self.vocab, self.base, self.language,
        )
        values = ctx_value if isinstance(ctx_value, list) else [ctx_value]
        for v in values:
            if v is None:
                out.terms, out.vocab, out.base, out.language = {}, None, None, None
                continue
            if isinstance(v, str):
                raise SyntaxError(
                    f"jsonld: remote @context {v!r} unsupported (no "
                    "network in this engine); inline the context"
                )
            if not isinstance(v, dict):
                raise SyntaxError(f"jsonld: bad @context entry {v!r}")
            for term, defn in v.items():
                if term == "@vocab":
                    out.vocab = defn
                elif term == "@base":
                    out.base = defn
                elif term == "@language":
                    out.language = defn
                elif term == "@version":
                    continue
                elif term.startswith("@"):
                    raise SyntaxError(
                        f"jsonld: unsupported context keyword {term!r}"
                    )
                elif defn is None:
                    out.terms.pop(term, None)
                elif isinstance(defn, str):
                    out.terms[term] = {"@id": defn}
                elif isinstance(defn, dict):
                    bad = set(defn) - {
                        "@id", "@type", "@language", "@container",
                        "@reverse",
                    }
                    if bad:
                        raise SyntaxError(
                            f"jsonld: unsupported term-definition keys "
                            f"{sorted(bad)} for term {term!r}"
                        )
                    cont = defn.get("@container")
                    if cont not in (None, "@list", "@set"):
                        raise SyntaxError(
                            f"jsonld: unsupported @container {cont!r}"
                        )
                    out.terms[term] = dict(defn)
                else:
                    raise SyntaxError(
                        f"jsonld: bad term definition for {term!r}"
                    )
        return out

    def expand_iri(self, value: str, vocab: bool = False) -> str | None:
        """Expand a term / compact IRI / relative IRI. vocab=True for
        predicate/type position (uses @vocab), else document-relative.
        Returns None when the value cannot be expanded to an IRI."""
        if value.startswith("@"):
            return value
        if value.startswith("_:"):
            return value
        t = self.terms.get(value)
        if t is not None:
            tid = t["@id"]
            # term defs may themselves be compact IRIs
            return self.expand_iri(tid, vocab=True) if ":" in tid else tid
        if ":" in value:
            prefix, suffix = value.split(":", 1)
            pt = self.terms.get(prefix)
            if pt is not None and not suffix.startswith("//"):
                return self.expand_iri(pt["@id"], vocab=True) + suffix
            if _SCHEME.match(value):
                return value
        if vocab and self.vocab:
            return self.vocab + value
        if not vocab and self.base:
            from urllib.parse import urljoin

            m = _SCHEME.match(self.base)
            if not m:
                raise SyntaxError(f"jsonld: @base {self.base!r} not absolute")
            scheme = m.group(0)[:-1]
            merged = urljoin("http:" + self.base[len(scheme) + 1:], value)
            return scheme + merged[4:]
        return None


class _JsonLdParser:
    def __init__(self, text: str, bnode_prefix: str = "b"):
        self.quads: list[tuple[str, str, str, str | None]] = []
        self.bnode_prefix = bnode_prefix
        self._bn = 0
        self._named: dict[str, str] = {}
        try:
            self.doc = json.loads(text)
        except json.JSONDecodeError as e:
            raise SyntaxError(f"jsonld: invalid JSON: {e}") from e

    def _fresh_bnode(self) -> str:
        self._bn += 1
        # unscoped mode: keep fresh labels out of the verbatim namespace
        return f"_:{self.bnode_prefix or 'qesg'}{self._bn}"

    def _bnode(self, label: str) -> str:
        # empty prefix = unscoped single-file mode: labels verbatim
        if not self.bnode_prefix:
            return label
        return self._named.setdefault(
            label, f"_:{self.bnode_prefix}n_{label[2:]}"
        )

    def parse(self) -> list[tuple[str, str, str, str | None]]:
        ctx = _Context()
        top = self.doc if isinstance(self.doc, list) else [self.doc]
        for node in top:
            self._node(node, ctx, graph=None)
        return self.quads

    def _node(self, node, ctx: _Context, graph: str | None) -> str:
        """Process a node object; returns its subject term."""
        if not isinstance(node, dict):
            raise SyntaxError(f"jsonld: node object expected, got {node!r}")
        if "@context" in node:
            ctx = ctx.merged(node["@context"])
        if "@value" in node:
            raise SyntaxError("jsonld: value object in node position")

        nid = node.get("@id")
        if nid is not None:
            if not isinstance(nid, str):
                raise SyntaxError(f"jsonld: bad @id {nid!r}")
            subj = (
                self._bnode(nid)
                if nid.startswith("_:")
                else ctx.expand_iri(nid)
            )
            if subj is None:
                raise SyntaxError(f"jsonld: cannot expand @id {nid!r}")
        else:
            subj = self._fresh_bnode()

        for key, value in node.items():
            if key in ("@context", "@id", "@index"):
                continue
            if key == "@type":
                for t in value if isinstance(value, list) else [value]:
                    tiri = ctx.expand_iri(t, vocab=True)
                    if tiri is None:
                        raise SyntaxError(f"jsonld: cannot expand type {t!r}")
                    self.quads.append((subj, RDFNS + "type", tiri, graph))
                continue
            if key == "@graph":
                items = value if isinstance(value, list) else [value]
                # @graph alongside @id = named graph; bare @graph = default
                gname = subj if nid is not None else graph
                for item in items:
                    self._node(item, ctx, graph=gname)
                continue
            if key == "@reverse":
                if not isinstance(value, dict):
                    raise SyntaxError("jsonld: @reverse expects an object")
                for rkey, rval in value.items():
                    pred = ctx.expand_iri(rkey, vocab=True)
                    if pred is None or pred.startswith("@"):
                        raise SyntaxError(
                            f"jsonld: cannot expand reverse key {rkey!r}"
                        )
                    for item in rval if isinstance(rval, list) else [rval]:
                        o = self._object(item, ctx, {}, graph)
                        if o.startswith('"'):
                            raise SyntaxError(
                                "jsonld: literal subject via @reverse"
                            )
                        self.quads.append((o, pred, subj, graph))
                continue
            if key.startswith("@"):
                raise SyntaxError(f"jsonld: unsupported keyword {key!r}")

            pred = ctx.expand_iri(key, vocab=True)
            if pred is None:
                raise SyntaxError(
                    f"jsonld: key {key!r} does not expand to an IRI "
                    "(map it in @context or set @vocab)"
                )
            tdef = ctx.terms.get(key, {})
            if tdef.get("@container") == "@list" and not (
                isinstance(value, dict) and "@list" in value
            ):
                value = {"@list": value if isinstance(value, list) else [value]}
            values = value if isinstance(value, list) else [value]
            for item in values:
                obj = self._object(item, ctx, tdef, graph)
                self.quads.append((subj, pred, obj, graph))
        return subj

    def _object(self, item, ctx: _Context, tdef: dict, graph) -> str:
        """Expand one value to an internal term string."""
        if isinstance(item, dict) and "@list" in item:
            return self._list(item["@list"], ctx, tdef, graph)
        if isinstance(item, dict) and "@value" in item:
            v = item["@value"]
            dt = item.get("@type")
            if dt is not None:
                dtiri = ctx.expand_iri(dt, vocab=True)
                return f'"{_lex(v)}"^^<{dtiri}>'
            if isinstance(v, bool) or isinstance(v, (int, float)):
                return _native(v)
            # explicit "@language": null suppresses the context default
            lang = (
                item["@language"] if "@language" in item else ctx.language
            )
            return f'"{v}"@{lang}' if lang else f'"{v}"'
        if isinstance(item, dict):
            return self._node(item, ctx, graph)
        if isinstance(item, bool) or isinstance(item, (int, float)):
            coerce = tdef.get("@type")
            if coerce is not None and coerce not in ("@id", "@vocab"):
                dtiri = ctx.expand_iri(coerce, vocab=True)
                return f'"{_lex(item)}"^^<{dtiri}>'
            return _native(item)
        if not isinstance(item, str):
            raise SyntaxError(f"jsonld: unsupported value {item!r}")
        # string: coerced IRI, or literal with term/context language
        coerce = tdef.get("@type")
        if coerce == "@id" or coerce == "@vocab":
            if item.startswith("_:"):
                return self._bnode(item)
            iri = ctx.expand_iri(item, vocab=(coerce == "@vocab"))
            if iri is None:
                raise SyntaxError(f"jsonld: cannot expand IRI {item!r}")
            return iri
        if coerce is not None:
            dtiri = ctx.expand_iri(coerce, vocab=True)
            return f'"{item}"^^<{dtiri}>'
        lang = tdef.get("@language", ctx.language)
        return f'"{item}"@{lang}' if lang else f'"{item}"'

    def _list(self, items, ctx: _Context, tdef: dict, graph) -> str:
        if not isinstance(items, list):
            items = [items]
        if not items:
            return RDFNS + "nil"
        head = self._fresh_bnode()
        cur = head
        no_list_tdef = {k: v for k, v in tdef.items() if k != "@container"}
        for i, item in enumerate(items):
            o = self._object(item, ctx, no_list_tdef, graph)
            self.quads.append((cur, RDFNS + "first", o, graph))
            nxt = RDFNS + "nil" if i == len(items) - 1 else self._fresh_bnode()
            self.quads.append((cur, RDFNS + "rest", nxt, graph))
            cur = nxt
        return head


def _lex(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _native(v) -> str:
    """JSON native value -> RDF literal per JSON-LD deserialization."""
    if isinstance(v, bool):
        return f'"{"true" if v else "false"}"^^<{XSD}boolean>'
    if isinstance(v, int):
        return f'"{v}"^^<{XSD}integer>'
    # non-integral numbers map to xsd:double, canonical lexical form
    m, _, e = f"{float(v):.15e}".partition("e")
    m = m.rstrip("0").rstrip(".")
    if "." not in m:
        m += ".0"
    return f'"{m}E{int(e)}"^^<{XSD}double>'


def parse_jsonld(
    text: str, bnode_prefix: str = "b"
) -> list[tuple[str, str, str, str | None]]:
    return _JsonLdParser(text, bnode_prefix).parse()


def serialize_jsonld(quads) -> str:
    """Serialize internal-form quads (g None = default graph) to an
    expanded-form JSON-LD document (RDF-to-JSON-LD serialization,
    grouped by graph then subject)."""
    from qendpoint_spark.sources.rdfxml import split_literal

    def value(o):
        if o.startswith('"'):
            raw, lang, dt = split_literal(o)
            if dt == XSD + "integer":
                # native JSON number only for canonical lexical forms:
                # '007' / '+5' would be silently canonicalized by
                # int(), changing term identity on round-trip, and
                # ill-typed xsd:integer literals (legal in RDF) would
                # raise — both fall back to the typed form (ADVICE r6)
                try:
                    if str(int(raw)) == raw:
                        return {"@value": int(raw)}
                except ValueError:
                    pass
                return {"@value": raw, "@type": dt}
            if lang:
                return {"@value": raw, "@language": lang}
            if dt:
                return {"@value": raw, "@type": dt}
            return {"@value": raw}
        return {"@id": o}

    graphs: dict[str | None, dict[str, dict]] = {}
    for s, p, o, g in quads:
        node = graphs.setdefault(g, {}).setdefault(s, {"@id": s})
        node.setdefault(p, []).append(value(o))

    top: list[dict] = list(graphs.get(None, {}).values())
    for g, nodes in graphs.items():
        if g is not None:
            top.append({"@id": g, "@graph": list(nodes.values())})
    return json.dumps(top, ensure_ascii=False, indent=1)


def write_jsonld(df: DataFrame, path: str) -> None:
    """Interchange writer: stream a triples/quads frame into one
    expanded JSON-LD file. Driver-side by wire format (one JSON
    document) — interchange only, like write_rdfxml."""
    cols = df.columns
    rows = (
        (r["s"], r["p"], r["o"], r["g"] if "g" in cols else None)
        for r in df.toLocalIterator()
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(serialize_jsonld(rows))


def read_jsonld(
    spark: SparkSession, path: str | list[str], scoped_bnodes: bool = True
) -> DataFrame:
    """JSON-LD file(s) -> quads(s, p, o, g); g NULL = default graph.
    One task per file; per-file bnode namespacing by path hash.
    scoped_bnodes=False keeps `_:` labels verbatim (single-file /
    round-trip use)."""
    return _read_files(spark, path, "jsonld", scoped_bnodes)
