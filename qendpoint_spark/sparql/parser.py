"""SPARQL parser: text -> AST (pure Python, no Spark imports).

Covers the SPARQL 1.1 subset the engine executes (documented in
algebra.py): SELECT / ASK / CONSTRUCT forms, PREFIX prologue, basic
graph patterns with `;` / `,` shorthand and the `a` keyword, property
paths (seq `/`, alt `|`, inverse `^`, `+`, `*`, `{m,n}` bounds),
FILTER expressions, OPTIONAL, MINUS, UNION, BIND, VALUES, GROUP BY +
aggregates + HAVING, ORDER BY, DISTINCT, LIMIT/OFFSET.

The grammar mirrors the productions of the W3C SPARQL 1.1 REC the
reference gets from RDF4J's SPARQLParser (rdf4j queryparser); this is
a from-scratch recursive-descent implementation of the subset, not a
translation of any parser.

Terms are carried in the HDT dictionary lexical form used everywhere
else in this repo (IRIs without angle brackets, literals quoted with
optional @lang / ^^<datatype>; BaseDictionary.java:120-174).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from qendpoint_spark.lexical import unescape

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


# ---------------------------------------------------------------- AST


@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Term:
    """A constant RDF term in HDT lexical form."""

    lex: str


@dataclass(frozen=True)
class NumLit:
    """A bare numeric literal: usable as a number in expressions and as
    a typed literal term in a triple pattern."""

    raw: str  # literal text as written

    @property
    def value(self) -> float:
        return float(self.raw)

    def as_term(self) -> Term:
        dt = "decimal" if ("." in self.raw or "e" in self.raw.lower()) else "integer"
        return Term(f'"{self.raw}"^^<{XSD}{dt}>')


# property paths ---------------------------------------------------------


@dataclass(frozen=True)
class PathPred:
    iri: str


@dataclass(frozen=True)
class PathInv:
    inner: object


@dataclass(frozen=True)
class PathSeq:
    steps: tuple


@dataclass(frozen=True)
class PathAlt:
    alts: tuple


@dataclass(frozen=True)
class PathRepeat:
    inner: object
    min_hops: int  # 0 (for *) or 1 (for ?/+) or m of {m,n}
    max_hops: int | None  # None = unbounded


@dataclass(frozen=True)
class PathNeg:
    """Negated property set `!iri` / `!(iri1|^iri2|...)` (SPARQL 1.1
    §18.4): forward edges whose predicate is NOT in `fwd` (present iff
    the set named a forward IRI), unioned with inverse edges whose
    predicate is NOT in `bwd` (present iff the set named a ^IRI)."""

    fwd: tuple  # excluded forward-direction predicate IRIs
    bwd: tuple  # excluded inverse-direction predicate IRIs


# graph patterns ---------------------------------------------------------


@dataclass(frozen=True)
class TriplePattern:
    s: object  # Var | Term
    p: object  # Var | Term | path node
    o: object  # Var | Term | NumLit


@dataclass
class FilterClause:
    expr: object


@dataclass
class BindClause:
    expr: object
    var: Var


@dataclass
class ValuesClause:
    variables: list
    rows: list  # list of tuples of (Term | NumLit | None)  (None = UNDEF)


@dataclass
class OptionalGroup:
    group: "GroupGraphPattern"


@dataclass
class GraphGroup:
    """GRAPH (iri|var) { ... } — scoped to one named graph (or ranging
    over graph names via a variable)."""

    graph: object  # Term | Var
    group: "GroupGraphPattern"


@dataclass
class MinusGroup:
    group: "GroupGraphPattern"


@dataclass
class UnionGroup:
    branches: list  # of GroupGraphPattern


@dataclass
class GroupGraphPattern:
    elements: list = field(default_factory=list)


# expressions ------------------------------------------------------------


@dataclass(frozen=True)
class BinOp:
    op: str  # || && = != < > <= >= + - * /
    left: object
    right: object


@dataclass(frozen=True)
class UnaryOp:
    op: str  # ! -
    operand: object


@dataclass(frozen=True)
class FuncCall:
    name: str  # upper-cased
    args: tuple


@dataclass(frozen=True)
class StrLit:
    value: str


@dataclass(frozen=True)
class Aggregate:
    func: str  # COUNT SUM AVG MIN MAX SAMPLE GROUP_CONCAT
    arg: object  # Var | '*'
    distinct: bool
    alias: str
    sep: str = " "  # GROUP_CONCAT separator (SPARQL default)


@dataclass(frozen=True)
class ProjExpr:
    """`(expression AS ?alias)` projection whose expression is not a
    bare aggregate — may mix aggregates, variables (when grouped) and
    functions: (SUM(?x)/COUNT(*) AS ?mean), (?a - ?b AS ?d)."""

    expr: object
    alias: str


@dataclass
class SubSelect:
    """A nested `{ SELECT ... }` group element."""

    query: "Query"


# update operations ------------------------------------------------------


@dataclass
class InsertData:
    triples: list  # ground TriplePatterns


@dataclass
class DeleteData:
    triples: list  # ground TriplePatterns


@dataclass
class Modify:
    """DELETE {tmpl} INSERT {tmpl} WHERE {ggp} (either template may be
    empty; DELETE WHERE {p} sets delete_tmpl = the pattern itself)."""

    delete_tmpl: list
    insert_tmpl: list
    where: "GroupGraphPattern"


@dataclass
class ExistsExpr:
    """FILTER [NOT] EXISTS { ... } — evaluated as a semi/anti join,
    so it may appear only as a top-level filter condition."""

    group: "GroupGraphPattern"
    negated: bool


# query ------------------------------------------------------------------


@dataclass
class Query:
    form: str  # SELECT | ASK | CONSTRUCT | DESCRIBE
    distinct: bool
    projection: list  # of Var | Aggregate; empty = SELECT *
    template: list  # CONSTRUCT template TriplePatterns
    where: GroupGraphPattern
    group_by: list  # of Var
    having: object | None
    order_by: list  # of (expr, ascending: bool)
    limit: int | None
    offset: int | None
    from_graphs: list = field(default_factory=list)  # FROM <g> Terms
    from_named: list = field(default_factory=list)  # FROM NAMED <g>



# ---------------------------------------------------------------- lexer

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
  | (?P<VAR>[?$][A-Za-z_][A-Za-z_0-9]*)
  | (?P<STRING>"(?:[^"\\]|\\.)*")
  | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<DOUBLECARET>\^\^)
  | (?P<NUMBER>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<BLANK>_:[A-Za-z_0-9]+)
  | (?P<PNAME>[A-Za-z_][A-Za-z_0-9.-]*?:[A-Za-z_0-9](?:[A-Za-z_0-9.-]*[A-Za-z_0-9])?|[A-Za-z_][A-Za-z_0-9.-]*?:)
  | (?P<KEYWORD>[A-Za-z][A-Za-z_0-9]*)
  | (?P<OP>&&|\|\||!=|<=|>=|[{}()\[\].;,/|^+*!<>=\-?])
    """,
    re.VERBOSE,
)


@dataclass(frozen=True)
class Tok:
    kind: str
    text: str
    pos: int


def tokenize(text: str) -> list[Tok]:
    toks: list[Tok] = []
    i = 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if m is None:
            raise SyntaxError(f"SPARQL lex error at offset {i}: {text[i:i+20]!r}")
        kind = m.lastgroup
        if kind != "WS":
            toks.append(Tok(kind, m.group(), i))
        i = m.end()
    toks.append(Tok("EOF", "", len(text)))
    return toks


# ---------------------------------------------------------------- parser

_AGG_FUNCS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT"}
_EXPR_FUNCS = {
    "STR", "LANG", "DATATYPE", "BOUND", "REGEX", "STRSTARTS", "STRENDS",
    "CONTAINS", "STRLEN", "UCASE", "LCASE", "ABS", "COALESCE", "IF",
    "ISIRI", "ISURI", "ISLITERAL", "ISBLANK", "SAMETERM",
    "ROUND", "CEIL", "FLOOR", "SUBSTR", "CONCAT", "REPLACE",
    "STRBEFORE", "STRAFTER", "ENCODE_FOR_URI", "MD5", "SHA1", "SHA256",
    "SHA384", "SHA512", "IRI", "URI", "STRDT", "STRLANG", "ISNUMERIC",
    "LANGMATCHES", "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
}


class _Parser:
    def __init__(self, toks: list[Tok], text: str):
        self.toks = toks
        self.text = text
        self.i = 0
        self.prefixes: dict[str, str] = {}

    # -- token helpers ---------------------------------------------------

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t.kind == "KEYWORD" and t.text.upper() in kws

    def eat_kw(self, kw: str) -> None:
        if not self.at_kw(kw):
            self.err(f"expected {kw}")
        self.next()

    def at_op(self, op: str) -> bool:
        t = self.peek()
        return t.kind == "OP" and t.text == op

    def eat_op(self, op: str) -> None:
        if not self.at_op(op):
            self.err(f"expected {op!r}")
        self.next()

    def err(self, msg: str):
        t = self.peek()
        raise SyntaxError(
            f"SPARQL parse error at offset {t.pos} (near {t.text!r}): {msg}"
        )

    # -- prologue --------------------------------------------------------

    def parse(self) -> Query:
        while self.at_kw("PREFIX", "BASE"):
            if self.at_kw("BASE"):
                self.next()
                if self.peek().kind != "IRIREF":
                    self.err("expected IRI after BASE")
                self.prefixes[""] = self.next().text[1:-1]
            else:
                self.next()
                if self.peek().kind != "PNAME":
                    self.err("expected prefix name")
                pfx = self.next().text
                if not pfx.endswith(":"):
                    self.err("prefix declaration must end with ':'")
                if self.peek().kind != "IRIREF":
                    self.err("expected IRI in PREFIX")
                self.prefixes[pfx[:-1]] = self.next().text[1:-1]
        if self.at_kw("SELECT"):
            q = self.parse_select()
        elif self.at_kw("ASK"):
            q = self.parse_ask()
        elif self.at_kw("CONSTRUCT"):
            q = self.parse_construct()
        elif self.at_kw("DESCRIBE"):
            q = self.parse_describe()
        else:
            self.err("expected SELECT, ASK, CONSTRUCT or DESCRIBE")
        if self.peek().kind != "EOF":
            self.err("trailing input after query")
        return q

    # -- query forms -----------------------------------------------------

    def parse_select(self) -> Query:
        self.eat_kw("SELECT")
        distinct = False
        if self.at_kw("DISTINCT"):
            distinct = True
            self.next()
        elif self.at_kw("REDUCED"):
            self.next()  # REDUCED may legally return duplicates; we dedup
            distinct = True
        projection: list = []
        if self.at_op("*"):
            self.next()
        else:
            while True:
                if self.peek().kind == "VAR":
                    projection.append(Var(self.next().text[1:]))
                elif self.at_op("("):
                    projection.append(self.parse_projection_expr())
                else:
                    break
            if not projection:
                self.err("SELECT needs a projection or *")
        fg, fn = self.parse_dataset()
        where = self.parse_where()
        group_by, having, order_by, limit, offset = self.parse_modifiers()
        return Query("SELECT", distinct, projection, [], where,
                     group_by, having, order_by, limit, offset, fg, fn)

    def parse_projection_expr(self):
        self.eat_op("(")
        e = self.parse_expr()
        self.eat_kw("AS")
        if self.peek().kind != "VAR":
            self.err("expected variable after AS")
        alias = self.next().text[1:]
        self.eat_op(")")
        if isinstance(e, Aggregate):
            return Aggregate(e.func, e.arg, e.distinct, alias, e.sep)
        return ProjExpr(e, alias)

    def parse_aggregate(self) -> Aggregate:
        func = self.next().text.upper()
        self.eat_op("(")
        distinct = False
        if self.at_kw("DISTINCT"):
            distinct = True
            self.next()
        if self.at_op("*"):
            self.next()
            arg: object = "*"
        else:
            # full expression argument (SUM(?a * ?b), COUNT(STR(?o)),
            # AVG(xsd:integer(?v)), ...); a bare ?v parses to Var
            arg = self.parse_expr()
        sep = " "
        if self.at_op(";"):  # GROUP_CONCAT(?x; SEPARATOR="...")
            self.next()
            self.eat_kw("SEPARATOR")
            self.eat_op("=")
            if self.peek().kind != "STRING":
                self.err("SEPARATOR needs a string literal")
            sep = unescape(self.next().text[1:-1])
        self.eat_op(")")
        return Aggregate(func, arg, distinct, "", sep)

    def parse_describe(self) -> Query:
        """DESCRIBE (var | iri)+ [WHERE {...}] — projection holds the
        described resources (Var or Term); an absent WHERE leaves an
        empty group."""
        self.eat_kw("DESCRIBE")
        resources: list = []
        while True:
            t = self.peek()
            if t.kind == "VAR":
                resources.append(Var(self.next().text[1:]))
            elif t.kind in ("IRIREF", "PNAME"):
                resources.append(self.parse_term_or_var())
            else:
                break
        if not resources:
            self.err("DESCRIBE needs at least one resource")
        fg, fn = self.parse_dataset()
        where = GroupGraphPattern()
        if self.at_kw("WHERE") or self.at_op("{"):
            where = self.parse_where()
        return Query("DESCRIBE", True, resources, [], where,
                     [], None, [], None, None, fg, fn)

    def parse_ask(self) -> Query:
        self.eat_kw("ASK")
        fg, fn = self.parse_dataset()
        where = self.parse_where()
        return Query("ASK", False, [], [], where, [], None, [], None,
                     None, fg, fn)

    def parse_construct(self) -> Query:
        self.eat_kw("CONSTRUCT")
        if self.at_kw("WHERE") or self.at_op("{") is False:
            # CONSTRUCT WHERE { pattern }: the pattern IS the template
            fg, fn = self.parse_dataset()
            where = self.parse_where()
            template = [
                e
                for e in where.elements
                if isinstance(e, TriplePattern)
                and isinstance(e.p, (Term, Var))
            ]
            if len(template) != len(where.elements):
                self.err(
                    "CONSTRUCT WHERE allows only plain triple patterns"
                )
            _, _, order_by, limit, offset = self.parse_modifiers()
            return Query("CONSTRUCT", True, [], template, where,
                         [], None, order_by, limit, offset, fg, fn)
        self.eat_op("{")
        template = self.parse_triples_block(paths_allowed=False)
        self.eat_op("}")
        fg, fn = self.parse_dataset()
        where = self.parse_where()
        _, _, order_by, limit, offset = self.parse_modifiers()
        return Query("CONSTRUCT", True, [], template, where,
                     [], None, order_by, limit, offset, fg, fn)

    def parse_dataset(self) -> tuple[list, list]:
        """FROM <g> / FROM NAMED <g> clauses (dataset selection)."""
        from_graphs: list = []
        from_named: list = []
        while self.at_kw("FROM"):
            self.next()
            named = False
            if self.at_kw("NAMED"):
                self.next()
                named = True
            t = self.parse_term_or_var()
            if not isinstance(t, Term):
                self.err("FROM takes an IRI")
            (from_named if named else from_graphs).append(t)
        return from_graphs, from_named

    def parse_where(self) -> GroupGraphPattern:
        if self.at_kw("WHERE"):
            self.next()
        return self.parse_ggp()

    def parse_modifiers(self):
        group_by: list = []
        having = None
        order_by: list = []
        limit = offset = None
        if self.at_kw("GROUP"):
            self.next()
            self.eat_kw("BY")
            while self.peek().kind == "VAR":
                group_by.append(Var(self.next().text[1:]))
            if not group_by:
                self.err("GROUP BY needs at least one variable")
        if self.at_kw("HAVING"):
            self.next()
            self.eat_op("(")
            having = self.parse_expr()
            self.eat_op(")")
        if self.at_kw("ORDER"):
            self.next()
            self.eat_kw("BY")
            while True:
                if self.at_kw("ASC", "DESC"):
                    asc = self.next().text.upper() == "ASC"
                    self.eat_op("(")
                    e = self.parse_expr()
                    self.eat_op(")")
                    order_by.append((e, asc))
                elif self.peek().kind == "VAR":
                    order_by.append((Var(self.next().text[1:]), True))
                else:
                    break
            if not order_by:
                self.err("ORDER BY needs at least one sort key")
        # LIMIT/OFFSET in either order, each at most once
        for _ in range(2):
            if self.at_kw("LIMIT"):
                self.next()
                limit = int(self.next().text)
            elif self.at_kw("OFFSET"):
                self.next()
                offset = int(self.next().text)
        return group_by, having, order_by, limit, offset

    # -- graph patterns --------------------------------------------------

    def parse_ggp(self) -> GroupGraphPattern:
        self.eat_op("{")
        g = GroupGraphPattern()
        while not self.at_op("}"):
            if self.at_kw("FILTER"):
                self.next()
                if self.at_op("("):
                    self.eat_op("(")
                    e = self.parse_expr()
                    self.eat_op(")")
                else:  # FILTER REGEX(...) / FILTER BOUND(...) forms
                    e = self.parse_primary_expr()
                g.elements.append(FilterClause(e))
            elif self.at_kw("OPTIONAL"):
                self.next()
                g.elements.append(OptionalGroup(self.parse_ggp()))
            elif self.at_kw("MINUS"):
                self.next()
                g.elements.append(MinusGroup(self.parse_ggp()))
            elif self.at_kw("GRAPH"):
                self.next()
                gt = self.parse_term_or_var()
                if not isinstance(gt, (Var, Term)):
                    self.err("GRAPH takes an IRI or a variable")
                g.elements.append(GraphGroup(gt, self.parse_ggp()))
            elif self.at_kw("BIND"):
                self.next()
                self.eat_op("(")
                e = self.parse_expr()
                self.eat_kw("AS")
                if self.peek().kind != "VAR":
                    self.err("expected variable after AS")
                v = Var(self.next().text[1:])
                self.eat_op(")")
                g.elements.append(BindClause(e, v))
            elif self.at_kw("VALUES"):
                g.elements.append(self.parse_values())
            elif (
                self.at_op("{")
                and self.toks[self.i + 1].kind == "KEYWORD"
                and self.toks[self.i + 1].text.upper() == "SELECT"
            ):
                self.next()
                sub = self.parse_select()
                self.eat_op("}")
                g.elements.append(SubSelect(sub))
            elif self.at_op("{"):
                branches = [self.parse_ggp()]
                while self.at_kw("UNION"):
                    self.next()
                    branches.append(self.parse_ggp())
                if len(branches) == 1:
                    g.elements.extend(branches[0].elements)
                else:
                    g.elements.append(UnionGroup(branches))
            else:
                g.elements.extend(self.parse_triples_block())
            if self.at_op("."):
                self.next()
        self.eat_op("}")
        return g

    def parse_values(self) -> ValuesClause:
        self.eat_kw("VALUES")
        variables: list[Var] = []
        rows: list[tuple] = []
        if self.peek().kind == "VAR":  # VALUES ?x { v v ... }
            variables.append(Var(self.next().text[1:]))
            self.eat_op("{")
            while not self.at_op("}"):
                rows.append((self.parse_values_term(),))
            self.eat_op("}")
        else:  # VALUES (?x ?y) { (v v) ... }
            self.eat_op("(")
            while self.peek().kind == "VAR":
                variables.append(Var(self.next().text[1:]))
            self.eat_op(")")
            self.eat_op("{")
            while self.at_op("("):
                self.eat_op("(")
                row = []
                while not self.at_op(")"):
                    row.append(self.parse_values_term())
                self.eat_op(")")
                if len(row) != len(variables):
                    self.err("VALUES row width mismatch")
                rows.append(tuple(row))
            self.eat_op("}")
        return ValuesClause(variables, rows)

    def parse_values_term(self):
        if self.at_kw("UNDEF"):
            self.next()
            return None
        t = self.parse_term_or_var()
        if isinstance(t, Var):
            self.err("VALUES data must be constant terms")
        return t

    def parse_triples_block(self, paths_allowed: bool = True) -> list:
        """One subject with `;`/`,` predicate-object lists; loops while
        further subjects follow (separated by `.`)."""
        out: list[TriplePattern] = []
        while True:
            s = self.parse_term_or_var()
            while True:
                p = self.parse_path() if paths_allowed else self.parse_verb()
                while True:
                    o = self.parse_term_or_var()
                    out.append(TriplePattern(s, p, o))
                    if self.at_op(","):
                        self.next()
                        continue
                    break
                if self.at_op(";"):
                    self.next()
                    if self.at_op(".") or self.at_op("}"):  # dangling ;
                        break
                    continue
                break
            if self.at_op("."):
                # consume only if another subject follows (the caller also
                # accepts a trailing '.')
                nxt = self.toks[self.i + 1]
                if nxt.kind in ("VAR", "IRIREF", "PNAME", "STRING",
                                "NUMBER", "BLANK"):
                    self.next()
                    continue
            break
        return out

    def parse_verb(self):
        t = self.peek()
        if t.kind == "KEYWORD" and t.text == "a":
            self.next()
            return Term(RDF_TYPE)
        v = self.parse_term_or_var()
        if isinstance(v, (Term, Var)):
            return v
        self.err("invalid predicate")

    # -- property paths --------------------------------------------------

    def parse_path(self):
        """PathAlt := PathSeq ('|' PathSeq)* ; plain single-IRI paths
        collapse back to a Term / Var so simple BGPs stay BGPs."""
        t = self.peek()
        if t.kind == "VAR":  # predicate variable: no path syntax after
            return Var(self.next().text[1:])
        if t.kind == "KEYWORD" and t.text == "a":
            self.next()
            node: object = PathPred(RDF_TYPE)
        else:
            node = self.parse_path_seq()
        alts = [node]
        while self.at_op("|"):
            self.next()
            alts.append(self.parse_path_seq())
        node = PathAlt(tuple(alts)) if len(alts) > 1 else alts[0]
        if isinstance(node, PathPred):
            return Term(node.iri)  # plain predicate: ordinary BGP leaf
        return node

    def parse_path_seq(self):
        steps = [self.parse_path_elt()]
        while self.at_op("/"):
            self.next()
            steps.append(self.parse_path_elt())
        return PathSeq(tuple(steps)) if len(steps) > 1 else steps[0]

    def parse_path_elt(self):
        inverse = False
        if self.at_op("^"):
            self.next()
            inverse = True
        node = self.parse_path_primary()
        if self.at_op("+"):
            self.next()
            node = PathRepeat(node, 1, None)
        elif self.at_op("*"):
            self.next()
            node = PathRepeat(node, 0, None)
        elif self.at_op("?"):
            # zero-or-one; a `?name` token lexes as VAR, so a bare `?`
            # here is unambiguously the path modifier (the W3C grammar
            # resolves the same ambiguity the same way)
            self.next()
            node = PathRepeat(node, 0, 1)
        elif self.at_op("{"):
            self.next()
            lo = int(self.next().text)
            hi: int | None = lo
            if self.at_op(","):
                self.next()
                hi = None
                if self.peek().kind == "NUMBER":
                    hi = int(self.next().text)
            self.eat_op("}")
            node = PathRepeat(node, lo, hi)
        return PathInv(node) if inverse else node

    def parse_path_primary(self):
        if self.at_op("!"):
            self.next()
            return self.parse_negated_property_set()
        if self.at_op("("):
            self.next()
            alts = [self.parse_path_seq()]
            while self.at_op("|"):
                self.next()
                alts.append(self.parse_path_seq())
            self.eat_op(")")
            return PathAlt(tuple(alts)) if len(alts) > 1 else alts[0]
        t = self.peek()
        if t.kind == "KEYWORD" and t.text == "a":
            self.next()
            return PathPred(RDF_TYPE)
        if t.kind == "IRIREF":
            return PathPred(self.next().text[1:-1])
        if t.kind == "PNAME":
            return PathPred(self._expand_pname(self.next().text))
        self.err("expected a predicate IRI in property path")

    def parse_negated_property_set(self) -> PathNeg:
        """After the leading `!`: a single (possibly inverted) IRI or a
        parenthesized `|`-list of them (SPARQL 1.1 PathNegatedPropertySet)."""

        def one() -> tuple[str, bool]:
            inv = False
            if self.at_op("^"):
                self.next()
                inv = True
            t = self.peek()
            if t.kind == "KEYWORD" and t.text == "a":
                self.next()
                return RDF_TYPE, inv
            if t.kind == "IRIREF":
                return self.next().text[1:-1], inv
            if t.kind == "PNAME":
                return self._expand_pname(self.next().text), inv
            self.err("expected an IRI in negated property set")

        items: list[tuple[str, bool]] = []
        if self.at_op("("):
            self.next()
            items.append(one())
            while self.at_op("|"):
                self.next()
                items.append(one())
            self.eat_op(")")
        else:
            items.append(one())
        fwd = tuple(iri for iri, inv in items if not inv)
        bwd = tuple(iri for iri, inv in items if inv)
        return PathNeg(fwd, bwd)

    # -- terms -----------------------------------------------------------

    def _expand_pname(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            self.err(f"undeclared prefix {pfx!r}")
        return self.prefixes[pfx] + local

    def parse_term_or_var(self):
        t = self.peek()
        if t.kind == "VAR":
            return Var(self.next().text[1:])
        if t.kind == "IRIREF":
            return Term(self.next().text[1:-1])
        if t.kind == "PNAME":
            return Term(self._expand_pname(self.next().text))
        if t.kind == "BLANK":
            return Term(self.next().text)
        if t.kind == "NUMBER":
            return NumLit(self.next().text)
        if t.kind == "STRING":
            content = unescape(self.next().text[1:-1])
            if self.peek().kind == "LANGTAG":
                tag = self.next().text[1:]
                return Term(f'"{content}"@{tag}')
            if self.peek().kind == "DOUBLECARET":
                self.next()
                tt = self.peek()
                if tt.kind == "IRIREF":
                    dt = self.next().text[1:-1]
                elif tt.kind == "PNAME":
                    dt = self._expand_pname(self.next().text)
                else:
                    self.err("expected datatype IRI after ^^")
                return Term(f'"{content}"^^<{dt}>')
            return Term(f'"{content}"')
        if t.kind == "KEYWORD" and t.text in ("true", "false"):
            self.next()
            return Term(f'"{t.text}"^^<{XSD}boolean>')
        self.err("expected a term or variable")

    # -- expressions -----------------------------------------------------

    def parse_expr(self):
        return self.parse_or()

    def parse_or(self):
        left = self.parse_and()
        while self.at_op("||"):
            self.next()
            left = BinOp("||", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_cmp()
        while self.at_op("&&"):
            self.next()
            left = BinOp("&&", left, self.parse_cmp())
        return left

    def parse_cmp(self):
        left = self.parse_add()
        for op in ("<=", ">=", "!=", "=", "<", ">"):
            if self.at_op(op):
                self.next()
                return BinOp(op, left, self.parse_add())
        if self.at_kw("IN"):
            self.next()
            return self._in_list(left)
        if self.at_kw("NOT") and self._peek_kw_after_not() == "IN":
            self.next()  # NOT
            self.next()  # IN
            return UnaryOp("!", self._in_list(left))
        return left

    def _peek_kw_after_not(self) -> str:
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        return nxt.text.upper() if nxt and nxt.kind == "KEYWORD" else ""

    def _in_list(self, left):
        """`expr IN (e1, ..., en)` desugars to an =-chain (SPARQL 17.4.1.9)."""
        self.eat_op("(")
        items = [self.parse_expr()]
        while self.at_op(","):
            self.next()
            items.append(self.parse_expr())
        self.eat_op(")")
        node = BinOp("=", left, items[0])
        for it in items[1:]:
            node = BinOp("||", node, BinOp("=", left, it))
        return node

    def parse_add(self):
        left = self.parse_mul()
        while self.at_op("+") or self.at_op("-"):
            op = self.next().text
            left = BinOp(op, left, self.parse_mul())
        return left

    def parse_mul(self):
        left = self.parse_unary()
        while self.at_op("*") or self.at_op("/"):
            op = self.next().text
            left = BinOp(op, left, self.parse_unary())
        return left

    def parse_unary(self):
        if self.at_op("!"):
            self.next()
            return UnaryOp("!", self.parse_unary())
        if self.at_op("-"):
            self.next()
            return UnaryOp("-", self.parse_unary())
        return self.parse_primary_expr()

    def parse_primary_expr(self):
        t = self.peek()
        if t.kind == "OP" and t.text == "(":
            self.next()
            e = self.parse_expr()
            self.eat_op(")")
            return e
        if t.kind == "VAR":
            return Var(self.next().text[1:])
        if t.kind == "NUMBER":
            return NumLit(self.next().text)
        if t.kind == "STRING":
            tm = self.parse_term_or_var()  # re-use literal parsing
            if isinstance(tm, Term) and tm.lex.startswith('"') and tm.lex.endswith('"'):
                return StrLit(tm.lex[1:-1])  # plain string: compare by value
            return tm
        if t.kind in ("IRIREF", "PNAME"):
            return self.parse_term_or_var()
        if t.kind == "KEYWORD":
            kw = t.text.upper()
            if kw in ("TRUE", "FALSE"):
                self.next()
                return Term(f'"{t.text.lower()}"^^<{XSD}boolean>')
            if kw == "EXISTS":
                self.next()
                return ExistsExpr(self.parse_ggp(), False)
            if kw == "NOT":
                self.next()
                self.eat_kw("EXISTS")
                return ExistsExpr(self.parse_ggp(), True)
            if kw in _AGG_FUNCS:
                # aggregate as an expression leaf: projection
                # expressions ((SUM(?x)/COUNT(*) AS ?m)) and HAVING
                # conditions (HAVING(COUNT(?x) > 5))
                return self.parse_aggregate()
            if kw in _EXPR_FUNCS:
                self.next()
                self.eat_op("(")
                args = []
                if not self.at_op(")"):
                    args.append(self.parse_expr())
                    while self.at_op(","):
                        self.next()
                        args.append(self.parse_expr())
                self.eat_op(")")
                return FuncCall(kw, tuple(args))
        self.err("expected an expression")


def parse_query(text: str) -> Query:
    """Parse a SPARQL string into a Query AST."""
    return _Parser(tokenize(text), text).parse()


def parse_update(text: str) -> list:
    """Parse a SPARQL UPDATE string into a list of operations
    (InsertData | DeleteData | Modify), `;`-separated, applied in
    order. Subset: INSERT DATA, DELETE DATA, DELETE WHERE,
    [DELETE {t}] [INSERT {t}] WHERE {p}. No GRAPH blocks inside
    updates; LOAD/CLEAR/MOVE are not supported."""
    p = _Parser(tokenize(text), text)
    while p.at_kw("PREFIX", "BASE"):
        # reuse the prologue loop by parsing it the same way parse() does
        if p.at_kw("BASE"):
            p.next()
            p.prefixes[""] = p.next().text[1:-1]
        else:
            p.next()
            pfx = p.next().text
            p.prefixes[pfx[:-1]] = p.next().text[1:-1]
    ops: list = []

    def ground_block() -> list:
        p.eat_op("{")
        tris = p.parse_triples_block(paths_allowed=False) if not p.at_op("}") else []
        p.eat_op("}")
        for t in tris:
            for x in (t.s, t.p, t.o):
                if isinstance(x, Var):
                    p.err("DATA blocks must be ground (no variables)")
        return tris

    def tmpl_block() -> list:
        p.eat_op("{")
        tris = p.parse_triples_block(paths_allowed=False) if not p.at_op("}") else []
        p.eat_op("}")
        return tris

    while p.peek().kind != "EOF":
        if p.at_kw("INSERT"):
            p.next()
            if p.at_kw("DATA"):
                p.next()
                ops.append(InsertData(ground_block()))
            else:  # INSERT {t} WHERE {p}
                tmpl = tmpl_block()
                p.eat_kw("WHERE")
                ops.append(Modify([], tmpl, p.parse_ggp()))
        elif p.at_kw("DELETE"):
            p.next()
            if p.at_kw("DATA"):
                p.next()
                ops.append(DeleteData(ground_block()))
            elif p.at_kw("WHERE"):
                p.next()
                g = p.parse_ggp()
                tmpl = [e for e in g.elements if isinstance(e, TriplePattern)]
                ops.append(Modify(tmpl, [], g))
            else:  # DELETE {t} [INSERT {t}] WHERE {p}
                dt = tmpl_block()
                it: list = []
                if p.at_kw("INSERT"):
                    p.next()
                    it = tmpl_block()
                p.eat_kw("WHERE")
                ops.append(Modify(dt, it, p.parse_ggp()))
        else:
            p.err("expected INSERT or DELETE")
        if p.at_op(";"):
            p.next()
    if not ops:
        raise SyntaxError("empty SPARQL UPDATE")
    return ops
