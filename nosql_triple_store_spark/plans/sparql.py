"""Thin SPARQL SELECT front-end (VERDICT r5 #6): a textual query
surface for the reference's RDF domain, compiling to the SAME
encoded-store plans the hand-built BGP queries use.

Scope (documented subset, rejected loudly outside it):
- ``SELECT ?v ... | *``, ``WHERE { ... }``
- conjunctive triple patterns ``?s p o .`` (constants as bare words,
  ``"literals"``, or ``<iris>``; variables as ``?name``)
- ``OPTIONAL { ... }`` blocks (left-join semantics, compile_bgp)
- ``FILTER(expr)`` with comparisons ``=, !=, <, <=, >, >=`` between a
  variable and a string literal (or two variables), combined with
  ``&&`` / ``||``, plus ``REGEX(?v, "pat")``, the string predicates
  ``CONTAINS/STRSTARTS/STRENDS(?v, "lit")``, and list membership
  ``?v IN ("a", ...)`` / ``?v NOT IN ("a", ...)`` (string-literal
  lists, lowered to scan-local isin predicates like VALUES)
- ``ORDER BY ?v [DESC(?v)]``, ``LIMIT n``, ``OFFSET k`` (requires
  ORDER BY), ``DISTINCT``
- aggregates ``(COUNT(*)|COUNT(?v)|COUNT(DISTINCT ?v)|MIN(?v)|MAX(?v)
  |SUM(?v)|AVG(?v) AS ?alias)`` with ``GROUP BY ?v ...`` (DISTINCT
  under other aggregates rejected) — SUM/AVG try_cast the
  string terms to double and skip non-numeric ones (SQL NULL-skip
  semantics; documented deviation from SPARQL 1.1 error propagation)
- ``{ group } UNION { group } [UNION ...]`` at the top of WHERE — bag
  union (UNION ALL) of conjunctive groups binding IDENTICAL variable
  sets (SPARQL's unbound-column semantics are rejected, not guessed);
  OPTIONAL blocks compose over the union (round 10:
  leftjoin(union(A, B), C), the spec's group semantics)
- ``ASK { ... }`` (boolean existence, LIMIT-1 plan) and
  ``VALUES ?v { "lit" ... }`` inline bindings (single variable,
  encoded to an IN-list filter pushed into the join pipeline)
- property paths in the predicate position: sequence ``p/q``,
  alternation ``p|q``, inverse ``^p``, one-or-more ``p+`` (semi-naive
  closure), zero-or-more ``p*`` (closure plus zero-length pairs scoped
  to nodes incident to the path's relation — the spec's
  all-graph-terms zero-length universe is out of scope), and
  ``( path )`` grouping — compiled as relational path algebra over the
  encoded store; paths compose with OPTIONAL / UNION / MINUS /
  NOT-EXISTS groups (each group compiles plain and path patterns
  through the same per-pattern lowering)
- ``MINUS { ... }`` (anti-join on shared variables; no-op when the
  group shares none, per SPARQL 1.1 §8.3) and
  ``FILTER NOT EXISTS { ... }`` (anti-join on shared variables; with
  none shared, removes everything iff the group matches at all) —
  conjunctive groups only, not combinable with UNION
- ``BIND(expr AS ?alias)`` and SELECT expressions ``(expr AS ?alias)``
  with arithmetic (+ - * /, try_cast-double NULL-skip semantics over
  the string terms), ``CONCAT/UCASE/LCASE/STRLEN/SUBSTR/STR``,
  ``REPLACE(expr, "pat", "repl")`` (SPARQL 1.1 fn:replace — regex,
  every match, literal pattern/replacement) and
  ``STRBEFORE/STRAFTER(expr, "sep")`` (empty string when the
  separator is absent, per spec; non-empty literal separators), string
  and numeric literals — post-decode column extensions, evaluated
  after the group join (textual order; aggregates not allowed inside)
- ``HAVING(...)`` constraints over aggregate aliases and anonymous
  aggregate calls (hidden agg columns, projected away); numeric
  comparison when either side is a number or aggregate
- ``{ SELECT ... }`` sub-queries (one nesting level per group body,
  recursion handles deeper nesting), joined to the outer group on
  shared variables over decoded terms; OPTIONAL/MINUS/NOT EXISTS/
  VALUES still require outer triple patterns. A shared variable that
  is OPTIONAL-bound on either side is REJECTED loudly (ADVICE r8: an
  inner join drops NULL-bound rows, whereas SPARQL treats unbound as
  compatible — rejecting beats silently deviating)
- negated property sets ``!p`` / ``!(p|q|...)`` (forward-only; one
  pushed-down NOT-IN scan predicate over encoded ids)
- ``CONSTRUCT { template } WHERE { ... } [LIMIT n]`` — graph output
  (s, p, o), set semantics, OPTIONAL-miss instantiations dropped;
  and ``ASK`` bodies compose with property paths
- ``ORDER BY`` over EXPRESSIONS (round 9, VERDICT r8 #7): sort keys
  may be ``?var``, ``ASC(expr)/DESC(expr)``, a function call
  (``STRLEN(?v)`` …) or a parenthesised expression, using the same
  expression grammar as BIND; every variable in a sort expression
  must appear in the projected result (loud rejection otherwise)
- ``GRAPH ?g { ... }`` / ``GRAPH <iri> { ... }`` + ``FROM NAMED``
  (round 9, VERDICT r8 #5): named-graph groups over the
  graph-partitioned quad layout (plans/quads.py — the dataset's
  entity families as named graphs). GRAPH groups take plain
  conjunctive patterns (no paths/OPTIONAL inside) and join the rest
  of the query on shared variables over decoded terms; a constant
  graph prunes ``g=`` partitions at the scan, ``FROM NAMED``
  restricts which graphs a ``GRAPH ?g`` ranges over. Plain ``FROM``
  (default-graph override) makes the DEFAULT graph the merge of the
  listed graphs (round 10): one broadcast semi-join restricts the
  encoded relation by subject-derived graph, so patterns, paths,
  OPTIONAL and MINUS all compose; with no FROM, the default graph is
  the full triples view.
- SPARQL UPDATE subset (round 9, VERDICT r8 #4), via
  :func:`parse_sparql_update` / :func:`compile_sparql_update`:
  ``INSERT DATA { triples }`` (the reference's R2 LWW-register upsert
  per (s, p) key — the new object REPLACES any existing objects of
  that key, SQLite3DBConnector.py:48-119), ``DELETE DATA
  { triples }`` (exact-triple removal), ``DELETE WHERE { pattern }``
  (single triple pattern; every matching triple removed), sequenced
  with ``;`` in textual order. The compiler returns the POST-UPDATE
  STATE as a DataFrame (the engine's storage is immutable parquet —
  updates are state transformations, exactly q_upsert_result's
  contract). Template forms ``[DELETE { tmpl }] [INSERT { tmpl }]
  WHERE { patterns }`` are ALSO supported (see the round-9-additions
  list below), as are ``WITH``/``USING`` dataset scoping (round 11),
  ``CLEAR``/``DROP`` (``GRAPH <g>`` or ``ALL``) and ``LOAD <doc>
  [INTO GRAPH <g>]`` (round 11 — R19's bulk TSV load as a SPARQL
  graph union). Everything else of SPARQL Update (USING NAMED,
  GRAPH-qualified data, CLEAR/DROP DEFAULT/NAMED) is rejected loudly.

Round-9 additions beyond the verdict list:
- aggregates ``GROUP_CONCAT(?v [; SEPARATOR="s"])`` (values SORTED for
  determinism — SPARQL leaves the order undefined) and ``SAMPLE(?v)``
  (deterministic MIN — a conforming choice)
- ``BOUND(?v)`` / ``!BOUND(?v)`` in FILTER; ``IF(cond, then, else)``
  (cond = BOUND or one comparison) and ``COALESCE(...)`` in
  BIND/SELECT expressions — both evaluate branches/arguments in string
  context (the engine's documented string semantics)
- template updates ``[DELETE { tmpl }] [INSERT { tmpl }] WHERE
  { patterns }``: the WHERE solutions instantiate the templates
  against the CURRENT state; deletion removes the instantiated
  triples, insertion follows SPARQL 1.1 §3.1.3 GRAPH SET semantics
  (union-distinct) — unlike INSERT DATA, which keeps the reference's
  R2 LWW-register upsert (both documented on compile_sparql_update)

String-context numeric lexical forms (ADVICE r8): integer-valued
numeric LITERALS render in integer form ("1", not "1.0") inside
CONCAT/STR/…; the RESULT of an arithmetic expression is a double and
keeps the double lexical form ("2.0") when stringified — documented
deviation (SPARQL integer arithmetic would stay integer), same family
as the SUM/AVG NULL-skip note above.

Execution strategy mirrors q_bgp_star_encoded (operators/
relational_ext3.py): pattern constants are looked up in the
dictionary ONCE (driver-side, k terms), the conjunctive join runs
entirely in dictionary-encoded long space, and only the final
bindings pay string decode. Equality filters against literals are
encoded too, so they run as long comparisons in the join pipeline;
ordering/regex/inequality filters run post-decode (they need string
collation). Scale: identical to the hand-built plans — the parser
adds zero runtime surface, it only CONSTRUCTS the same DataFrame
graph, so everything SCALE.md says about BGP joins applies verbatim.

Reference parity: the reference's query surface is one HTTP endpoint
per fixed pattern shape (MasterServer.py:292-330 routes
subject-keyed GETs); this module supersedes it with the standard RDF
query text instead of bespoke endpoints.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bgp import Term, Var, compile_bgp
from ..materialize import fixpoint, lazy_cut, materialize

_TOKEN = re.compile(
    r"""
    \s*(?:
      (?P<string>"(?:[^"\\]|\\.)*")
    | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<iri><[^>]*>)
    | (?P<num>[0-9]+\.[0-9]+)
    | (?P<punct>&&|\|\||!=|<=|>=|[{}().=<>*,/|+^!;-])
    | (?P<word>[A-Za-z_][A-Za-z0-9_:]*|[0-9]+)
    )""",
    re.VERBOSE,
)


def tokenize(text: str) -> list[str]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip():
                raise ValueError(
                    f"SPARQL tokenizer: unexpected input at {text[pos:pos+20]!r}"
                )
            break
        out.append(m.group().strip())
        pos = m.end()
    return out


@dataclass(frozen=True)
class PathPred:
    name: str


@dataclass(frozen=True)
class PathInv:
    inner: object


@dataclass(frozen=True)
class PathSeq:
    left: object
    right: object


@dataclass(frozen=True)
class PathAlt:
    left: object
    right: object


@dataclass(frozen=True)
class PathPlus:
    inner: object


@dataclass(frozen=True)
class PathStar:
    inner: object


@dataclass(frozen=True)
class PathNeg:
    """Negated property set !p / !(p|q|...): any triple whose predicate
    is NOT in the set (forward direction only — ^ inside a negated set
    is rejected loudly)."""

    names: tuple


_PATH_TYPES = (PathPred, PathInv, PathSeq, PathAlt, PathPlus, PathStar, PathNeg)


def _path_preds(path) -> set[str]:
    if isinstance(path, PathPred):
        return {path.name}
    if isinstance(path, PathNeg):
        return set(path.names)
    if isinstance(path, (PathInv, PathPlus, PathStar)):
        return _path_preds(path.inner)
    return _path_preds(path.left) | _path_preds(path.right)


@dataclass
class Filter:
    """One comparison: lhs/rhs are Var or str literal."""

    op: str
    lhs: object
    rhs: object
    conj: str = "&&"  # connective to the PREVIOUS filter in the chain


@dataclass
class Agg:
    """One aggregate select item: (FN(?var) AS ?alias)."""

    fn: str  # COUNT | MIN | MAX | SUM | AVG | GROUP_CONCAT | SAMPLE
    var: str | None  # None for COUNT(*)
    alias: str
    sep: str = " "  # GROUP_CONCAT separator (SPARQL default: space)
    distinct: bool = False  # COUNT(DISTINCT ?v) only


# --- expression AST (BIND + SELECT expressions + HAVING operands) ---
@dataclass(frozen=True)
class ExprVar:
    name: str


@dataclass(frozen=True)
class ExprStr:
    value: str


@dataclass(frozen=True)
class ExprNum:
    value: float  # integer-valued floats stay exact


@dataclass(frozen=True)
class ExprFunc:
    fn: str  # CONCAT | UCASE | LCASE | STRLEN | SUBSTR | STR
    args: tuple


@dataclass(frozen=True)
class ExprBin:
    op: str  # + - * /
    left: object
    right: object


_EXPR_FUNCS = (
    "CONCAT",
    "UCASE",
    "LCASE",
    "STRLEN",
    "SUBSTR",
    "STR",
    "COALESCE",
    "REPLACE",
    "STRBEFORE",
    "STRAFTER",
)
_AGG_FNS = ("COUNT", "MIN", "MAX", "SUM", "AVG", "GROUP_CONCAT", "SAMPLE")


@dataclass(frozen=True)
class ExprBound:
    """BOUND(?v) — true iff the variable is bound (non-NULL)."""

    var: str


@dataclass(frozen=True)
class ExprIf:
    """IF(cond, then, else) where cond is ExprBound or one comparison
    (op, lhs, rhs) over expressions; branches evaluate in string
    context (module-docstring string-semantics note)."""

    cond: object  # ExprBound | tuple[op, expr, expr]
    then: object
    other: object


def _expr_vars(e) -> set[str]:
    if isinstance(e, ExprVar):
        return {e.name}
    if isinstance(e, ExprBound):
        return {e.var}
    if isinstance(e, ExprIf):
        cond_vars = (
            {e.cond.var}
            if isinstance(e.cond, ExprBound)
            else _expr_vars(e.cond[1]) | _expr_vars(e.cond[2])
        )
        return cond_vars | _expr_vars(e.then) | _expr_vars(e.other)
    if isinstance(e, ExprBin):
        return _expr_vars(e.left) | _expr_vars(e.right)
    if isinstance(e, ExprFunc):
        out: set[str] = set()
        for a in e.args:
            out |= _expr_vars(a)
        return out
    return set()


@dataclass
class SparqlQuery:
    select: list[str]  # variable names, or ["*"]
    distinct: bool
    patterns: list[tuple[Term, Term, Term]]
    optionals: list[tuple[Term, Term, Term]] = field(default_factory=list)
    # each FILTER(...) is one GROUP: a chain of comparisons joined by
    # the Filter.conj connective (&& / ||), evaluated as one predicate
    filters: list[list[Filter]] = field(default_factory=list)
    # (key, desc) where key is a variable NAME (str) or an expression
    # AST (ORDER BY over expressions, round 9)
    order_by: list[tuple[object, bool]] = field(default_factory=list)
    limit: int | None = None
    # OFFSET k: skip the first k solutions (pagination); requires
    # ORDER BY so the skipped prefix is well-defined
    offset: int | None = None
    aggs: list[Agg] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    ask: bool = False
    values: list[tuple[str, list[str]]] = field(default_factory=list)
    # N>=2 alternative conjunctive groups ({A} UNION {B}); exclusive
    # with top-level `patterns`
    unions: list[list[tuple[Term, Term, Term]]] = field(
        default_factory=list
    )
    # MINUS { ... } groups: anti-join on SHARED vars; no-op when the
    # group shares no variable (SPARQL 1.1 §8.3)
    minus: list[list[tuple[Term, Term, Term]]] = field(
        default_factory=list
    )
    # FILTER NOT EXISTS { ... } groups: anti-join on shared vars; with
    # NO shared vars, removes everything iff the group matches at all
    not_exists: list[list[tuple[Term, Term, Term]]] = field(
        default_factory=list
    )
    # BIND(expr AS ?alias) statements, textual order (later binds may
    # reference earlier aliases)
    binds: list[tuple[str, object]] = field(default_factory=list)
    # (expr AS ?alias) SELECT items — projected after the plain vars
    select_exprs: list[tuple[str, object]] = field(default_factory=list)
    # HAVING(...) groups: Filter chains whose operands may additionally
    # be Agg calls or ExprNum literals; ANDed across groups
    having: list[list[Filter]] = field(default_factory=list)
    # { SELECT ... } sub-queries, joined to the group on shared vars
    subselects: list["SparqlQuery"] = field(default_factory=list)
    # CONSTRUCT template triples (graph output: s, p, o string columns,
    # set semantics); exclusive with select/aggs/ask
    construct: list[tuple[Term, Term, Term]] = field(default_factory=list)
    # GRAPH term { patterns } groups: term is Var or a graph name (str);
    # patterns are plain conjunctive triples over the quad layout
    graphs: list[tuple[Term, list[tuple[Term, Term, Term]]]] = field(
        default_factory=list
    )
    # FROM NAMED <g> dataset clause: restricts the named-graph universe
    from_named: list[str] = field(default_factory=list)
    # plain FROM <g> clauses: the DEFAULT graph becomes the merge of
    # the listed graphs — non-GRAPH patterns (and paths, OPTIONALs,
    # MINUS groups...) evaluate over that restriction only
    from_default: list[str] = field(default_factory=list)
    # DESCRIBE form: constant resource iris (no WHERE), or one variable
    # whose WHERE-solution bindings are the described resources
    describe_iris: list[str] = field(default_factory=list)
    describe_var: str | None = None


class _Parser:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise ValueError("SPARQL parser: unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, want: str) -> None:
        t = self.next()
        if t.upper() != want.upper():
            raise ValueError(f"SPARQL parser: expected {want!r}, got {t!r}")

    # ---- grammar ----
    def query(self, inner: bool = False) -> SparqlQuery:
        if (self.peek() or "").upper() == "ASK":
            self.next()
            if (self.peek() or "").upper() == "WHERE":
                self.next()
            self.expect("{")
            q = SparqlQuery(select=[], distinct=False, patterns=[])
            q.ask = True
            self._where_body(q)
            if self.peek() is not None:
                raise ValueError(
                    f"ASK takes no solution modifiers, got {self.peek()!r}"
                )
            self._validate(q)
            return q
        if (self.peek() or "").upper() == "DESCRIBE":
            # DESCRIBE <iri> [<iri> ...]  |  DESCRIBE ?v WHERE { ... }
            # — graph output: every triple where a described resource
            # is subject or object (the q_bgp_describe neighborhood
            # semantics), set-deduped (a graph has no duplicates)
            self.next()
            q = SparqlQuery(select=[], distinct=False, patterns=[])
            while (t := self.peek()) is not None and t.startswith("<"):
                q.describe_iris.append(self.next()[1:-1])
            if (t := self.peek()) is not None and t.startswith("?"):
                if q.describe_iris:
                    raise ValueError(
                        "DESCRIBE takes either <iri> constants or one "
                        "?var, not both"
                    )
                q.describe_var = self.next()[1:]
                self.expect("WHERE")
                self.expect("{")
                self._where_body(q)
            if not q.describe_iris and q.describe_var is None:
                raise ValueError("DESCRIBE needs <iri> terms or a ?var")
            if self.peek() is not None:
                raise ValueError(
                    f"DESCRIBE takes no solution modifiers, got "
                    f"{self.peek()!r}"
                )
            if q.describe_var is not None:
                self._validate(q)
            return q
        if (self.peek() or "").upper() == "CONSTRUCT":
            self.next()
            q = SparqlQuery(select=[], distinct=False, patterns=[])
            q.construct = self.group("CONSTRUCT")
            for pat in q.construct:
                if isinstance(pat[1], _PATH_TYPES):
                    raise ValueError(
                        "CONSTRUCT templates take plain predicates, "
                        "not property paths"
                    )
            self.expect("WHERE")
            self.expect("{")
            self._where_body(q)
            while (t := self.peek()) is not None:
                if t.upper() == "LIMIT":
                    self.next()
                    n = self.next()
                    if not n.isdigit():
                        raise ValueError(
                            f"LIMIT needs an integer, got {n!r}"
                        )
                    q.limit = int(n)
                else:
                    raise ValueError(
                        f"CONSTRUCT supports only LIMIT as a solution "
                        f"modifier, got {t!r}"
                    )
            self._validate(q)
            return q
        self.expect("SELECT")
        distinct = False
        if (self.peek() or "").upper() == "DISTINCT":
            self.next()
            distinct = True
        select: list[str] = []
        aggs: list[Agg] = []
        select_exprs: list[tuple[str, object]] = []
        while True:
            t = self.peek()
            if t is None:
                raise ValueError("SPARQL parser: missing WHERE")
            if t == "*":
                self.next()
                select = ["*"]
                break
            if t.startswith("?"):
                select.append(self.next()[1:])
                continue
            if t == "(":  # (AGG(?v) AS ?alias) or (expr AS ?alias)
                self.next()
                nxt = (self.peek() or "").upper()
                follows = (
                    self.toks[self.i + 1]
                    if self.i + 1 < len(self.toks)
                    else ""
                )
                if nxt in _AGG_FNS and follows == "(":
                    aggs.append(self._agg_call())
                else:
                    expr = self.expr()
                    self.expect("AS")
                    alias = self.next()
                    if not alias.startswith("?"):
                        raise ValueError(
                            "SELECT expression alias must be a ?var"
                        )
                    select_exprs.append((alias[1:], expr))
                self.expect(")")
                continue
            break
        if not select and not aggs and not select_exprs:
            raise ValueError("SPARQL parser: empty SELECT list")
        from_named: list[str] = []
        from_default: list[str] = []
        while (self.peek() or "").upper() == "FROM":
            self.next()
            if (self.peek() or "").upper() == "NAMED":
                self.next()
                g = self.next()
                if not g.startswith("<"):
                    raise ValueError(
                        f"FROM NAMED needs an <iri>, got {g!r}"
                    )
                from_named.append(g[1:-1])
            else:
                # plain FROM <g> (round 10 — default-graph override,
                # rejected through round 9): the default graph is the
                # MERGE of the listed graphs
                g = self.next()
                if not g.startswith("<"):
                    raise ValueError(f"FROM needs an <iri>, got {g!r}")
                from_default.append(g[1:-1])
        self.expect("WHERE")
        self.expect("{")
        q = SparqlQuery(select=select, distinct=distinct, patterns=[])
        q.aggs = aggs
        q.select_exprs = select_exprs
        q.from_named = from_named
        q.from_default = from_default
        self._where_body(q)
        self._modifiers(q, inner=inner)
        self._validate(q)
        return q

    def _agg_call(self, with_alias: bool = True) -> Agg:
        """AGG(?v|*) [AS ?alias] — shared by SELECT items (aliased)
        and HAVING operands (anonymous; compile assigns a hidden
        column)."""
        fn = self.next().upper()
        if fn not in _AGG_FNS:
            raise ValueError(
                f"unsupported aggregate {fn!r} "
                "(COUNT/MIN/MAX/SUM/AVG/GROUP_CONCAT/SAMPLE)"
            )
        self.expect("(")
        distinct = False
        if (self.peek() or "").upper() == "DISTINCT":
            # DISTINCT inside an aggregate: COUNT(DISTINCT ?v) only —
            # the everyday SPARQL 1.1 form; set-DISTINCT under
            # SUM/AVG/GROUP_CONCAT stays out of the documented subset
            if fn != "COUNT":
                raise ValueError(
                    f"{fn}(DISTINCT ...) is outside the subset "
                    "(COUNT(DISTINCT ?v) only)"
                )
            self.next()
            distinct = True
        a = self.next()
        if a == "*":
            if fn != "COUNT":
                raise ValueError(f"{fn}(*) is not valid SPARQL")
            if distinct:
                raise ValueError(
                    "COUNT(DISTINCT *) is outside the subset "
                    "(COUNT(DISTINCT ?v) only)"
                )
            var = None
        else:
            if not a.startswith("?"):
                raise ValueError(f"aggregate needs ?var, got {a!r}")
            var = a[1:]
        sep = " "
        if fn == "GROUP_CONCAT" and self.peek() == ";":
            self.next()
            kw = self.next()
            if kw.upper() != "SEPARATOR":
                raise ValueError(
                    f"GROUP_CONCAT modifier must be SEPARATOR, got {kw!r}"
                )
            self.expect("=")
            lit = self.next()
            if not lit.startswith('"'):
                raise ValueError("SEPARATOR needs a string literal")
            sep = _unquote(lit)
        self.expect(")")
        if not with_alias:
            return Agg(fn, var, "", sep, distinct)
        self.expect("AS")
        alias = self.next()
        if not alias.startswith("?"):
            raise ValueError("aggregate alias must be a ?var")
        return Agg(fn, var, alias[1:], sep, distinct)

    def _where_body(self, q: SparqlQuery) -> None:
        while True:
            t = self.peek()
            if t is None:
                raise ValueError("SPARQL parser: unterminated WHERE block")
            if t == "}":
                self.next()
                break
            up = t.upper()
            if t == ".":
                self.next()
            elif t == "{" and (
                self.toks[self.i + 1 : self.i + 2] or [""]
            )[0].upper() == "SELECT":
                # { SELECT ... } sub-query: parsed recursively; its
                # modifiers stop at the closing brace
                self.next()
                q.subselects.append(self.query(inner=True))
                self.expect("}")
            elif t == "{":  # { group } UNION { group } ...
                if q.patterns or q.unions:
                    raise ValueError(
                        "UNION groups cannot mix with top-level patterns"
                    )
                groups = [self.group()]
                while (self.peek() or "").upper() == "UNION":
                    self.next()
                    groups.append(self.group())
                if len(groups) < 2:
                    raise ValueError("a braced group requires UNION")
                q.unions = groups
            elif up == "OPTIONAL":
                self.next()
                self.expect("{")
                while self.peek() != "}":
                    if self.peek() == ".":
                        self.next()
                        continue
                    q.optionals.append(self.triple())
                self.expect("}")
            elif up == "GRAPH":
                self.next()
                gt = self.next()
                if gt.startswith("?"):
                    gterm: Term = Var(gt[1:])
                elif gt.startswith("<"):
                    gterm = gt[1:-1]
                else:
                    raise ValueError(
                        f"GRAPH takes ?var or <iri>, got {gt!r}"
                    )
                pats = self.group("GRAPH")
                for pat in pats:
                    if isinstance(pat[1], _PATH_TYPES):
                        raise ValueError(
                            "property paths inside GRAPH groups are "
                            "unsupported"
                        )
                q.graphs.append((gterm, pats))
            elif up == "MINUS":
                self.next()
                q.minus.append(self.group("MINUS"))
            elif up == "FILTER":
                self.next()
                if (self.peek() or "").upper() == "NOT":
                    self.next()
                    self.expect("EXISTS")
                    q.not_exists.append(self.group("FILTER NOT EXISTS"))
                else:
                    self.expect("(")
                    q.filters.append(self.filter_expr())
                    self.expect(")")
            elif up == "BIND":
                self.next()
                self.expect("(")
                expr = self.expr()
                self.expect("AS")
                v = self.next()
                if not v.startswith("?"):
                    raise ValueError("BIND alias must be a ?var")
                self.expect(")")
                q.binds.append((v[1:], expr))
            elif up == "VALUES":
                self.next()
                v = self.next()
                if not v.startswith("?"):
                    raise ValueError("VALUES needs a ?var")
                self.expect("{")
                lits = []
                while self.peek() != "}":
                    t2 = self.next()
                    if not t2.startswith('"'):
                        raise ValueError(
                            f"VALUES entries must be string literals, "
                            f"got {t2!r}"
                        )
                    lits.append(_unquote(t2))
                self.expect("}")
                if not lits:
                    raise ValueError("empty VALUES block")
                q.values.append((v[1:], lits))
            else:
                if q.unions:
                    # a triple AFTER the UNION block would be silently
                    # dropped by compile (all_groups covers unions only)
                    # — reject loudly instead of returning wrong answers
                    raise ValueError(
                        "UNION groups cannot mix with top-level patterns"
                    )
                q.patterns.append(self.triple())

    def _modifiers(self, q: SparqlQuery, inner: bool = False) -> None:
        while (t := self.peek()) is not None:
            up = t.upper()
            if inner and t == "}":
                return  # sub-SELECT: the caller consumes the brace
            if up == "HAVING":
                self.next()
                self.expect("(")
                q.having.append(self._having_expr())
                self.expect(")")
            elif up == "GROUP":
                self.next()
                self.expect("BY")
                while (nt := self.peek()) is not None and nt.startswith("?"):
                    q.group_by.append(self.next()[1:])
                if not q.group_by:
                    raise ValueError("SPARQL parser: empty GROUP BY")
            elif up == "ORDER":
                self.next()
                self.expect("BY")
                while (nt := self.peek()) is not None:
                    ntu = nt.upper()
                    follows = (
                        self.toks[self.i + 1]
                        if self.i + 1 < len(self.toks)
                        else ""
                    )
                    if nt.startswith("?"):
                        q.order_by.append((self.next()[1:], False))
                    elif ntu in ("DESC", "ASC"):
                        # DESC(?v) keeps the historical plain-var shape;
                        # DESC(expr) parses through the BIND expression
                        # grammar (round 9)
                        desc = self.next().upper() == "DESC"
                        self.expect("(")
                        key: object
                        if (self.peek() or "").startswith("?") and (
                            self.toks[self.i + 1 : self.i + 2] or [""]
                        )[0] == ")":
                            key = self.next()[1:]
                        else:
                            key = self.expr()
                        q.order_by.append((key, desc))
                        self.expect(")")
                    elif (ntu in _EXPR_FUNCS and follows == "(") or nt == "(":
                        # bare expression sort key: FUNC(...) or (expr)
                        q.order_by.append((self.expr(), False))
                    else:
                        break
                if not q.order_by:
                    raise ValueError("SPARQL parser: empty ORDER BY")
            elif up == "LIMIT":
                self.next()
                n = self.next()
                if not n.isdigit():
                    raise ValueError(f"LIMIT needs an integer, got {n!r}")
                q.limit = int(n)
            elif up == "OFFSET":
                self.next()
                n = self.next()
                if not n.isdigit():
                    raise ValueError(f"OFFSET needs an integer, got {n!r}")
                q.offset = int(n)
            else:
                raise ValueError(f"SPARQL parser: trailing token {t!r}")

    def _validate(self, q: SparqlQuery) -> None:
        if (
            not q.patterns
            and not q.unions
            and not q.subselects
            and not q.graphs
        ):
            raise ValueError("SPARQL parser: WHERE block has no patterns")
        if q.from_named and not q.graphs:
            raise ValueError(
                "FROM NAMED without a GRAPH group selects nothing — "
                "add GRAPH ?g { ... }"
            )
        if q.unions and q.patterns:
            # belt-and-braces twin of the parser-side guards: unions
            # and top-level patterns are exclusive by construction
            raise ValueError(
                "UNION groups cannot mix with top-level patterns"
            )
        if q.unions:
            # OPTIONAL / MINUS / NOT EXISTS over a UNION group are
            # SUPPORTED (round 10, VERDICT r9 #5 and its MINUS twin):
            # the union of branches compiles to one bound relation,
            # then the generic OPTIONAL left-extend and the shared-var
            # anti-joins apply to it exactly as to a conjunctive
            # group — leftjoin(union(A, B), C) / minus(union(A, B), C),
            # SPARQL 1.1's group semantics. The only UNION-shape
            # restriction left is the identical-binding check below.
            var_sets = [
                {t.name for pat in g for t in pat if isinstance(t, Var)}
                for g in q.unions
            ]
            if any(vs != var_sets[0] for vs in var_sets[1:]):
                raise ValueError(
                    f"UNION groups must bind identical variables, got "
                    f"{[sorted(v) for v in var_sets]}"
                )
        if q.aggs:
            if q.select == ["*"]:
                raise ValueError("SELECT * cannot be mixed with aggregates")
            if q.select_exprs:
                raise ValueError(
                    "SELECT expressions cannot be mixed with aggregates"
                )
            ungrouped = [v for v in q.select if v not in q.group_by]
            if ungrouped:
                raise ValueError(
                    f"non-aggregated SELECT vars {ungrouped} must appear "
                    "in GROUP BY"
                )
        elif q.group_by:
            # GROUP BY with no aggregates is legal SPARQL: one result
            # row per group (round 10 — was rejected through round 9).
            # Only grouped variables may be projected, same rule as
            # the aggregate case.
            if q.select == ["*"]:
                raise ValueError(
                    "SELECT * cannot be mixed with GROUP BY"
                )
            if q.select_exprs:
                raise ValueError(
                    "SELECT expressions with aggregate-less GROUP BY "
                    "are unsupported"
                )
            ungrouped = [v for v in q.select if v not in q.group_by]
            if ungrouped:
                raise ValueError(
                    f"non-aggregated SELECT vars {ungrouped} must appear "
                    "in GROUP BY"
                )
        if q.having and not q.aggs:
            raise ValueError("HAVING requires aggregates with GROUP BY")
        if q.offset is not None and not q.order_by:
            raise ValueError(
                "OFFSET without ORDER BY skips an undefined prefix — "
                "add ORDER BY"
            )
        if q.select_exprs and q.select == ["*"]:
            raise ValueError(
                "SELECT * cannot be mixed with SELECT expressions"
            )
        seen_aliases: set[str] = set()
        for alias, _expr in q.binds + q.select_exprs:
            if alias in seen_aliases:
                raise ValueError(f"duplicate BIND/expression alias ?{alias}")
            seen_aliases.add(alias)
        if q.subselects:
            for sub in q.subselects:
                if sub.ask:
                    raise ValueError("ASK cannot appear as a sub-query")

    def term(self) -> Term:
        t = self.next()
        if t.startswith("?"):
            return Var(t[1:])
        if t.startswith('"'):
            return _unquote(t)
        if t.startswith("<"):
            return t[1:-1]
        if t in ("{", "}", "(", ")", "."):
            raise ValueError(f"SPARQL parser: expected term, got {t!r}")
        return t  # bare word constant (predicate names, curies)

    def triple(self) -> tuple[Term, Term, Term]:
        return (self.term(), self.path_or_term(), self.term())

    # --- property-path grammar (predicate position) ---
    # path := seq ('|' seq)* ; seq := step ('/' step)* ;
    # step := '^' step | primary ['+'] ; primary := pred | '(' path ')'
    def path_or_term(self):
        t = self.peek()
        if t is not None and t.startswith("?"):
            nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else ""
            if nxt in ("/", "|", "+", "*", "^"):
                raise ValueError("variables cannot appear inside a path")
            return self.term()
        path = self._path_alt()
        if isinstance(path, PathPred):
            return path.name  # plain predicate constant
        return path

    def _path_alt(self):
        left = self._path_seq()
        while self.peek() == "|":
            self.next()
            left = PathAlt(left, self._path_seq())
        return left

    def _path_seq(self):
        left = self._path_step()
        while self.peek() == "/":
            self.next()
            left = PathSeq(left, self._path_step())
        return left

    def _path_step(self):
        if self.peek() == "^":
            self.next()
            return PathInv(self._path_step())
        prim = self._path_primary()
        if self.peek() == "+":
            self.next()
            prim = PathPlus(prim)
        elif self.peek() == "*":
            self.next()
            prim = PathStar(prim)
        return prim

    def _path_primary(self):
        t = self.next()
        if t == "!":  # negated property set: !p or !(p|q|...)
            names: list[str] = []
            if self.peek() == "(":
                self.next()
                while True:
                    names.append(self._neg_pred())
                    if self.peek() == "|":
                        self.next()
                        continue
                    break
                self.expect(")")
            else:
                names.append(self._neg_pred())
            return PathNeg(tuple(names))
        if t == "(":
            inner = self._path_alt()
            self.expect(")")
            return inner
        if t.startswith("?") or t.startswith('"'):
            raise ValueError(
                f"path elements must be predicate names, got {t!r}"
            )
        if t.startswith("<"):
            return PathPred(t[1:-1])
        if t in ("{", "}", ")", ".", "/", "|", "+", "^"):
            raise ValueError(f"expected path element, got {t!r}")
        return PathPred(t)

    def _neg_pred(self) -> str:
        t = self.next()
        if t == "^":
            raise ValueError(
                "inverse members inside a negated property set are "
                "unsupported (forward-only subset)"
            )
        if t.startswith("<"):
            return t[1:-1]
        if t.startswith("?") or t.startswith('"') or t in (
            "{", "}", "(", ")", ".", "/", "|", "+", "*", "!",
        ):
            raise ValueError(
                f"negated property sets take predicate names, got {t!r}"
            )
        return t

    def group(self, kind: str = "UNION") -> list[tuple[Term, Term, Term]]:
        self.expect("{")
        pats = []
        while self.peek() != "}":
            if self.peek() == ".":
                self.next()
                continue
            pats.append(self.triple())
        self.expect("}")
        if not pats:
            raise ValueError(f"empty {kind} group")
        return pats

    def filter_expr(self) -> list[Filter]:
        out: list[Filter] = []
        conj = "&&"
        while True:
            t = self.peek()
            if t is None:
                raise ValueError("SPARQL parser: unterminated FILTER")
            if t.upper() == "REGEX":
                self.next()
                self.expect("(")
                v = self.next()
                if not v.startswith("?"):
                    raise ValueError("REGEX needs a ?var first argument")
                self.expect(",")
                pat = self.next()
                if not pat.startswith('"'):
                    raise ValueError("REGEX needs a string pattern")
                self.expect(")")
                out.append(Filter("regex", Var(v[1:]), _unquote(pat), conj))
            elif t.upper() in ("CONTAINS", "STRSTARTS", "STRENDS"):
                fn = self.next().upper()
                self.expect("(")
                v = self.next()
                if not v.startswith("?"):
                    raise ValueError(f"{fn} needs a ?var first argument")
                self.expect(",")
                lit = self.next()
                if not lit.startswith('"'):
                    raise ValueError(f"{fn} needs a string literal")
                self.expect(")")
                out.append(
                    Filter(fn.lower(), Var(v[1:]), _unquote(lit), conj)
                )
            elif t.upper() == "BOUND" or (
                t == "!"
                and (self.toks[self.i + 1 : self.i + 2] or [""])[0].upper()
                == "BOUND"
            ):
                neg = t == "!"
                if neg:
                    self.next()
                self.next()
                self.expect("(")
                v = self.next()
                if not v.startswith("?"):
                    raise ValueError("BOUND needs a ?var")
                self.expect(")")
                out.append(
                    Filter("notbound" if neg else "bound", Var(v[1:]), None, conj)
                )
            else:
                lhs = self._operand()
                op = self.next()
                if op.upper() == "NOT":
                    nxt = self.next()
                    if nxt.upper() != "IN":
                        raise ValueError(
                            f"expected IN after NOT, got {nxt!r}"
                        )
                    op = "notin"
                elif op.upper() == "IN":
                    op = "in"
                if op in ("in", "notin"):
                    if not isinstance(lhs, Var):
                        raise ValueError("IN needs a ?var left-hand side")
                    out.append(
                        Filter(op, lhs, tuple(self._in_list()), conj)
                    )
                else:
                    if op not in ("=", "!=", "<", "<=", ">", ">="):
                        raise ValueError(
                            f"unsupported FILTER operator {op!r}"
                        )
                    rhs = self._operand()
                    out.append(Filter(op, lhs, rhs, conj))
            nxt = self.peek()
            if nxt in ("&&", "||"):
                conj = self.next()
                continue
            return out

    def _operand(self):
        t = self.next()
        if t.startswith("?"):
            return Var(t[1:])
        if t.startswith('"'):
            return _unquote(t)
        raise ValueError(
            f"FILTER operands must be ?var or \"literal\", got {t!r}"
        )

    def _in_list(self) -> list[str]:
        """(\"lit\", \"lit\", ...) after IN / NOT IN — string literals
        only, at least one, matching the VALUES literal subset."""
        self.expect("(")
        vals: list[str] = []
        while True:
            lit = self.next()
            if not lit.startswith('"'):
                raise ValueError(
                    f"IN list entries must be string literals, got {lit!r}"
                )
            vals.append(_unquote(lit))
            nxt = self.next()
            if nxt == ")":
                return vals
            if nxt != ",":
                raise ValueError(f"expected , or ) in IN list, got {nxt!r}")

    def _having_expr(self) -> list[Filter]:
        """HAVING constraint chain: comparisons whose operands are
        ?vars (aggregate aliases or grouped vars), anonymous aggregate
        calls, numeric literals, or string literals; && / || fold like
        FILTER groups."""
        out: list[Filter] = []
        conj = "&&"
        while True:
            lhs = self._having_operand()
            op = self.next()
            if op not in ("=", "!=", "<", "<=", ">", ">="):
                raise ValueError(f"unsupported HAVING operator {op!r}")
            rhs = self._having_operand()
            out.append(Filter(op, lhs, rhs, conj))
            nxt = self.peek()
            if nxt in ("&&", "||"):
                conj = self.next()
                continue
            return out

    def _having_operand(self):
        t = self.peek()
        if t is None:
            raise ValueError("SPARQL parser: unterminated HAVING")
        if t.upper() in _AGG_FNS and (
            self.toks[self.i + 1 : self.i + 2] or [""]
        )[0] == "(":
            return self._agg_call(with_alias=False)
        if t.startswith("?"):
            return Var(self.next()[1:])
        if t.startswith('"'):
            return _unquote(self.next())
        if re.fullmatch(r"[0-9]+(\.[0-9]+)?", t):
            return ExprNum(float(self.next()))
        raise ValueError(
            f"HAVING operands must be ?var, aggregate, number or "
            f"\"literal\", got {t!r}"
        )

    def _if_cond(self):
        """IF(...) condition: BOUND(?v) or one comparison between
        expressions (string collation for the comparison, matching the
        post-decode FILTER semantics)."""
        if (self.peek() or "").upper() == "BOUND" and (
            self.toks[self.i + 1 : self.i + 2] or [""]
        )[0] == "(":
            self.next()
            self.next()
            v = self.next()
            if not v.startswith("?"):
                raise ValueError("BOUND needs a ?var")
            self.expect(")")
            return ExprBound(v[1:])
        lhs = self.expr()
        op = self.next()
        if op not in ("=", "!=", "<", "<=", ">", ">="):
            raise ValueError(f"unsupported IF condition operator {op!r}")
        rhs = self.expr()
        return (op, lhs, rhs)

    # --- BIND / SELECT expression grammar ---
    # expr := mul (('+'|'-') mul)* ; mul := prim (('*'|'/') prim)* ;
    # prim := ?var | "lit" | number | FUNC(expr, ...) | '(' expr ')'
    def expr(self):
        left = self._expr_mul()
        while self.peek() in ("+", "-"):
            op = self.next()
            left = ExprBin(op, left, self._expr_mul())
        return left

    def _expr_mul(self):
        left = self._expr_prim()
        while self.peek() in ("*", "/"):
            op = self.next()
            left = ExprBin(op, left, self._expr_prim())
        return left

    def _expr_prim(self):
        t = self.next()
        if t == "(":
            inner = self.expr()
            self.expect(")")
            return inner
        if t.startswith("?"):
            return ExprVar(t[1:])
        if t.startswith('"'):
            return ExprStr(_unquote(t))
        if re.fullmatch(r"[0-9]+(\.[0-9]+)?", t):
            return ExprNum(float(t))
        fn = t.upper()
        if fn == "BOUND" and self.peek() == "(":
            self.next()
            v = self.next()
            if not v.startswith("?"):
                raise ValueError("BOUND needs a ?var")
            self.expect(")")
            return ExprBound(v[1:])
        if fn == "IF" and self.peek() == "(":
            self.next()
            cond = self._if_cond()
            self.expect(",")
            then = self.expr()
            self.expect(",")
            other = self.expr()
            self.expect(")")
            return ExprIf(cond, then, other)
        if fn in _EXPR_FUNCS and self.peek() == "(":
            self.next()
            args = [self.expr()]
            while self.peek() == ",":
                self.next()
                args.append(self.expr())
            self.expect(")")
            if fn in ("UCASE", "LCASE", "STRLEN", "STR") and len(args) != 1:
                raise ValueError(f"{fn} takes exactly one argument")
            if fn == "SUBSTR":
                if len(args) not in (2, 3):
                    raise ValueError("SUBSTR takes (?v, start[, length])")
                for a in args[1:]:
                    if not isinstance(a, ExprNum) or a.value != int(
                        a.value
                    ):
                        raise ValueError(
                            "SUBSTR start/length must be integer literals"
                        )
            if fn == "CONCAT" and len(args) < 2:
                raise ValueError("CONCAT takes two or more arguments")
            if fn == "REPLACE":
                if len(args) != 3 or not all(
                    isinstance(a, ExprStr) for a in args[1:]
                ):
                    raise ValueError(
                        'REPLACE takes (expr, "pattern", "replacement") '
                        "with literal pattern/replacement"
                    )
            if fn in ("STRBEFORE", "STRAFTER"):
                if (
                    len(args) != 2
                    or not isinstance(args[1], ExprStr)
                    or args[1].value == ""
                ):
                    raise ValueError(
                        f'{fn} takes (expr, "separator") with a '
                        "non-empty literal separator"
                    )
            return ExprFunc(fn, tuple(args))
        if fn in _AGG_FNS:
            raise ValueError(
                f"aggregates are not allowed in BIND/expressions "
                f"(got {fn})"
            )
        raise ValueError(f"expected expression, got {t!r}")


def _unquote(tok: str) -> str:
    return tok[1:-1].replace('\\"', '"').replace("\\\\", "\\")


def parse_sparql(text: str) -> SparqlQuery:
    """Parse the supported SPARQL SELECT subset to a SparqlQuery."""
    return _Parser(tokenize(text)).query()


def _optional_only_vars(q: SparqlQuery) -> set[str]:
    """Variables a query can leave NULL: bound by an OPTIONAL pattern
    but by no required pattern (top-level, union, graph, or path)."""
    required = {
        t.name
        for pats in (
            [p for g in (q.unions or [q.patterns]) for p in g],
            [p for _, g in q.graphs for p in g],
        )
        for pat in pats
        for t in pat
        if isinstance(t, Var)
    }
    opt = {
        t.name
        for pat in q.optionals
        for t in pat
        if isinstance(t, Var)
    }
    return opt - required


def _filter_col(flt: Filter):
    def side(x):
        return F.col(x.name) if isinstance(x, Var) else F.lit(x)

    if flt.op == "regex":
        return side(flt.lhs).rlike(flt.rhs)
    if flt.op == "contains":
        return side(flt.lhs).contains(flt.rhs)
    if flt.op == "strstarts":
        return side(flt.lhs).startswith(flt.rhs)
    if flt.op == "strends":
        return side(flt.lhs).endswith(flt.rhs)
    if flt.op == "in":
        return side(flt.lhs).isin(list(flt.rhs))
    if flt.op == "notin":
        return ~side(flt.lhs).isin(list(flt.rhs))
    if flt.op == "bound":
        return side(flt.lhs).isNotNull()
    if flt.op == "notbound":
        return side(flt.lhs).isNull()
    lhs, rhs = side(flt.lhs), side(flt.rhs)
    return {
        "=": lhs == rhs,
        "!=": lhs != rhs,
        "<": lhs < rhs,
        "<=": lhs <= rhs,
        ">": lhs > rhs,
        ">=": lhs >= rhs,
    }[flt.op]


def _group_col(group: list[Filter]):
    """One FILTER(...) group -> one Column (&&/|| fold, left-assoc)."""
    col = _filter_col(group[0])
    for f in group[1:]:
        col = (col & _filter_col(f)) if f.conj == "&&" else (col | _filter_col(f))
    return col


def _path_rel(enc: DataFrame, path, cmap) -> DataFrame:
    """Relational path algebra over the encoded triples: a path
    denotes a binary relation (src, dst). Pred is a pushed-down
    constant-predicate scan; Inv swaps; Alt unions; Seq equi-joins on
    the hop; Plus is the semi-naive transitive closure
    :func:`_closure_rel`."""
    if isinstance(path, PathPred):
        return enc.filter(
            F.col("p") == F.lit(int(cmap[path.name]))
        ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
    if isinstance(path, PathNeg):
        # negated property set: every triple whose predicate id is NOT
        # in the set — still one pushed-down scan predicate (NOT IN of
        # k literal ids); an excluded name absent from the dictionary
        # encodes to -1, which no triple carries, excluding nothing
        return enc.filter(
            ~F.col("p").isin([int(cmap[n]) for n in path.names])
        ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
    if isinstance(path, PathInv):
        r = _path_rel(enc, path.inner, cmap)
        return r.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    if isinstance(path, PathAlt):
        return _path_rel(enc, path.left, cmap).unionByName(
            _path_rel(enc, path.right, cmap)
        )
    if isinstance(path, PathSeq):
        a = _path_rel(enc, path.left, cmap).alias("a")
        b = _path_rel(enc, path.right, cmap).alias("b")
        return a.join(b, F.col("a.dst") == F.col("b.src")).select(
            F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
        )
    if isinstance(path, PathPlus):
        return _closure_rel(
            _path_rel(enc, path.inner, cmap).distinct().transform(materialize)
        )
    if isinstance(path, PathStar):
        # zero-or-more: transitive closure UNION the zero-length pairs.
        # Documented subset semantics: zero-length matches are scoped
        # to nodes INCIDENT to the path's own relation (the SPARQL
        # spec's all-graph-terms zero-length universe is out of scope;
        # constants with no inner-path edge contribute no (c, c) row).
        base = _path_rel(enc, path.inner, cmap).distinct().transform(materialize)
        closure = _closure_rel(base)
        nodes = (
            base.select("src")
            .unionByName(base.select(F.col("dst").alias("src")))
            .distinct()
        )
        ident = nodes.select("src", F.col("src").alias("dst"))
        return closure.unionByName(ident).distinct()
    raise ValueError(f"unknown path element {path!r}")


_CLOSURE_ROUND_CAP = 12


def _closure_rel(base: DataFrame) -> DataFrame:
    """Semi-naive transitive closure of a (src, dst) relation:
    frontier ⋈ base per round, left-anti dedup against the accumulated
    closure, lineage cut per round, stop when a round derives no new
    pair, capped at ``_CLOSURE_ROUND_CAP`` rounds. The one closure
    behind `p+`, `p*` and q_bgp_path_closure."""

    def step(state):
        closure, frontier = state
        hop = (
            frontier.alias("f")
            .join(base.alias("b"), F.col("f.dst") == F.col("b.src"))
            .select(
                F.col("f.src").alias("src"), F.col("b.dst").alias("dst")
            )
            .distinct()
        )
        new = hop.join(
            closure, ["src", "dst"], "left_anti"
        ).transform(materialize)
        if new.isEmpty():
            return state, True
        return (closure.unionByName(new).transform(materialize), new), False

    closure, _ = fixpoint(
        (base, base), step, _CLOSURE_ROUND_CAP, "path closure"
    )
    return closure


def _bind_path(rel: DataFrame, subj, obj, cmap) -> DataFrame:
    """(src, dst) relation -> binding columns per the subject/object
    terms, mirroring bgp._pattern_step's constant/variable handling."""
    df = rel
    proj = []
    if isinstance(subj, Var):
        proj.append(F.col("src").alias(subj.name))
    else:
        df = df.filter(F.col("src") == F.lit(int(cmap[subj])))
    if isinstance(obj, Var):
        if isinstance(subj, Var) and obj.name == subj.name:
            df = df.filter(F.col("src") == F.col("dst"))
        else:
            proj.append(F.col("dst").alias(obj.name))
    else:
        df = df.filter(F.col("dst") == F.lit(int(cmap[obj])))
    if not proj:
        raise ValueError("path pattern binds no variables")
    return df.select(*proj)


def _quad_pattern_step(quads: DataFrame, gterm, pat) -> DataFrame:
    """One GRAPH-group pattern over the quad layout — bgp._pattern_step
    extended with the graph position: a constant graph is a pushed-down
    (partition-pruning) filter, a ?g variable is a projected binding
    shared across the group's patterns."""
    df = quads
    proj = []
    seen: dict[str, str] = {}
    if isinstance(gterm, Var):
        proj.append(F.col("g").alias(gterm.name))
        seen[gterm.name] = "g"
    else:
        df = df.filter(F.col("g") == F.lit(gterm))
    for col, term in zip(("s", "p", "o"), pat):
        if isinstance(term, Var):
            if term.name in seen:
                df = df.filter(F.col(col) == F.col(seen[term.name]))
            else:
                proj.append(F.col(col).alias(term.name))
                seen[term.name] = col
        else:
            df = df.filter(F.col(col) == F.lit(term))
    return df.select(*proj)


def _expr_col(e):
    """Expression AST -> Column over the DECODED (string) bindings.
    Numeric contexts try_cast operands to double (terms are strings;
    non-numeric terms become NULL, the SQL NULL-skip rule documented
    for SUM/AVG); string contexts cast to string."""

    def num(x):
        return _expr_col(x).try_cast("double")

    def s(x):
        # integer-valued numeric LITERALS keep SPARQL's integer lexical
        # form in string contexts ("1", not "1.0" — ADVICE r8);
        # arithmetic RESULTS are doubles and keep the double form
        # (documented deviation, module docstring)
        if isinstance(x, ExprNum) and x.value == int(x.value):
            return F.lit(str(int(x.value)))
        return _expr_col(x).cast("string")

    if isinstance(e, ExprVar):
        return F.col(e.name)
    if isinstance(e, ExprStr):
        return F.lit(e.value)
    if isinstance(e, ExprNum):
        return F.lit(e.value)
    if isinstance(e, ExprBound):
        return F.col(e.var).isNotNull()
    if isinstance(e, ExprIf):
        if isinstance(e.cond, ExprBound):
            cond = F.col(e.cond.var).isNotNull()
        else:
            op, cl, cr = e.cond
            lhs, rhs = _expr_col(cl), _expr_col(cr)
            cond = {
                "=": lhs == rhs,
                "!=": lhs != rhs,
                "<": lhs < rhs,
                "<=": lhs <= rhs,
                ">": lhs > rhs,
                ">=": lhs >= rhs,
            }[op]
        return F.when(cond, s(e.then)).otherwise(s(e.other))
    if isinstance(e, ExprBin):
        lhs, rhs = num(e.left), num(e.right)
        return {
            "+": lhs + rhs,
            "-": lhs - rhs,
            "*": lhs * rhs,
            "/": lhs / rhs,
        }[e.op]
    if isinstance(e, ExprFunc):
        if e.fn == "COALESCE":
            # first BOUND value, string context (SPARQL's type
            # polymorphism is out of scope — documented string semantics)
            return F.coalesce(*[s(a) for a in e.args])
        if e.fn == "CONCAT":
            return F.concat(*[s(a) for a in e.args])
        if e.fn == "UCASE":
            return F.upper(s(e.args[0]))
        if e.fn == "LCASE":
            return F.lower(s(e.args[0]))
        if e.fn == "STRLEN":
            return F.length(s(e.args[0]))
        if e.fn == "STR":
            return s(e.args[0])
        if e.fn == "REPLACE":
            # SPARQL 1.1 REPLACE is regex-based (fn:replace)
            return F.regexp_replace(
                s(e.args[0]), e.args[1].value, e.args[2].value
            )
        if e.fn in ("STRBEFORE", "STRAFTER"):
            # spec: empty string when the separator does not occur; a
            # NULL (unbound OPTIONAL) input stays NULL so the BIND
            # alias stays unbound and BOUND() agrees with SPARQL 1.1
            # error propagation (ADVICE r9)
            col, sep = s(e.args[0]), e.args[1].value
            loc = F.locate(sep, col)
            if e.fn == "STRBEFORE":
                hit = F.substr(col, F.lit(1), loc - 1)
            else:
                hit = F.substr(col, loc + len(sep))
            return (
                F.when(col.isNull(), F.lit(None).cast("string"))
                .when(loc > 0, hit)
                .otherwise(F.lit(""))
            )
        if e.fn == "SUBSTR":
            pos = e.args[1]
            if not isinstance(pos, ExprNum) or pos.value != int(pos.value):
                raise ValueError("SUBSTR start must be an integer literal")
            if len(e.args) == 3:
                ln = e.args[2]
                if not isinstance(ln, ExprNum) or ln.value != int(ln.value):
                    raise ValueError(
                        "SUBSTR length must be an integer literal"
                    )
                return F.substring(
                    s(e.args[0]), int(pos.value), int(ln.value)
                )
            return F.substring(s(e.args[0]), int(pos.value), 2**31 - 1)
    raise ValueError(f"unknown expression node {e!r}")


def _agg_col(a: Agg):
    """One Agg -> its Column (shared by SELECT aggregates and hidden
    HAVING aggregates). SUM/AVG try_cast the string terms to double —
    non-numeric terms become NULL and are skipped (SQL semantics,
    documented deviation from SPARQL 1.1 error propagation)."""
    if a.fn == "COUNT":
        if a.distinct:
            return F.countDistinct(F.col(a.var))
        return F.count(F.lit(1)) if a.var is None else F.count(F.col(a.var))
    if a.fn == "MIN":
        return F.min(F.col(a.var))
    if a.fn == "MAX":
        return F.max(F.col(a.var))
    if a.fn == "GROUP_CONCAT":
        # SPARQL leaves the concatenation order undefined; this engine
        # SORTS values so the result is deterministic and oracle-
        # comparable (DuckDB twin: string_agg(... ORDER BY ...))
        return F.array_join(
            F.sort_array(F.collect_list(F.col(a.var))), a.sep
        )
    if a.fn == "SAMPLE":
        # SAMPLE may return any value of the group; the engine picks
        # MIN — a conforming, deterministic choice
        return F.min(F.col(a.var))
    num = F.col(a.var).try_cast("double")
    return F.sum(num) if a.fn == "SUM" else F.avg(num)


def compile_sparql_encoded(
    spark: SparkSession, sf_dir: str, text: str
) -> DataFrame:
    """Parse + compile a SPARQL SELECT against the dictionary-encoded
    triple store: the exact execution pipeline of q_bgp_star_encoded
    (constants encoded once driver-side, joins in long space, decode
    only the final bindings), now reachable from query text."""
    return _compile_query(spark, sf_dir, parse_sparql(text))


def _compile_query(
    spark: SparkSession, sf_dir: str, q: SparqlQuery
) -> DataFrame:
    """Compile one parsed SparqlQuery; recurses for sub-SELECTs (each
    sub-query probes its own constants and decodes its own bindings —
    the join with the outer group happens on decoded terms, which is
    equality-safe because the dictionary is a bijection)."""
    from ..operators.relational_ext3 import encoded_store

    if q.describe_iris or q.describe_var is not None:
        # DESCRIBE: the resources' full neighborhood (subject OR object
        # position), set semantics. Constant iris push straight into the
        # two scans; the ?var form compiles its WHERE to a SELECT of
        # the variable and joins the distinct bindings in.
        from copy import copy as _shallow

        from .bgp import triples_view

        t = triples_view(spark, sf_dir)
        if q.describe_iris:
            s_side = t.filter(F.col("s").isin(q.describe_iris))
            o_side = t.filter(F.col("o").isin(q.describe_iris))
        else:
            q2 = _shallow(q)
            q2.describe_var = None
            q2.select = [q.describe_var]
            q2.distinct = True
            res = (
                _compile_query(spark, sf_dir, q2)
                .select(F.col(q.describe_var).alias("__r"))
                .distinct()
            )
            s_side = t.join(res, t["s"] == res["__r"]).select("s", "p", "o")
            o_side = t.join(res, t["o"] == res["__r"]).select("s", "p", "o")
        return s_side.unionByName(o_side).distinct()

    d, enc = encoded_store(spark, sf_dir)
    if q.from_default:
        # plain FROM <g> (round 10): the default graph becomes the
        # MERGE of the listed graphs. The quad layout derives each
        # triple's graph from its SUBJECT's entity prefix
        # (quads_view), so the restriction is one broadcast semi-join
        # of the encoded relation against the allowed subject ids —
        # every downstream construct (patterns, paths, OPTIONAL,
        # MINUS, aggregates) then sees only the merged default graph.
        # GRAPH groups range over the NAMED set implied by the same
        # dataset clause: q.from_named if given, else EMPTY (handled
        # at the quad-layout scan below, per SPARQL 1.1 §13.2).
        allowed_subjects = d.filter(
            F.concat(
                F.lit("g:"), F.split(F.col("term"), ":").getItem(0)
            ).isin(list(q.from_default))
        ).select(F.col("term_id").alias("s"))
        enc = enc.join(F.broadcast(allowed_subjects), "s", "left_semi")
    subs = [_compile_query(spark, sf_dir, s) for s in q.subselects]

    plain = [p for p in q.patterns if not isinstance(p[1], _PATH_TYPES)]
    path_pats = [p for p in q.patterns if isinstance(p[1], _PATH_TYPES)]
    all_groups = q.unions if q.unions else [list(plain)]
    consts = set()
    anti_groups = list(q.minus) + list(q.not_exists)
    for subj, mid, obj in (
        [p for g in all_groups for p in g]
        + list(q.optionals)
        + [p for g in anti_groups for p in g]
        + path_pats
    ):
        # a path in predicate position contributes its predicate NAMES
        # (not the path object) to the dictionary probe
        if isinstance(mid, _PATH_TYPES):
            consts |= _path_preds(mid)
        elif not isinstance(mid, Var):
            consts.add(mid)
        consts.update(t for t in (subj, obj) if not isinstance(t, Var))
    for _var, lits in q.values:
        consts.update(lits)
    # single-comparison (in)equality FILTER groups against literals run
    # encoded (long-space) inside the join pipeline; multi-term groups
    # and <,>,REGEX need string collation and run post-decode. Vars
    # produced outside the encoded pipeline (BIND aliases, sub-SELECT
    # outputs) only exist post-decode, so their filters can't run
    # encoded.
    patvars = {
        t.name
        for pats in ([p for g in all_groups for p in g], q.optionals, path_pats)
        for pat in pats
        for t in (pat[0], pat[2])
        if isinstance(t, Var)
    }
    eq_groups = [
        g
        for g in q.filters
        if len(g) == 1
        and g[0].op in ("=", "!=")
        and isinstance(g[0].lhs, Var) != isinstance(g[0].rhs, Var)
        and (g[0].lhs if isinstance(g[0].lhs, Var) else g[0].rhs).name
        in patvars
    ]
    for g in eq_groups:
        f = g[0]
        consts.add(f.lhs if not isinstance(f.lhs, Var) else f.rhs)
    cmap = {
        r["term"]: r["term_id"]
        for r in d.filter(F.col("term").isin(*consts)).collect()
    } if consts else {}
    missing = consts - set(cmap)
    # an absent constant can never match: empty result, but keep the
    # schema by binding it to an impossible id
    cmap.update({t: -1 for t in missing})

    def enc_pat(pat):
        return tuple(
            t if isinstance(t, Var) else int(cmap[t]) for t in pat
        )

    def pat_step(pat):
        """One pattern -> its encoded bindings relation: plain triples
        via the BGP lowering, paths via the path algebra."""
        if isinstance(pat[1], _PATH_TYPES):
            return _bind_path(
                _path_rel(enc, pat[1], cmap), pat[0], pat[2], cmap
            )
        return compile_bgp(enc, [enc_pat(pat)])

    def compile_group(g):
        """A conjunctive group (plain triples AND path patterns) ->
        encoded bindings; shared by the top-level patterns, each UNION
        branch, and each MINUS / NOT EXISTS group."""
        b = None
        for pat in g:
            step = pat_step(pat)
            if b is None:
                b = step
            else:
                shared = sorted(set(b.columns) & set(step.columns))
                b = (
                    b.join(step, on=shared, how="inner")
                    if shared
                    else b.crossJoin(step)
                )
        return b

    if q.unions:
        parts = [compile_group(g) for g in all_groups]
        bound = parts[0].select(*sorted(parts[0].columns))
        for part in parts[1:]:
            bound = bound.unionByName(part.select(*sorted(part.columns)))
    elif plain:
        # keep the hand-built lowering for the all-plain conjunction
        # (tests pin this plan shape equal to q_bgp_star_encoded);
        # plain OPTIONALs ride the same call
        bound = compile_bgp(
            enc,
            [enc_pat(p) for p in plain],
            [
                enc_pat(p)
                for p in q.optionals
                if not isinstance(p[1], _PATH_TYPES)
            ],
        )
    else:
        bound = None
    for pat in path_pats:
        step = pat_step(pat)
        if bound is None:
            bound = step
        else:
            shared = sorted(set(bound.columns) & set(step.columns))
            bound = (
                bound.join(step, on=shared, how="inner")
                if shared
                else bound.crossJoin(step)
            )
    if bound is None and (
        q.optionals or q.minus or q.not_exists or q.values or eq_groups
    ):
        # sub-SELECT-/GRAPH-only WHERE: these constructs all need
        # encoded pattern bindings to act on
        raise ValueError(
            "OPTIONAL/MINUS/NOT EXISTS/VALUES/FILTER require triple "
            "patterns alongside a sub-SELECT or GRAPH group"
        )
    # OPTIONALs left-extend the bindings after every required pattern
    # is joined: extend where the pattern matches, NULL where not.
    # Plain OPTIONALs over an all-plain conjunction were consumed by
    # compile_bgp above (pinned plan shape); path-valued OPTIONALs —
    # and plain ones whose required group is path-only — take the same
    # left-join rule here.
    plain_opts_done = bool(plain) and not q.unions
    for pat in q.optionals:
        if not isinstance(pat[1], _PATH_TYPES) and plain_opts_done:
            continue
        step = pat_step(pat)
        shared = sorted(set(bound.columns) & set(step.columns))
        if not shared:
            raise ValueError(
                "OPTIONAL pattern shares no variable with BGP"
            )
        bound = bound.join(step, on=shared, how="left")
    # MINUS / FILTER NOT EXISTS: the excluded group compiles to its own
    # encoded BGP join; exclusion is a left-anti join on the SHARED
    # variable columns (dictionary encoding preserves equality, so the
    # anti-join runs in long space — same lowering as the hand-built
    # q_bgp_minus / q_bgp_notexists). With NO shared variables the two
    # constructs diverge per SPARQL 1.1 §8.3: MINUS removes nothing;
    # NOT EXISTS removes every row iff the group matches at all.
    for g, is_minus in [(g, True) for g in q.minus] + [
        (g, False) for g in q.not_exists
    ]:
        right = compile_group(g)
        shared = sorted(set(bound.columns) & set(right.columns))
        if shared:
            bound = bound.join(
                right.select(*shared).distinct(), shared, "left_anti"
            )
        elif not is_minus:
            # uncorrelated NOT EXISTS: anti against a 1-row marker —
            # all rows survive iff the group is empty
            marker = right.limit(1).select(F.lit(1).alias("__m"))
            bound = bound.join(marker, F.lit(True), "left_anti")
    # every FILTER variable must be bound by the patterns, a BIND
    # alias, or a sub-SELECT output (rejects loudly as ValueError, not
    # an engine AnalysisException)
    fvars = {
        x.name
        for g in q.filters
        for f in g
        for x in (f.lhs, f.rhs)
        if isinstance(x, Var)
    }
    available = (
        (set(bound.columns) if bound is not None else set())
        | {a for a, _ in q.binds}
        | {c for s in subs for c in s.columns}
        | {
            t.name
            for gterm, g in q.graphs
            for pat in g
            for t in (gterm, *pat)
            if isinstance(t, Var)
        }
    )
    unbound_f = sorted(fvars - available)
    if unbound_f:
        raise ValueError(f"FILTER over unbound variables: {unbound_f}")
    for g in eq_groups:
        f = g[0]
        var = f.lhs if isinstance(f.lhs, Var) else f.rhs
        lit = f.rhs if isinstance(f.lhs, Var) else f.lhs
        cond = F.col(var.name) == F.lit(int(cmap[lit]))
        bound = bound.filter(cond if f.op == "=" else ~cond)
    # VALUES: inline bindings lower to an encoded IN-list filter that
    # rides the join pipeline (broadcast-join-free: k literal ids)
    for var, lits in q.values:
        if var not in bound.columns:
            raise ValueError(f"VALUES over unbound variable ?{var}")
        bound = bound.filter(
            F.col(var).isin([int(cmap[lit]) for lit in lits])
        )
    # decode every surviving binding column (broadcast dictionary)
    if bound is not None:
        bind_cols = list(bound.columns)
        for v in bind_cols:
            dec = d.select(
                F.col("term_id").alias(v),
                F.col("term").alias(f"__{v}_str"),
            )
            bound = bound.join(F.broadcast(dec), v, "left")
        decoded = bound.select(
            *[F.col(f"__{v}_str").alias(v) for v in bind_cols]
        )
    else:
        decoded = None
    # sub-SELECT solutions join the group on SHARED variables (inner
    # join over decoded terms — the dictionary is a bijection, so
    # string equality == id equality); with none shared the SPARQL
    # semantics is the cross product of the solution sequences.
    # A shared variable that is OPTIONAL-bound on EITHER side could be
    # NULL, and the inner join would drop it where SPARQL treats
    # unbound as compatible — rejected loudly (ADVICE r8; the module
    # docstring documents the boundary).
    outer_nullable = _optional_only_vars(q)
    for sub, subq in zip(subs, q.subselects):
        sub_nullable = _optional_only_vars(subq) & set(sub.columns)
        if decoded is None:
            decoded = sub
        else:
            shared = sorted(set(decoded.columns) & set(sub.columns))
            nullable_shared = sorted(
                set(shared) & (outer_nullable | sub_nullable)
            )
            if nullable_shared:
                raise ValueError(
                    "sub-SELECT shares OPTIONAL-bound variables "
                    f"{nullable_shared} with the outer group — unbound-"
                    "compatible join semantics are out of scope"
                )
            decoded = (
                decoded.join(sub, on=shared, how="inner")
                if shared
                else decoded.crossJoin(sub)
            )
    # GRAPH groups: plain conjunctive patterns over the graph-
    # partitioned quad layout, joined to the solution on shared
    # variables over decoded terms (like sub-SELECTs). A constant
    # graph term prunes `g=` partitions at the scan; a ?g variable
    # projects the graph name and constrains every pattern of the
    # group to the SAME graph (natural join on the var).
    if q.graphs:
        from .quads import quad_layout

        quads = quad_layout(spark, sf_dir)
        if q.from_named:
            quads = quads.filter(F.col("g").isin(list(q.from_named)))
        elif q.from_default:
            # a dataset clause replaces the WHOLE dataset (SPARQL 1.1
            # §13.2): FROM without FROM NAMED implies an EMPTY
            # named-graph set, so GRAPH groups match nothing — the
            # quad relation is constant-folded to empty, not left
            # ranging over all graphs
            quads = quads.filter(F.lit(False))
        for gterm, pats in q.graphs:
            rel = None
            for pat in pats:
                step = _quad_pattern_step(quads, gterm, pat)
                if rel is None:
                    rel = step
                else:
                    shared = sorted(set(rel.columns) & set(step.columns))
                    rel = (
                        rel.join(step, on=shared, how="inner")
                        if shared
                        else rel.crossJoin(step)
                    )
            if decoded is None:
                decoded = rel
            else:
                shared = sorted(set(decoded.columns) & set(rel.columns))
                decoded = (
                    decoded.join(rel, on=shared, how="inner")
                    if shared
                    else decoded.crossJoin(rel)
                )
    # BIND(expr AS ?alias): post-decode column extension, textual
    # order (later binds may reference earlier aliases); rebinding an
    # existing variable is a SPARQL syntax error, rejected loudly
    for alias, expr in q.binds:
        if alias in decoded.columns:
            raise ValueError(f"BIND alias ?{alias} is already bound")
        missing = sorted(_expr_vars(expr) - set(decoded.columns))
        if missing:
            raise ValueError(f"BIND over unbound variables: {missing}")
        decoded = decoded.withColumn(alias, _expr_col(expr))
    # post-decode filter groups (string collation semantics)
    for g in q.filters:
        if g in eq_groups:
            continue
        decoded = decoded.filter(_group_col(g))
    if q.construct:
        # CONSTRUCT: instantiate each template triple per solution,
        # union, set-dedup (a graph has no duplicate triples). Rows
        # where a template variable is unbound (OPTIONAL miss) drop
        # that instantiation, per spec.
        parts = []
        for s, p, o in q.construct:
            cols, notnull = [], []
            for term, name in ((s, "s"), (p, "p"), (o, "o")):
                if isinstance(term, Var):
                    if term.name not in decoded.columns:
                        raise ValueError(
                            f"CONSTRUCT template var ?{term.name} is "
                            "not bound by WHERE"
                        )
                    col = F.col(term.name).cast("string")
                    notnull.append(col.isNotNull())
                    cols.append(col.alias(name))
                else:
                    cols.append(F.lit(term).alias(name))
            part = decoded
            for c in notnull:
                part = part.filter(c)
            parts.append(part.select(*cols))
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        out = out.distinct()
        if q.limit is not None:
            out = out.limit(q.limit)
        return out
    if q.ask:
        return (
            decoded.limit(1)
            .agg(
                F.when(F.count(F.lit(1)) > 0, 1)
                .otherwise(0)
                .cast("long")
                .alias("answer")
            )
        )
    if q.aggs:
        for a in q.aggs:
            if a.var is not None and a.var not in decoded.columns:
                raise ValueError(f"aggregate over unbound variable ?{a.var}")
        for g in q.group_by:
            if g not in decoded.columns:
                raise ValueError(f"GROUP BY of unbound variable ?{g}")
        # aggregate lowering notes live on _agg_col (SUM/AVG try_cast:
        # non-numeric terms are NULL-skipped — SQL semantics, the
        # documented deviation from SPARQL 1.1 error propagation)
        aggcols = [_agg_col(a).alias(a.alias) for a in q.aggs]
        # HAVING operands that are anonymous aggregate calls compute
        # as hidden agg columns, filtered then projected away
        hidden: dict[int, str] = {}
        for grp in q.having:
            for f in grp:
                for x in (f.lhs, f.rhs):
                    if isinstance(x, Agg) and id(x) not in hidden:
                        if x.var is not None and x.var not in decoded.columns:
                            raise ValueError(
                                f"HAVING aggregate over unbound "
                                f"variable ?{x.var}"
                            )
                        name = f"__h{len(hidden)}"
                        hidden[id(x)] = name
                        aggcols.append(_agg_col(x).alias(name))
        decoded = (
            decoded.groupBy(*q.group_by).agg(*aggcols)
            if q.group_by
            else decoded.agg(*aggcols)
        )
        if q.having:
            out_cols = set(decoded.columns)

            def hv_side(x):
                if isinstance(x, Agg):
                    return F.col(hidden[id(x)])
                if isinstance(x, Var):
                    if x.name not in out_cols:
                        raise ValueError(
                            f"HAVING over variable ?{x.name} that is "
                            "neither grouped nor an aggregate alias"
                        )
                    return F.col(x.name)
                if isinstance(x, ExprNum):
                    return F.lit(x.value)
                return F.lit(x)

            for grp in q.having:
                col = None
                for f in grp:
                    lhs, rhs = hv_side(f.lhs), hv_side(f.rhs)
                    # numeric comparison when either side is a number
                    # or an aggregate (string aliases try_cast, the
                    # NULL-skip rule again)
                    if any(
                        isinstance(x, (ExprNum, Agg))
                        for x in (f.lhs, f.rhs)
                    ):
                        lhs = lhs.try_cast("double")
                        rhs = rhs.try_cast("double")
                    c = {
                        "=": lhs == rhs,
                        "!=": lhs != rhs,
                        "<": lhs < rhs,
                        "<=": lhs <= rhs,
                        ">": lhs > rhs,
                        ">=": lhs >= rhs,
                    }[f.op]
                    col = (
                        c
                        if col is None
                        else (col & c) if f.conj == "&&" else (col | c)
                    )
                decoded = decoded.filter(col)
        decoded = decoded.select(*q.select, *[a.alias for a in q.aggs])
    elif q.group_by:
        # aggregate-less GROUP BY: one row per distinct group-key
        # combination (validated: q.select ⊆ q.group_by). Projecting a
        # strict subset of the keys can legally repeat rows — the
        # groups stay distinct on ALL keys per SPARQL 1.1 §11.
        for g in q.group_by:
            if g not in decoded.columns:
                raise ValueError(f"GROUP BY of unbound variable ?{g}")
        decoded = (
            decoded.select(*q.group_by).dropDuplicates().select(*q.select)
        )
    elif q.select != ["*"] or q.select_exprs:
        unknown = [v for v in q.select if v not in decoded.columns]
        if unknown:
            raise ValueError(f"SELECT of unbound variables: {unknown}")
        if q.select == ["*"]:
            raise ValueError(
                "SELECT * cannot be mixed with SELECT expressions"
            )
        expr_cols = []
        for alias, expr in q.select_exprs:
            missing = sorted(_expr_vars(expr) - set(decoded.columns))
            if missing:
                raise ValueError(
                    f"SELECT expression over unbound variables: {missing}"
                )
            expr_cols.append(_expr_col(expr).alias(alias))
        decoded = decoded.select(*q.select, *expr_cols)
    if q.distinct:
        decoded = decoded.distinct()
    if q.order_by:
        # ORDER BY runs after the projection: a sort variable missing
        # from the result columns is a contract violation — raise the
        # promised ValueError, not an engine AnalysisException. Sort
        # keys are either variable names or expression ASTs (round 9);
        # expression keys evaluate over the projected columns.
        need = set()
        for key, _ in q.order_by:
            need |= {key} if isinstance(key, str) else _expr_vars(key)
        bad = sorted(need - set(decoded.columns))
        if bad:
            raise ValueError(
                f"ORDER BY over variables not in the result: {bad}"
            )
        sort_cols = [
            F.col(key) if isinstance(key, str) else _expr_col(key)
            for key, _ in q.order_by
        ]
        decoded = decoded.orderBy(
            *[
                c.desc() if desc else c.asc()
                for c, (_, desc) in zip(sort_cols, q.order_by)
            ]
        )
    if q.offset is not None:
        # skip-then-cap, SPARQL §15.4 slice order (matches SQL's
        # LIMIT n OFFSET k)
        decoded = decoded.offset(q.offset)
    if q.limit is not None:
        decoded = decoded.limit(q.limit)
    return decoded


# --- SPARQL Update subset (round 9, VERDICT r8 #4) ------------------


@dataclass(frozen=True)
class UpdateOp:
    """One update operation: kind is insert_data / delete_data (ground
    triples), delete_where (one triple pattern), or modify (template
    DELETE/INSERT with a WHERE pattern group, optionally graph-scoped
    by WITH <g> and/or USING <g> dataset clauses — round 11)."""

    kind: str
    triples: tuple = ()
    pattern: tuple | None = None
    delete_tmpl: tuple = ()
    insert_tmpl: tuple = ()
    where: tuple = ()
    with_graph: str | None = None
    using: tuple = ()
    graph: str | None = None  # clear/drop target; load INTO target
    iri: str | None = None  # load source document


def parse_sparql_update(text: str) -> list[UpdateOp]:
    """Parse the supported SPARQL Update subset: `INSERT DATA {...}`,
    `DELETE DATA {...}`, `DELETE WHERE { pattern }`, and the template
    forms `INSERT { tmpl } WHERE {...}` / `DELETE { tmpl } [INSERT
    { tmpl }] WHERE {...}` with optional `WITH <g>` / `USING <g>`
    dataset scoping (round 11, VERDICT r10 #7), and the graph-
    management forms `CLEAR|DROP [SILENT] (GRAPH <g> | ALL)` /
    `LOAD [SILENT] <doc> [INTO GRAPH <g>]` (round 11), sequenced with
    `;`. Everything else (USING NAMED, GRAPH-qualified data,
    CLEAR/DROP DEFAULT/NAMED) is rejected loudly."""
    p = _Parser(tokenize(text))
    ops: list[UpdateOp] = []
    while True:
        with_graph: str | None = None
        t = p.next().upper()
        if t == "WITH":
            # WITH <g> scopes the FOLLOWING template operation: WHERE
            # evaluates against g (unless USING re-scopes it), DELETE
            # applies within g, INSERT targets g (SPARQL 1.1 Update
            # §3.1.3)
            g = p.next()
            if not g.startswith("<"):
                raise ValueError(f"WITH needs an <iri>, got {g!r}")
            with_graph = g[1:-1]
            t = p.next().upper()
            if t not in ("INSERT", "DELETE"):
                raise ValueError(
                    "WITH <graph> scopes a template operation — "
                    f"expected INSERT or DELETE, got {t!r}"
                )
        if t == "INSERT":
            if (p.peek() or "").upper() == "DATA":
                p.next()
                if with_graph is not None:
                    raise ValueError(
                        "WITH <graph> scopes template operations only, "
                        "not INSERT DATA"
                    )
                ops.append(
                    UpdateOp("insert_data", _ground_group(p, "INSERT DATA"))
                )
            elif p.peek() == "{":
                ins = _tmpl_group(p, "INSERT")
                using = _parse_using(p)
                p.expect("WHERE")
                ops.append(
                    UpdateOp(
                        "modify",
                        insert_tmpl=ins,
                        where=_tmpl_group(p, "WHERE"),
                        with_graph=with_graph,
                        using=using,
                    )
                )
            else:
                raise ValueError(
                    f"unsupported INSERT form at {p.peek()!r} "
                    "(DATA or a {{ template }})"
                )
        elif t == "DELETE":
            nxt = (p.peek() or "").upper()
            if nxt in ("DATA", "WHERE") and with_graph is not None:
                raise ValueError(
                    "WITH <graph> scopes template operations only, not "
                    f"DELETE {nxt}"
                )
            if nxt == "DATA":
                p.next()
                ops.append(
                    UpdateOp("delete_data", _ground_group(p, "DELETE DATA"))
                )
            elif nxt == "WHERE":
                p.next()
                pats = p.group("DELETE WHERE")
                if len(pats) != 1:
                    raise ValueError(
                        "DELETE WHERE supports exactly one triple "
                        f"pattern, got {len(pats)}"
                    )
                if isinstance(pats[0][1], _PATH_TYPES):
                    raise ValueError(
                        "property paths in DELETE WHERE are unsupported"
                    )
                ops.append(UpdateOp("delete_where", pattern=pats[0]))
            elif p.peek() == "{":
                dele = _tmpl_group(p, "DELETE")
                ins: tuple = ()
                if (p.peek() or "").upper() == "INSERT":
                    p.next()
                    ins = _tmpl_group(p, "INSERT")
                using = _parse_using(p)
                p.expect("WHERE")
                ops.append(
                    UpdateOp(
                        "modify",
                        delete_tmpl=dele,
                        insert_tmpl=ins,
                        where=_tmpl_group(p, "WHERE"),
                        with_graph=with_graph,
                        using=using,
                    )
                )
            else:
                raise ValueError(
                    f"unsupported DELETE form at {p.peek()!r} "
                    "(DATA, WHERE, or a {{ template }})"
                )
        elif t in ("CLEAR", "DROP"):
            # Round 11 (VERDICT r10 #4 SPARQL note): graph management.
            # This store records no empty graphs (a triple's graph IS
            # its subject family), so DROP and CLEAR coincide — the
            # exact store shape SPARQL 1.1 §3.2.2/§3.2.3 anticipates
            # ("stores that do not record empty graphs"). SILENT is
            # accepted and inert for the same reason: a missing graph
            # already clears to a no-op.
            if with_graph is not None:
                raise ValueError(
                    f"WITH <graph> scopes template operations, not {t}"
                )
            if (p.peek() or "").upper() == "SILENT":
                p.next()
            nxt = p.next().upper()
            if nxt == "GRAPH":
                g = p.next()
                if not g.startswith("<"):
                    raise ValueError(f"{t} GRAPH needs an <iri>, got {g!r}")
                ops.append(UpdateOp("clear", graph=g[1:-1]))
            elif nxt == "ALL":
                ops.append(UpdateOp("clear", graph=None))
            else:
                # DEFAULT/NAMED are ambiguous here: the default view IS
                # the union of the derived graphs, so both would equal
                # ALL — rejected loudly rather than silently surprising
                raise ValueError(
                    f"{t} {nxt} is unsupported — in the subject-derived "
                    "graph layout the default graph is the union of all "
                    f"named graphs, so {t} DEFAULT/NAMED would equal "
                    f"{t} ALL; say {t} ALL or {t} GRAPH <g>"
                )
        elif t == "LOAD":
            if with_graph is not None:
                raise ValueError(
                    "WITH <graph> scopes template operations, not LOAD"
                )
            if (p.peek() or "").upper() == "SILENT":
                p.next()
            iri = p.next()
            if not iri.startswith("<"):
                raise ValueError(f"LOAD needs a <document-iri>, got {iri!r}")
            into: str | None = None
            if (p.peek() or "").upper() == "INTO":
                p.next()
                p.expect("GRAPH")
                g = p.next()
                if not g.startswith("<"):
                    raise ValueError(
                        f"LOAD INTO GRAPH needs an <iri>, got {g!r}"
                    )
                into = g[1:-1]
            ops.append(UpdateOp("load", iri=iri[1:-1], graph=into))
        else:
            raise ValueError(
                f"unsupported update operation {t!r} — the subset is "
                "INSERT DATA / DELETE DATA / DELETE WHERE / "
                "[DELETE {tmpl}] [INSERT {tmpl}] WHERE {...} / "
                "CLEAR|DROP [SILENT] (GRAPH <g> | ALL) / "
                "LOAD [SILENT] <doc> [INTO GRAPH <g>]"
            )
        if p.peek() is None:
            break
        p.expect(";")
        if p.peek() is None:
            break  # trailing separator
    return ops


def _parse_using(p: _Parser) -> tuple[str, ...]:
    """USING <g> dataset clauses (round 11, VERDICT r10 #7): the WHERE
    group's default graph becomes the MERGE of the listed graphs — the
    update-side twin of the SELECT pipeline's plain FROM. Because the
    quad layout derives each triple's graph from its subject family
    (quads_view provenance rule), the restriction lowers to ONE
    scan-local string predicate on the state, no join. USING NAMED
    stays a recognized rejection: update WHERE groups have no GRAPH
    patterns in this subset, so a named-graph set would select
    nothing."""
    graphs: list[str] = []
    while (p.peek() or "").upper() == "USING":
        p.next()
        if (p.peek() or "").upper() == "NAMED":
            raise ValueError(
                "USING NAMED is unsupported in update templates — the "
                "WHERE subset has no GRAPH patterns, so a named-graph "
                "set would select nothing"
            )
        g = p.next()
        if not g.startswith("<"):
            raise ValueError(f"USING needs an <iri>, got {g!r}")
        graphs.append(g[1:-1])
    return tuple(graphs)


def _tmpl_group(p: _Parser, kind: str) -> tuple:
    """A { t1 . t2 . } block of plain-predicate triples (variables
    allowed) for template updates and their WHERE groups."""
    pats = p.group(kind)
    for pat in pats:
        if isinstance(pat[1], _PATH_TYPES):
            raise ValueError(f"{kind} takes plain predicates, not paths")
    return tuple(pats)


def _ground_group(p: _Parser, kind: str) -> tuple:
    """A { t1 . t2 . } block of GROUND triples (no variables, no
    paths) for INSERT DATA / DELETE DATA."""
    pats = p.group(kind)
    for pat in pats:
        if isinstance(pat[1], _PATH_TYPES):
            raise ValueError(f"{kind} takes plain predicates, not paths")
        if any(isinstance(t, Var) for t in pat):
            raise ValueError(f"{kind} takes ground triples, no variables")
    return tuple(pats)


def compile_sparql_update(
    spark: SparkSession, sf_dir: str, text: str
) -> DataFrame:
    """Apply an update sequence to the triples view and return the
    POST-UPDATE STATE (s, p, o) — the engine's storage is immutable
    parquet, so updates are state transformations (q_upsert_result's
    contract; the on-disk analog is sources/compaction.py's MERGE).

    Semantics, applied in textual order:
    - INSERT DATA: the reference's R2 LWW-register upsert per (s, p)
      key (SQLite3DBConnector.py:48-119) — the inserted object REPLACES
      every existing object of that key; within one batch the LAST
      triple per key wins (the reference's delta-dict overwrite rule,
      SURVEY §2.A R8).
    - DELETE DATA: exact-triple removal.
    - DELETE WHERE: every triple matching the single pattern (constants
      filter, variables wildcard, a repeated variable forces equality)
      is removed.
    - [DELETE { tmpl }] [INSERT { tmpl }] WHERE { patterns } (round-9
      template form): the WHERE group compiles through the BGP join
      against the CURRENT state; both templates instantiate from the
      SAME solution set (SPARQL 1.1 §3.1.3), deletions apply first,
      insertions are GRAPH SET union (distinct) — deliberately NOT the
      LWW upsert, which is the DATA form's documented reference-parity
      semantics. Round 11: `WITH <g>` scopes WHERE evaluation and
      DELETE application to graph g (and statically validates INSERT
      representability); `USING <g>...` re-scopes WHERE's default
      graph to the merge of the listed graphs. Both lower to
      scan-local subject-family predicates (quads_view provenance).

    The literal batches come from the update TEXT (driver-side, bounded
    by statement length — the VALUES rule), broadcast into anti-joins:
    one scan of the state per operation, no shuffles."""
    from .bgp import triples_view

    def _anti_literals(
        df: DataFrame, cols: tuple[str, ...], tuples: list[tuple[str, ...]]
    ) -> DataFrame:
        """Remove rows matching any literal tuple. DATA batches come
        from the statement text, so they are usually a handful of
        triples — compiled as a scan-local NOT(OR-of-conjunctions)
        predicate that pushes into every leg of the triples-view union
        (the broadcast anti-join form planned one BroadcastExchange +
        BroadcastHashJoin PER LEG PER OP: 80-node plans for a 3-op
        update). Past _MAX_LITERAL_FILTER the OR chain would bloat
        codegen, so big batches keep the anti-join."""
        if not tuples:
            # ADVICE r11: SPARQL's legal empty `INSERT DATA { }` must
            # be a no-op, not a coalesce(None, ...) crash, should the
            # parser ever start admitting empty DATA groups
            return df
        _MAX_LITERAL_FILTER = 64
        if len(tuples) > _MAX_LITERAL_FILTER:
            rows = spark.createDataFrame(
                tuples, ", ".join(f"{c} string" for c in cols)
            )
            return df.join(F.broadcast(rows), list(cols), "left_anti")
        match = None
        for vals in tuples:
            one = None
            for c, v in zip(cols, vals):
                eq = F.col(c) == F.lit(v)
                one = eq if one is None else (one & eq)
            match = one if match is None else (match | one)
        # null-safe: anti-join keeps rows whose key is NULL; plain
        # ~match would drop them (three-valued logic), so coalesce
        return df.filter(~F.coalesce(match, F.lit(False)))

    state = triples_view(spark, sf_dir)
    for op in parse_sparql_update(text):
        if op.kind == "insert_data":
            kv: dict[tuple[str, str], str] = {}
            for s, p, o in op.triples:
                kv[(s, p)] = o  # batch-internal LWW: last write wins
            rows = spark.createDataFrame(
                [(s, p, o) for (s, p), o in kv.items()],
                "s string, p string, o string",
            )
            state = _anti_literals(
                state, ("s", "p"), [k for k in kv]
            ).unionByName(rows)
        elif op.kind == "delete_data":
            state = _anti_literals(state, ("s", "p", "o"), list(op.triples))
        elif op.kind == "clear":
            # CLEAR/DROP (round 11): graph-management on the derived
            # layout — one scan-local predicate on the subject family,
            # no joins. graph=None means ALL (empty state, schema kept).
            if op.graph is None:
                state = state.filter(F.lit(False))
            else:
                state = state.filter(
                    F.concat(
                        F.lit("g:"), F.split(F.col("s"), ":").getItem(0)
                    )
                    != op.graph
                )
        elif op.kind == "load":
            # LOAD <doc> (round 11): the reference's R19 bulk TSV load
            # (TSV_bulk upload route) as a SPARQL 1.1 §3.1.4 graph
            # union — document triples merge set-wise into the state
            # (unlike INSERT DATA's documented R2 LWW upsert).
            from ..sources.readers import read_triples_tsv

            loaded = read_triples_tsv(
                spark, op.iri, has_timestamp=False
            ).select(
                F.col("subject").alias("s"),
                F.col("predicate").alias("p"),
                F.col("object").alias("o"),
            )
            if op.graph is not None:
                # INTO GRAPH representability (same rule as WITH+INSERT
                # templates): the layout derives a triple's graph from
                # its subject family, so every loaded subject must be
                # of the target family — validated on the actual
                # document (bounded scalar: one count per LOAD op),
                # rejected loudly, never silently re-homed
                n_bad = loaded.filter(
                    F.concat(
                        F.lit("g:"), F.split(F.col("s"), ":").getItem(0)
                    )
                    != op.graph
                ).count()
                if n_bad:
                    raise ValueError(
                        f"LOAD INTO GRAPH <{op.graph}>: {n_bad} document "
                        "triples have subjects outside that graph's "
                        "family — unrepresentable in the subject-derived "
                        "graph layout"
                    )
            new_rows = loaded.dropDuplicates(["s", "p", "o"]).join(
                state, ["s", "p", "o"], "left_anti"
            )
            state = state.unionByName(new_rows)
        elif op.kind == "delete_where":
            cond = F.lit(True)
            seen: dict[str, str] = {}
            for col, term in zip(("s", "p", "o"), op.pattern):
                if isinstance(term, Var):
                    if term.name in seen:
                        cond = cond & (F.col(col) == F.col(seen[term.name]))
                    else:
                        seen[term.name] = col
                else:
                    cond = cond & (F.col(col) == F.lit(term))
            state = state.filter(~cond)
        else:  # modify: [DELETE {tmpl}] [INSERT {tmpl}] WHERE {patterns}
            from .bgp import compile_bgp

            bound_vars = {
                t.name
                for pat in op.where
                for t in pat
                if isinstance(t, Var)
            }
            for tmpl in (op.delete_tmpl, op.insert_tmpl):
                missing = sorted(
                    {
                        t.name
                        for pat in tmpl
                        for t in pat
                        if isinstance(t, Var)
                    }
                    - bound_vars
                )
                if missing:
                    raise ValueError(
                        f"template variables {missing} are not bound by "
                        "the WHERE group"
                    )
            # a triple's graph IS its subject family (quads_view
            # provenance rule), so every dataset restriction below is
            # a scan-local string predicate — no joins
            graph_of = F.concat(
                F.lit("g:"), F.split(F.col("s"), ":").getItem(0)
            )
            # WITH <g> INSERT representability (round 11): the layout
            # cannot hold a quad whose graph differs from its subject
            # family, so insert-template subjects must be PROVABLY of
            # the WITH graph — a constant of that family, or a
            # variable bound in SUBJECT position of a WHERE group that
            # itself ranges over the WITH graph (i.e. not re-scoped by
            # USING). Anything else is rejected loudly, never dropped.
            if op.with_graph and op.insert_tmpl:
                subj_vars = {
                    pat[0].name
                    for pat in op.where
                    if isinstance(pat[0], Var)
                }
                for s, _pp, _oo in op.insert_tmpl:
                    if isinstance(s, Var):
                        if op.using or s.name not in subj_vars:
                            raise ValueError(
                                f"WITH <{op.with_graph}>: insert-template"
                                f" subject ?{s.name} is not provably of "
                                "the target graph's family — the layout "
                                "derives a triple's graph from its "
                                "subject, so only constants of that "
                                "family or subject-position WHERE "
                                "variables (without USING re-scoping) "
                                "are insertable"
                            )
                    elif "g:" + s.split(":")[0] != op.with_graph:
                        raise ValueError(
                            f"WITH <{op.with_graph}>: constant subject "
                            f"{s!r} belongs to graph g:"
                            f"{s.split(':')[0]} — unrepresentable in "
                            "the subject-derived graph layout"
                        )
            # WHERE dataset: USING graphs if given, else the WITH
            # graph, else the full default view (SPARQL 1.1 Update
            # §3.1.3 precedence)
            scope = op.using or (
                (op.with_graph,) if op.with_graph else ()
            )
            where_state = (
                state.filter(graph_of.isin(list(scope)))
                if scope
                else state
            )
            # WHERE evaluates against the CURRENT state (textual
            # sequence semantics); checkpoint so delete/insert sides
            # and the next operation share one computation
            sols = compile_bgp(
                where_state, list(op.where)
            ).transform(lazy_cut)

            def _inst(tmpls: tuple) -> DataFrame | None:
                parts = []
                for s, p, o in tmpls:
                    cols = [
                        (
                            F.col(t.name) if isinstance(t, Var) else F.lit(t)
                        ).alias(n)
                        for t, n in zip((s, p, o), ("s", "p", "o"))
                    ]
                    parts.append(sols.select(*cols))
                if not parts:
                    return None
                out = parts[0]
                for more in parts[1:]:
                    out = out.unionByName(more)
                return out.dropDuplicates(["s", "p", "o"])

            dels = _inst(op.delete_tmpl)
            ins = _inst(op.insert_tmpl)
            if dels is not None:
                if op.with_graph:
                    # WITH scopes the DELETE to the named graph: rows
                    # of other graphs are never touched, even when
                    # USING re-scoped the WHERE elsewhere
                    dels = dels.filter(graph_of == op.with_graph)
                state = state.join(dels, ["s", "p", "o"], "left_anti")
            if ins is not None:
                # SPARQL 1.1 §3.1.3: a graph is a SET — template inserts
                # union-distinct (unlike INSERT DATA's documented
                # R2 LWW-register upsert)
                ins_new = ins.join(state, ["s", "p", "o"], "left_anti")
                state = state.unionByName(ins_new)
    return state
