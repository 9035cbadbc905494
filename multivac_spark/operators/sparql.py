"""SPARQL basic-graph-pattern queries compiled to DataFrame joins.

The interchange half of KG usability is ``sources/ntriples.py``; this
is the query half: a conjunctive subset of W3C SPARQL 1.1 (§5 Basic
Graph Patterns, §6 OPTIONAL, §15 ORDER/LIMIT, §17.4.3 string
functions) executed in-engine over the canonical ``(subj, pred, obj)``
triples table, so KG consumers can ask graph questions without
round-tripping through an external triple store. The reference has no
query language at all — its graph is consumed by hand-written pandas
code (rdf_graph.py) — so the grammar subset here is scoped to what
those hand-written consumers actually do: pattern joins, optional
attachment, string filters, order/limit.

Supported grammar (case-insensitive keywords)::

    [PREFIX name: <iri> ...]             -- name:local expands to
                                         --   <iri local> everywhere a
                                         --   term is accepted
    SELECT [DISTINCT] (?v | (expr AS ?v)) ... | *
    SELECT ?g ... (COUNT([DISTINCT] ?v | *) AS ?a) ...   -- aggregates
      -- (§18.5): COUNT / SUM / AVG / MIN / MAX / SAMPLE
      -- (deterministic: = MIN) / GROUP_CONCAT(?v [; SEPARATOR =
      -- "s"]) (deterministic: values sorted; default separator " ").
      -- SUM/AVG use §17.3 numeric value semantics via TRY_CAST:
      -- non-integer bindings are skipped, an all-non-numeric group
      -- yields NULL
    WHERE { pattern [.] pattern ... }
    [GROUP BY ?g ...] [HAVING (cond) ...]
      -- HAVING conds reference GROUP BY vars / aggregate aliases;
      -- the numeric comparisons are the COUNT-threshold shape
    [ORDER BY (?v | DESC(?v)) ...] [LIMIT n] [OFFSET m]
      -- ORDER BY vars must be projected (under DISTINCT §15.1
      -- requires it; enforced for plain SELECT too so the SQL twin
      -- orders by the same output column)

    CONSTRUCT { term term term [.] ... }   -- derive new triples
    WHERE { pattern [.] pattern ... }      -- (rule/enrichment form;
                                           --  output is a triple SET)

    ASK [WHERE] { pattern ... }            -- one boolean row `ask`:
                                           --  does any solution exist
    DESCRIBE (?v | <iri>)+ [WHERE { pattern ... }]
        -- all triples whose subject or object is a described
        -- resource (the one-step CBD convention, §16.4 leaves the
        -- form implementation-defined); output is a triple SET

    pattern  := term pred[/pred...] term -- triple pattern; / chains
                                         --   a sequence path (§9.1),
                                         --   desugared over reserved
                                         --   ?_seqN variables
              | { pattern ... } UNION { pattern ... } [UNION ...]
              | OPTIONAL { pattern ... [FILTER (cond)] ... }
                -- left join of the group as ONE unit; FILTERs inside
                -- the braces scope to the group (§6.1 LeftJoin)
              | FILTER ( cond )
              | BIND ( expr AS ?v )      -- computed column (§7); the
                                         --   expr may use any bound
                                         --   variable, incl. OPTIONAL
              | MINUS { pattern ... }    -- anti-join (§8.3)
              | FILTER [NOT] EXISTS { pattern ... }  -- semi/anti-join
              | VALUES ?v { const ... }  -- inline data (filter form)
              | VALUES (?v ...) { (const ...) ... }
              | { SELECT ... }           -- subquery (§12): evaluated
                                         --   bottom-up with its own
                                         --   aggregates/ORDER/LIMIT,
                                         --   inner-joined on its
                                         --   projected variables
                                         --   before OPTIONAL groups;
                                         --   nests arbitrarily
    pred     := [^][!]pset               -- ^ = inverse (§9.1);
                                         --   ! = negated set (§9.1,
                                         --   constants only)
              | [^][!]pset(+|*|?)        -- property path: one-or-more,
                                         --   zero-or-more, zero-or-one
                                         --   (constant predicates only)
    pset     := term | term (| term)... | ( term (| term)... )
                                         -- alternation; parens allow
                                         --   it under a path modifier
    term     := ?var | <iri> | name:local | "literal"
    cond     := ?v = rhs | ?v != rhs | ?v < n | ?v > n
              | ?v <= n | ?v >= n        -- n = integer or
                                         --   "n"^^xsd:integer
              | REGEX(?v, "re")
              | CONTAINS(?v, "s") | STRSTARTS(?v, "s")
              | BOUND(?v)                -- true iff ?v is bound
                                         --   (with !, the classic
                                         --   OPTIONAL-negation idiom)
              | cond && cond | cond || cond | !cond | ( cond )
                                         -- §17.2 three-valued logic;
                                         --   precedence ! > && > ||
    expr     := term | n | CONCAT(expr, ...) | UCASE(expr)
              | LCASE(expr) | STR(expr) | STRLEN(expr)
              | SUBSTR(expr, start[, len])  -- 1-based (§17.4.3.3)
              | STRBEFORE(expr, "sep") | STRAFTER(expr, "sep")
                                         -- empty string when the
                                         --   separator is absent
                                         --   (§17.4.3.12-13)
              | REPLACE(expr, "re", "rep")  -- regex, all matches
              | COALESCE(expr, ...)      -- first bound value (§17.4.1.3)

Compilation is Spark-first and fully declarative:

* every triple pattern becomes a scan of the triples table with
  equality filters for its constant terms — Catalyst pushes those to
  the parquet scan (PushedFilters), so a constant-predicate pattern
  reads only its slice of a 100 TB edge table;
* patterns join on their shared variables as plain equi-joins,
  ordered most-constants-first (selectivity heuristic) and then left
  to AQE to re-plan at runtime; a pattern sharing no variable with
  the accumulated join is the cartesian SPARQL semantics require and
  compiles to ``crossJoin`` (caller beware, as in any engine);
* each OPTIONAL group compiles to ONE left join after all required
  patterns: its patterns inner-join first and its scoped FILTERs
  narrow that frame before the join, so a partially-matching or
  filtered-out group leaves the left row intact with every group
  variable unbound — exact §6.1 LeftJoin semantics (group-level
  FILTERs written outside the braces still apply to the whole
  solution afterwards);
* MINUS / FILTER NOT EXISTS compile to ``left_anti`` joins and FILTER
  EXISTS to ``left_semi`` — the blocks must share ≥1 required-bound
  variable, so the equi-join matches SPARQL's compatibility rule
  exactly (no NULL-key cases) and stays broadcastable when small;
* FILTER / DISTINCT / ORDER / LIMIT are ordinary Column expressions
  on the joined frame;
* aggregate projections compile to one ``groupBy(...).agg(...)`` over
  the solution frame — a single partial-aggregated shuffle on the
  GROUP BY keys (map-side combine for free), never a collect.

IRIs in queries are decoded to mention strings with the same RFC 3986
path as the N-Triples reader, so ``<base/spatial%20cell>`` matches the
mention ``"spatial cell"`` — a query written against an exported .nt
file runs unchanged in-engine.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import DataFrame, functions as F

from ..sources.ntriples import DEFAULT_BASE
from .analytics import frontier_reach

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
      | (?P<iri><[^>\s]*>)         # IRIs never contain whitespace, so a
                                   # bare '<' (numeric comparison) still
                                   # tokenizes as punct
      | (?P<lit>"(?:[^"\\]|\\.)*")
      | (?P<num>\d+)
      | (?P<pname>[A-Za-z][A-Za-z0-9_-]*:[A-Za-z0-9_.-]*
                 |:[A-Za-z0-9_.-]+)
      | (?P<word>[A-Za-z][A-Za-z_]*)
      | (?P<punct><=|>=|!=|&&|\|\||\^\^|[{}().,+|^;?/!<>=*])
    )""", re.VERBOSE)

_STR_FUNCS = {"REGEX", "CONTAINS", "STRSTARTS"}


class SparqlError(ValueError):
    pass


@dataclass
class _Pattern:
    # three ("var", name) | ("const", value) | ("alt", value-tuple)
    # pairs; "alt" (predicate alternation) appears only at index 1
    terms: tuple
    optional: bool = False
    path: str = None  # "+" | "*" | "?" path modifier, or None

    @property
    def vars(self):
        return {n for k, n in self.terms if k == "var"}

    @property
    def n_const(self):
        return sum(1 for k, _ in self.terms if k == "const")


@dataclass
class _Union:
    """``{ ... } UNION { ... }`` — branches of plain triple patterns
    binding the SAME variable set (checked at parse), so the branch
    solutions union by name with no unbound-variable compatibility
    cases and the join with the rest of the query is a plain
    equi-join."""
    branches: list  # list[list[_Pattern]]
    optional: bool = False
    path: bool = False

    @property
    def vars(self):
        return set().union(*(p.vars for b in self.branches for p in b))

    @property
    def n_const(self):
        return 0


@dataclass
class _Query:
    select: list  # variable names, or ["*"] (empty for CONSTRUCT)
    distinct: bool
    patterns: list
    filters: list  # (kind, var, value) tuples
    order: list    # (var, ascending) pairs
    limit: int | None
    construct: list | None = None  # template _Patterns, or None
    aggs: list = None    # (func, arg-var-or-"*", distinct, alias)
    group: list = None   # GROUP BY variable names
    values: list = None  # (var-name tuple, rows) inline-data blocks
    exists: list = None  # (branch _Patterns, positive) semi/anti blocks
    ask: bool = False          # ASK form: project one boolean row
    describe: list = None      # DESCRIBE form: ("var"|"const", name) terms
    optionals: list = None     # OPTIONAL groups: (patterns, filters)
    anon: set = None           # ?_seqN sequence-desugar variables
    offset: int = None         # OFFSET m — skipped before LIMIT
    binds: list = None   # (alias, expr-tree) from BIND / SELECT exprs
    having: list = None  # post-aggregate conditions (same cond tuples)
    subqueries: list = None  # nested SELECT _Query blocks (§12)


@dataclass
class _Tokens:
    toks: list
    pos: int = 0
    anon: int = 0  # fresh-variable counter for sequence-path desugar
    prefixes: dict = None  # PREFIX name → IRI prefix string

    def peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def next(self):
        t = self.peek()
        if t is None:
            raise SparqlError("unexpected end of query")
        self.pos += 1
        return t

    def expect(self, *want):
        t = self.next()
        if t[0] == "word" and t[1].upper() in want:
            return t[1].upper()
        if t[0] == "punct" and t[1] in want:
            return t[1]
        raise SparqlError(f"expected {'/'.join(want)}, got {t[1]!r}")


def _tokenize(text: str):
    toks, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip() == "":
                break
            raise SparqlError(f"cannot tokenize at: {text[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        toks.append((kind, m.group(kind)))
    return _Tokens(toks, prefixes={})


def _term(tok, base: str, prefixes: dict = None):
    """token → ("var", name) | ("const", matched-string)."""
    kind, text = tok
    if kind == "var":
        if re.fullmatch(r"_seq\d+", text[1:]):
            raise SparqlError(
                "variable names ?_seqN are reserved (sequence-path "
                "desugaring)")
        return ("var", text[1:])
    if kind == "pname":
        pfx, _, local = text.partition(":")
        if not prefixes or pfx not in prefixes:
            raise SparqlError(f"undeclared prefix {pfx!r}:")
        return _term(("iri", f"<{prefixes[pfx]}{local}>"), base)
    if kind == "iri":
        iri = text[1:-1]
        if iri.startswith(base):
            iri = iri[len(base):]
        return ("const", unquote(iri))
    if kind == "lit":
        body = text[1:-1]
        return ("const", re.sub(r"\\(.)", lambda m: {
            "n": "\n", "r": "\r", "t": "\t"}.get(m.group(1), m.group(1)),
            body))
    raise SparqlError(f"expected term, got {text!r}")


def _parse_step(ts: _Tokens, base: str) -> tuple:
    """One path step ``[^][!]pred[|pred...][+*?]`` →
    ``(inverse, pred-term, path-modifier)``.

    Grouping parens allow alternation under a modifier
    (``(<a>|<b>)+`` — W3C §9.1 alternation inside a closure), and
    ``!`` negates a constant predicate set (``!<a>``, ``!(<a>|<b>)``
    — §9.1 NegatedPropertySet, forward members only)."""
    inverse = ts.peek() == ("punct", "^")
    if inverse:
        ts.next()
    neg = ts.peek() == ("punct", "!")
    if neg:
        ts.next()
    paren = ts.peek() == ("punct", "(")
    if paren:
        ts.next()
    preds = [_term(ts.next(), base, ts.prefixes)]
    while ts.peek() == ("punct", "|"):
        ts.next()
        preds.append(_term(ts.next(), base, ts.prefixes))
    if paren:
        ts.expect(")")
    if (len(preds) > 1 or neg) and any(k != "const" for k, _ in preds):
        raise SparqlError(
            "predicate alternation/negation needs constant predicates")
    path = None
    if ts.peek() in (("punct", "+"), ("punct", "*"), ("punct", "?")):
        path = ts.next()[1]
        if len(preds) > 1 and not paren:
            # W3C §9.1: a modifier binds tighter than '|', so
            # "a"|"b"+ would mean a|(b+) — require the parenthesized
            # (a|b)+ form rather than silently re-grouping
            raise SparqlError(
                "property path over a bare alternation is ambiguous "
                "— parenthesize: (<a>|<b>)" + path)
        if preds[0][0] != "const":
            raise SparqlError(
                "property path needs constant predicate(s) "
                f"(<p>{path})")
    if neg:
        pred = ("neg", tuple(v for _, v in preds))
    elif len(preds) > 1:
        pred = ("alt", tuple(v for _, v in preds))
    else:
        pred = preds[0]
    return inverse, pred, path


def _parse_pattern(ts: _Tokens, base: str, optional: bool,
                   q: _Query = None) -> list:
    """One triple pattern (subj step[/step...] obj) → a LIST of
    ``_Pattern``s: a sequence path (§9.1 SequencePath) desugars into
    chained patterns over fresh ``?_seqN`` variables (reserved —
    ``_term`` rejects them in user queries, and they are excluded
    from ``SELECT *``); each step carries its own inverse marker,
    alternation, and ``+``/``*``/``?`` modifier."""
    subj = _term(ts.next(), base, ts.prefixes)
    steps = [_parse_step(ts, base)]
    while ts.peek() == ("punct", "/"):
        ts.next()
        steps.append(_parse_step(ts, base))
    if len(steps) > 1 and q is None:
        raise SparqlError(
            "sequence path is not supported in this context")
    nodes = [subj]
    for _ in steps[:-1]:
        name = f"_seq{ts.anon}"
        ts.anon += 1
        q.anon.add(name)
        nodes.append(("var", name))
    nodes.append(_term(ts.next(), base, ts.prefixes))
    out = []
    for (inverse, pred, path), a, b in zip(steps, nodes, nodes[1:]):
        # s ^p o  ≡  o p s — and ^(p+) ≡ (^p)+, so the swap also
        # covers inverse property paths
        s, o = (b, a) if inverse else (a, b)
        out.append(_Pattern((s, pred, o), optional=optional, path=path))
    return out


def _parse_plain_group(ts: _Tokens, base: str, what: str) -> list:
    """A braced group of plain triple patterns (no nesting, no paths)
    — the branch form shared by UNION / MINUS / EXISTS."""
    ts.expect("{")
    branch = []
    while True:
        t = ts.peek()
        if t is None:
            raise SparqlError(f"unterminated {what} branch")
        if t == ("punct", "}"):
            ts.next()
            break
        if t == ("punct", "."):
            ts.next()
            continue
        if t[0] == "word" and t[1].upper() in ("OPTIONAL", "FILTER",
                                               "VALUES", "UNION",
                                               "MINUS"):
            raise SparqlError(
                f"{t[1].upper()} inside a {what} branch is not "
                "supported")
        p = _parse_pattern(ts, base, optional=False)[0]
        if p.path:
            raise SparqlError(
                f"property path inside a {what} branch is not "
                "supported")
        branch.append(p)
    if not branch:
        raise SparqlError(f"empty {what} branch")
    return branch


def _parse_union(ts: _Tokens, base: str) -> _Union:
    """``{ patterns } UNION { patterns } [UNION ...]`` — first ``{``
    NOT yet consumed. Branch groups hold plain triple patterns only."""
    branches = []
    while True:
        branches.append(_parse_plain_group(ts, base, "UNION"))
        if ts.peek() and ts.peek()[0] == "word" \
                and ts.peek()[1].upper() == "UNION":
            ts.next()
            continue
        break
    if len(branches) < 2:
        raise SparqlError("a braced group must be part of a UNION")
    varsets = [set().union(*(p.vars for p in b)) for b in branches]
    if any(vs != varsets[0] for vs in varsets[1:]):
        raise SparqlError(
            "UNION branches must bind the same variables "
            f"(got {sorted(map(sorted, varsets))})")
    if not varsets[0]:
        raise SparqlError("UNION branches bind no variables")
    return _Union(branches)


def _parse_values(ts: _Tokens, base: str, q: _Query):
    """``VALUES ?v { c ... }`` | ``VALUES (?v ...) { (c ...) ... }`` —
    keyword already consumed. The filter form of SPARQL §10.2: the
    variables must be bound by the graph patterns."""
    t = ts.next()
    if t == ("punct", "("):
        names = []
        while ts.peek() and ts.peek()[0] == "var":
            names.append(ts.next()[1][1:])
        ts.expect(")")
        if not names:
            raise SparqlError("VALUES needs at least one variable")
        ts.expect("{")
        rows = []
        while ts.peek() == ("punct", "("):
            ts.next()
            row = []
            for _ in names:
                c = _term(ts.next(), base, ts.prefixes)
                if c[0] != "const":
                    raise SparqlError("VALUES rows must be constants")
                row.append(c[1])
            ts.expect(")")
            rows.append(tuple(row))
        ts.expect("}")
    elif t[0] == "var":
        names = [t[1][1:]]
        ts.expect("{")
        rows = []
        while ts.peek() and ts.peek() != ("punct", "}"):
            c = _term(ts.next(), base, ts.prefixes)
            if c[0] != "const":
                raise SparqlError("VALUES rows must be constants")
            rows.append((c[1],))
        ts.expect("}")
    else:
        raise SparqlError("VALUES needs ?var or (?var ...)")
    if not rows:
        raise SparqlError("empty VALUES block")
    q.values.append((tuple(names), rows))


def _parse_group(ts: _Tokens, base: str, q: _Query, optional: bool):
    ts.expect("{")
    while True:
        t = ts.peek()
        if t is None:
            raise SparqlError("unterminated group")
        if t == ("punct", "}"):
            ts.next()
            return
        if t == ("punct", "."):
            ts.next()
            continue
        if t == ("punct", "{"):
            nxt = (ts.toks[ts.pos + 1]
                   if ts.pos + 1 < len(ts.toks) else None)
            if nxt is not None and nxt[0] == "word" \
                    and nxt[1].upper() == "SELECT":
                # § 12 subquery: evaluated bottom-up, then inner-joined
                # with the rest of the group on its projected variables
                if optional:
                    raise SparqlError(
                        "subquery inside OPTIONAL is not supported")
                ts.next()
                sub = _parse_query_body(ts, base, subquery=True)
                ts.expect("}")
                if q.subqueries is None:
                    q.subqueries = []
                q.subqueries.append(sub)
                continue
            if optional:
                raise SparqlError("UNION inside OPTIONAL is not supported")
            q.patterns.append(_parse_union(ts, base))
            continue
        if t[0] == "word" and t[1].upper() == "OPTIONAL":
            if optional:
                raise SparqlError("nested OPTIONAL is not supported")
            ts.next()
            # parse the group into its own container: the patterns
            # join as ONE unit and FILTERs written inside the braces
            # scope to the group (SPARQL §6.1 LeftJoin), unlike
            # group-level filters which apply to the whole solution
            sub = _Query([], False, [], [], [], None, aggs=[],
                         group=[], values=[], exists=[], optionals=[],
                         anon=set(), binds=[], having=[])
            _parse_group(ts, base, sub, optional=True)
            if not sub.patterns:
                raise SparqlError("empty OPTIONAL group")
            q.anon |= sub.anon
            q.optionals.append((sub.patterns, sub.filters))
            continue
        if t[0] == "word" and t[1].upper() == "FILTER":
            ts.next()
            nt = ts.peek()
            if nt and nt[0] == "word" and nt[1].upper() in ("NOT",
                                                            "EXISTS"):
                if optional:
                    raise SparqlError(
                        "EXISTS inside OPTIONAL is not supported")
                positive = nt[1].upper() == "EXISTS"
                ts.next()
                if not positive:
                    ts.expect("EXISTS")
                q.exists.append(
                    (_parse_plain_group(ts, base, "EXISTS"), positive))
            else:
                _parse_filter(ts, base, q)
            continue
        if t[0] == "word" and t[1].upper() == "MINUS":
            if optional:
                raise SparqlError("MINUS inside OPTIONAL is not supported")
            ts.next()
            q.exists.append(
                (_parse_plain_group(ts, base, "MINUS"), False))
            continue
        if t[0] == "word" and t[1].upper() == "VALUES":
            if optional:
                raise SparqlError("VALUES inside OPTIONAL is not supported")
            ts.next()
            _parse_values(ts, base, q)
            continue
        if t[0] == "word" and t[1].upper() == "BIND":
            if optional:
                raise SparqlError("BIND inside OPTIONAL is not supported")
            ts.next()
            ts.expect("(")
            e = _parse_expr(ts, base)
            ts.expect("AS")
            a = ts.next()
            if a[0] != "var":
                raise SparqlError("BIND alias must be a variable")
            ts.expect(")")
            q.binds.append((a[1][1:], e))
            continue
        q.patterns.extend(_parse_pattern(ts, base, optional, q))


_CMP_OPS = ("=", "!=", "<", ">", "<=", ">=")

_NUM_TYPES = {"integer", "int", "long", "decimal",
              "nonNegativeInteger", "positiveInteger"}


def _parse_rhs(ts: _Tokens, base: str):
    """Comparison right-hand side → ("var"|"const"|"num", value).
    Numeric = a bare integer token or a typed literal
    ``"n"^^xsd:integer`` (any declared prefix for the XSD namespace,
    or the conventional ``xsd:`` undeclared)."""
    t = ts.next()
    if t[0] == "num":
        return ("num", int(t[1]))
    if t[0] == "lit" and ts.peek() == ("punct", "^^"):
        ts.next()
        ty = ts.next()
        if ty[0] != "pname" \
                or ty[1].rpartition(":")[2] not in _NUM_TYPES:
            raise SparqlError(
                f"unsupported literal datatype {ty[1]!r} (integer "
                "types only)")
        body = t[1][1:-1]
        try:
            return ("num", int(body))
        except ValueError:
            raise SparqlError(f"not an integer literal: {body!r}")
    return _term(t, base, ts.prefixes)


def _parse_cond(ts: _Tokens, base: str) -> tuple:
    """One parenthesized FILTER / HAVING condition → a cond tree:
    leaves are ``(kind, var, value)`` tuples (comparison / string
    function / BOUND), composites are ``("&&"|"||", lhs, rhs)`` and
    ``("!", sub)``, with standard precedence ``!`` > ``&&`` > ``||``
    and parentheses for grouping."""
    ts.expect("(")
    cond = _parse_cond_or(ts, base)
    ts.expect(")")
    return cond


def _parse_cond_or(ts: _Tokens, base: str) -> tuple:
    cond = _parse_cond_and(ts, base)
    while ts.peek() == ("punct", "||"):
        ts.next()
        cond = ("||", cond, _parse_cond_and(ts, base))
    return cond


def _parse_cond_and(ts: _Tokens, base: str) -> tuple:
    cond = _parse_cond_unary(ts, base)
    while ts.peek() == ("punct", "&&"):
        ts.next()
        cond = ("&&", cond, _parse_cond_unary(ts, base))
    return cond


def _parse_cond_unary(ts: _Tokens, base: str) -> tuple:
    t = ts.peek()
    if t == ("punct", "!"):
        ts.next()
        return ("!", _parse_cond_unary(ts, base))
    if t == ("punct", "("):
        # leaves never start with '(' — this is a grouping paren
        ts.next()
        cond = _parse_cond_or(ts, base)
        ts.expect(")")
        return cond
    return _parse_cond_leaf(ts, base)


def _parse_cond_leaf(ts: _Tokens, base: str) -> tuple:
    t = ts.next()
    if t[0] == "word" and t[1].upper() in _STR_FUNCS:
        func = t[1].upper()
        ts.expect("(")
        var = ts.next()
        if var[0] != "var":
            raise SparqlError(f"{func} needs a variable first argument")
        ts.expect(",")
        arg = ts.next()
        if arg[0] != "lit":
            raise SparqlError(f"{func} needs a string literal argument")
        ts.expect(")")
        return (func, var[1][1:], _term(arg, base)[1])
    if t[0] == "word" and t[1].upper() == "BOUND":
        ts.expect("(")
        var = ts.next()
        if var[0] != "var":
            raise SparqlError("BOUND needs a variable argument")
        ts.expect(")")
        return ("BOUND", var[1][1:], None)
    if t[0] == "var":
        op = ts.next()
        if op[0] != "punct" or op[1] not in _CMP_OPS:
            raise SparqlError(
                f"expected comparison operator, got {op[1]!r}")
        # the RHS keeps its ("var"|"const"|"num", value) kind:
        # ?a = ?b is a column comparison, ?a = "b" / <iri> a constant
        # one, and ?a > 3 / "3"^^xsd:integer a numeric one (the only
        # kind the ordering operators accept)
        rhs = _parse_rhs(ts, base)
        if op[1] in ("<", ">", "<=", ">=") and rhs[0] != "num":
            raise SparqlError(
                f"{op[1]} needs an integer right-hand side")
        return (op[1], t[1][1:], rhs)
    raise SparqlError(f"unsupported FILTER starting at {t[1]!r}")


def _cond_leaves(cond):
    """Yield a cond tree's leaf tuples (for validation)."""
    if cond[0] == "!":
        yield from _cond_leaves(cond[1])
    elif cond[0] in ("&&", "||"):
        yield from _cond_leaves(cond[1])
        yield from _cond_leaves(cond[2])
    else:
        yield cond


def _parse_filter(ts: _Tokens, base: str, q: _Query):
    q.filters.append(_parse_cond(ts, base))


# name → exact arity (int), variadic (None), or (min, max) range
_EXPR_FUNCS = {"CONCAT": None, "UCASE": 1, "LCASE": 1, "STR": 1,
               "STRLEN": 1, "SUBSTR": (2, 3), "STRBEFORE": 2,
               "STRAFTER": 2, "REPLACE": 3, "COALESCE": None}

# these take literal (non-variable) trailing arguments: the search /
# pattern strings compile into the plan on both engines
_EXPR_CONST_TAIL = {"STRBEFORE": 1, "STRAFTER": 1, "REPLACE": 1}


def _parse_expr(ts: _Tokens, base: str):
    """BIND / projection expression →
    ``("var", name) | ("const", s) | ("func", name, [args])``."""
    t = ts.next()
    if t[0] == "word" and t[1].upper() in _EXPR_FUNCS:
        func = t[1].upper()
        ts.expect("(")
        args = [_parse_expr(ts, base)]
        while ts.peek() == ("punct", ","):
            ts.next()
            args.append(_parse_expr(ts, base))
        ts.expect(")")
        arity = _EXPR_FUNCS[func]
        if isinstance(arity, int) and len(args) != arity:
            raise SparqlError(f"{func} takes {arity} argument(s)")
        if isinstance(arity, tuple) and not (
                arity[0] <= len(args) <= arity[1]):
            raise SparqlError(
                f"{func} takes {arity[0]}-{arity[1]} arguments")
        from_arg = _EXPR_CONST_TAIL.get(func)
        if from_arg is not None:
            for a in args[from_arg:]:
                if a[0] not in ("const", "num"):
                    raise SparqlError(
                        f"{func} search/pattern arguments must be "
                        "literals")
        if func == "SUBSTR":
            for a in args[1:]:
                if a[0] != "num":
                    raise SparqlError(
                        "SUBSTR position/length must be integers")
        return ("func", func, args)
    if t[0] == "num":
        return ("num", int(t[1]))
    if t[0] in ("var", "iri", "lit", "pname"):
        return _term(t, base, ts.prefixes)
    raise SparqlError(f"unsupported expression at {t[1]!r}")


def _expr_vars(e) -> set:
    if e[0] == "var":
        return {e[1]}
    if e[0] == "func":
        return set().union(*(_expr_vars(a) for a in e[2]))
    return set()


def _parse_template(ts: _Tokens, base: str) -> list:
    """CONSTRUCT template: triple patterns only (no OPTIONAL/FILTER)."""
    ts.expect("{")
    out = []
    while True:
        t = ts.peek()
        if t is None:
            raise SparqlError("unterminated CONSTRUCT template")
        if t == ("punct", "}"):
            ts.next()
            if not out:
                raise SparqlError("empty CONSTRUCT template")
            return out
        if t == ("punct", "."):
            ts.next()
            continue
        out.append(_Pattern(tuple(_term(ts.next(), base, ts.prefixes)
                                  for _ in range(3))))


_AGG_FUNCS = ("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE",
              "GROUP_CONCAT")
# aggregates whose output column is already numeric: HAVING must not
# re-apply the try_cast value semantics (cast of an AVG double
# truncates in Spark but rounds in DuckDB)
_NUMERIC_AGGS = ("COUNT", "SUM", "AVG")


def _parse_agg(ts: _Tokens):
    """``(COUNT([DISTINCT] ?v|*) AS ?alias)`` — outer '(' consumed.
    GROUP_CONCAT takes an optional ``; SEPARATOR = "s"`` tail."""
    func = ts.expect(*_AGG_FUNCS)
    ts.expect("(")
    distinct = False
    if ts.peek() and ts.peek()[0] == "word" \
            and ts.peek()[1].upper() == "DISTINCT":
        ts.next()
        distinct = True
    t = ts.next()
    if t[0] == "var":
        arg = t[1][1:]
    elif t == ("punct", "*") and func == "COUNT" and not distinct:
        arg = "*"
    else:
        raise SparqlError(f"{func} needs a variable argument"
                          + (" (or * for plain COUNT)"
                             if func == "COUNT" else ""))
    sep = " " if func == "GROUP_CONCAT" else None
    if ts.peek() == ("punct", ";"):
        if func != "GROUP_CONCAT":
            raise SparqlError("only GROUP_CONCAT takes a SEPARATOR")
        ts.next()
        ts.expect("SEPARATOR")
        ts.expect("=")
        s = ts.next()
        if s[0] != "lit":
            raise SparqlError("SEPARATOR needs a string literal")
        sep = _term(s, "")[1]
    ts.expect(")")
    ts.expect("AS")
    alias = ts.next()
    if alias[0] != "var":
        raise SparqlError("aggregate alias must be a variable")
    ts.expect(")")
    return (func, arg, distinct, alias[1][1:], sep)


def parse(query: str, base: str = DEFAULT_BASE) -> _Query:
    ts = _tokenize(query)
    # PREFIX declarations (named prefixes; the ex:local form expands
    # to <iri local> and then takes the same base-strip + RFC 3986
    # decode path as a written-out IRI)
    while ts.peek() is not None and ts.peek()[0] == "word" \
            and ts.peek()[1].upper() == "PREFIX":
        ts.next()
        name = ts.next()
        if name[0] != "pname" or not name[1].endswith(":"):
            raise SparqlError(
                "PREFIX needs a name ending in ':' (e.g. PREFIX ex: "
                "<iri>)")
        iri = ts.next()
        if iri[0] != "iri":
            raise SparqlError("PREFIX needs an <iri>")
        ts.prefixes[name[1][:-1]] = iri[1][1:-1]
    q = _parse_query_body(ts, base)
    if ts.peek() is not None:
        raise SparqlError(f"trailing tokens after query: "
                          f"{ts.peek()[1]!r}")
    return q


def _parse_query_body(ts: _Tokens, base: str,
                      subquery: bool = False) -> _Query:
    """One query body (form, WHERE group, solution modifiers) —
    reentrant so a ``{ SELECT ... }`` subquery (§12) parses with the
    full machinery; the modifier loop stops at the subquery's closing
    brace."""
    if subquery:
        form = ts.expect("SELECT")
    else:
        form = ts.expect("SELECT", "CONSTRUCT", "ASK", "DESCRIBE")
    distinct = False
    construct = None
    describe = None
    select = []
    aggs = []
    sel_binds = []
    if form == "CONSTRUCT":
        construct = _parse_template(ts, base)
    elif form == "ASK":
        pass  # no projection clause
    elif form == "DESCRIBE":
        describe = []
        while ts.peek() is not None and ts.peek()[0] in ("var", "iri"):
            describe.append(_term(ts.next(), base, ts.prefixes))
        if not describe:
            raise SparqlError("DESCRIBE needs at least one ?var or <iri>")
    else:
        if ts.peek() and ts.peek()[0] == "word" \
                and ts.peek()[1].upper() == "DISTINCT":
            ts.next()
            distinct = True
        while True:
            t = ts.peek()
            if t is not None and t[0] == "var":
                select.append(ts.next()[1][1:])
            elif t == ("punct", "("):
                ts.next()
                nt = ts.peek()
                if nt is not None and nt[0] == "word" \
                        and nt[1].upper() in _AGG_FUNCS:
                    aggs.append(_parse_agg(ts))
                    select.append(aggs[-1][3])
                else:
                    # (expr AS ?v) projection — an implicit BIND
                    # applied after the WHERE group's own BINDs
                    e = _parse_expr(ts, base)
                    ts.expect("AS")
                    a = ts.next()
                    if a[0] != "var":
                        raise SparqlError(
                            "expression alias must be a variable")
                    ts.expect(")")
                    sel_binds.append((a[1][1:], e))
                    select.append(a[1][1:])
            else:
                break
        if not select:
            ts.expect("*")
            select = ["*"]
        if aggs and distinct:
            raise SparqlError("SELECT DISTINCT with aggregates is not "
                              "supported")
    # WHERE is optional before the group for ASK (§17: ASK
    # WhereClause), and the whole clause is optional for a
    # ground-resource DESCRIBE
    if form == "ASK":
        if ts.peek() is not None and ts.peek()[0] == "word" \
                and ts.peek()[1].upper() == "WHERE":
            ts.next()
    elif form == "DESCRIBE":
        if ts.peek() is not None and ts.peek()[0] == "word":
            ts.expect("WHERE")
    else:
        ts.expect("WHERE")
    q = _Query(select, distinct, [], [], [], None, construct,
               aggs, [], [], [], ask=(form == "ASK"), describe=describe,
               optionals=[], anon=set(), binds=[], having=[],
               subqueries=[])
    if form != "DESCRIBE" or ts.peek() is not None:
        _parse_group(ts, base, q, optional=False)
    # SELECT expressions evaluate over the group solution, after the
    # group's own BINDs (so they may reference BIND aliases)
    q.binds.extend(sel_binds)
    if construct is not None and ts.peek() is not None:
        # the triple SET a CONSTRUCT emits is unordered, so ORDER/LIMIT
        # would be nondeterministic — rejected rather than surprising
        raise SparqlError("CONSTRUCT does not take solution modifiers")
    while ts.peek() is not None and ts.peek() != ("punct", "}"):
        kw = ts.expect("ORDER", "LIMIT", "OFFSET", "GROUP", "HAVING")
        if kw == "HAVING":
            q.having.append(_parse_cond(ts, base))
            while ts.peek() == ("punct", "("):
                q.having.append(_parse_cond(ts, base))
        elif kw == "GROUP":
            ts.expect("BY")
            while ts.peek() and ts.peek()[0] == "var":
                q.group.append(ts.next()[1][1:])
            if not q.group:
                raise SparqlError("empty GROUP BY")
        elif kw == "ORDER":
            ts.expect("BY")
            while True:
                t = ts.peek()
                if t is None or not (
                        t[0] == "var"
                        or (t[0] == "word" and t[1].upper() in ("ASC",
                                                               "DESC"))):
                    break
                asc = True
                if t[0] == "word":
                    asc = ts.next()[1].upper() == "ASC"
                    ts.expect("(")
                    var = ts.next()
                    ts.expect(")")
                else:
                    var = ts.next()
                if var[0] != "var":
                    raise SparqlError("ORDER BY needs variables")
                q.order.append((var[1][1:], asc))
            if not q.order:
                raise SparqlError("empty ORDER BY")
        else:
            t = ts.next()
            if t[0] != "num":
                raise SparqlError(f"{kw} needs an integer")
            if kw == "LIMIT":
                q.limit = int(t[1])
            else:
                q.offset = int(t[1])
    _validate(q)
    return q


def _projected_vars(sub: _Query) -> set:
    """A subquery's output columns, statically (join keys for the
    outer query and the SQL twin)."""
    if sub.aggs:
        return set(sub.select)
    if sub.select != ["*"]:
        return set(sub.select)
    bound = set()
    for p in sub.patterns:
        bound |= p.vars
    for pats, _ in sub.optionals or []:
        for p in pats:
            bound |= p.vars
    bound |= {a for a, _ in sub.binds or []}
    for s2 in sub.subqueries or []:
        bound |= _projected_vars(s2)
    return bound - (sub.anon or set())


def _validate(q: _Query):
    if q.ask or q.describe is not None:
        if q.order or q.limit is not None or q.offset is not None \
                or q.group:
            raise SparqlError(
                "ASK/DESCRIBE do not take solution modifiers")
    if q.describe is not None and not q.patterns and not q.optionals:
        # ground-resource DESCRIBE needs no WHERE clause at all
        if any(k == "var" for k, _ in q.describe):
            raise SparqlError(
                "DESCRIBE of a variable needs a WHERE clause binding it")
        return
    sq_vars = set()
    for sub in q.subqueries or []:
        # the subquery itself was validated by its own body parse;
        # here it contributes its projection as required-bound vars
        sq_vars |= _projected_vars(sub)
    if not q.patterns and not sq_vars:
        if q.optionals:
            raise SparqlError(
                "WHERE needs at least one non-OPTIONAL pattern")
        raise SparqlError("empty WHERE clause")
    required = set().union(sq_vars,
                           *(p.vars for p in q.patterns))
    bound = set(required)
    seen_opt = set()
    for pats, filts in q.optionals or []:
        gvars = set().union(*(p.vars for p in pats))
        if not gvars & required:
            raise SparqlError(
                "OPTIONAL pattern shares no variable with the required "
                "patterns")
        if gvars & seen_opt:
            # a var bound by two OPTIONAL groups can be NULL on either
            # side, where SPARQL's compatibility rule and an equi-join
            # diverge — rejected rather than silently wrong
            raise SparqlError(
                "OPTIONAL groups may not share variables with each "
                f"other (got {sorted(gvars & seen_opt)})")
        for cond in filts:
            for kind, var, value in _cond_leaves(cond):
                rhs = ([value[1]] if kind in _CMP_OPS
                       and value[0] == "var" else [])
                for v in [var] + rhs:
                    if v not in gvars:
                        raise SparqlError(
                            "FILTER inside OPTIONAL may only use "
                            f"variables bound in that group (?{v})")
        seen_opt |= gvars - required
        bound |= gvars
    for alias, e in q.binds or []:
        missing = sorted(_expr_vars(e) - bound)
        if missing:
            raise SparqlError(
                f"BIND expression uses unbound variable(s): {missing}")
        if alias in bound:
            raise SparqlError(
                f"BIND alias ?{alias} collides with a bound variable")
        bound.add(alias)
    if q.describe is not None:
        missing = sorted(n for k, n in q.describe
                         if k == "var" and n not in bound)
        if missing:
            raise SparqlError(
                f"DESCRIBE of unbound variable(s): {missing}")
    if q.construct is not None:
        missing = sorted(set().union(*(p.vars for p in q.construct))
                         - bound)
        if missing:
            raise SparqlError(
                f"CONSTRUCT template uses unbound variable(s): {missing}")
    elif q.aggs:
        aliases = [a[3] for a in q.aggs]
        if len(set(aliases)) != len(aliases):
            raise SparqlError("duplicate aggregate alias")
        for func, arg, _, alias, _sep in q.aggs:
            if alias in bound:
                raise SparqlError(
                    f"aggregate alias ?{alias} collides with a pattern "
                    "variable")
            if arg != "*" and arg not in bound:
                raise SparqlError(f"{func} of unbound variable ?{arg}")
        for v in q.group:
            if v not in bound:
                raise SparqlError(f"GROUP BY unbound variable ?{v}")
        bad = [v for v in q.select
               if v not in aliases and v not in q.group]
        if bad:
            raise SparqlError(
                f"non-aggregate SELECT variable(s) not in GROUP BY: {bad}")
    elif q.select != ["*"]:
        missing = [v for v in q.select if v not in bound]
        if missing:
            raise SparqlError(f"SELECT of unbound variable(s): {missing}")
    if q.group and not q.aggs:
        raise SparqlError("GROUP BY without aggregates is not supported "
                          "(use SELECT DISTINCT)")
    for cond in q.filters:
        for kind, var, value in _cond_leaves(cond):
            if var not in bound:
                raise SparqlError(f"FILTER on unbound variable ?{var}")
            if kind in _CMP_OPS and value[0] == "var" \
                    and value[1] not in bound:
                raise SparqlError(
                    f"FILTER on unbound variable ?{value[1]}")
    if q.having and not q.aggs:
        raise SparqlError("HAVING needs an aggregate query")
    agg_out = set(q.group or []) | {a[3] for a in q.aggs or []}
    for cond in q.having or []:
        for kind, var, value in _cond_leaves(cond):
            if kind == "BOUND":
                raise SparqlError(
                    "BOUND is not meaningful in HAVING (aggregate "
                    "outputs are always bound)")
            for v in [var] + ([value[1]] if kind in _CMP_OPS
                              and value[0] == "var" else []):
                if v not in agg_out:
                    raise SparqlError(
                        f"HAVING may only use GROUP BY variables or "
                        f"aggregate aliases (?{v})")
    for names, _ in q.values or []:
        for v in names:
            if v not in bound:
                raise SparqlError(f"VALUES of unbound variable ?{v}")
    for branch, positive in q.exists or []:
        what = "EXISTS" if positive else "MINUS/NOT EXISTS"
        bvars = set().union(*(p.vars for p in branch))
        shared = bvars & bound
        if not shared:
            raise SparqlError(
                f"{what} block shares no variable with the query")
        if shared - required:
            # a shared var bound only inside OPTIONAL can be NULL,
            # where SPARQL's compatibility rule and an equi-anti-join
            # diverge — rejected rather than silently wrong
            raise SparqlError(
                f"{what} block may only share variables bound by "
                f"required patterns (got optional-only "
                f"{sorted(shared - required)})")
    if q.aggs:
        out_vars = set(q.group) | {a[3] for a in q.aggs}
    elif q.select == ["*"]:
        out_vars = bound - (q.anon or set())
    else:
        # restricted to the projected set: SPARQL §15.1 requires this
        # under DISTINCT anyway (a non-projected sort key would order
        # by a nondeterministic group representative), and the SQL
        # twin can only ORDER BY columns its SELECT emits — so both
        # engines agree by construction
        out_vars = set(q.select)
    for var, _ in q.order:
        if var not in out_vars:
            raise SparqlError(
                f"ORDER BY variable ?{var} is not projected")


# ---------------------------------------------------------------------------
# compilation
# ---------------------------------------------------------------------------

_POSITIONS = ("subj", "pred", "obj")


def _bind(df: DataFrame, pos_terms: list, idx: int) -> tuple:
    """Bind a pattern's terms against a frame's positional columns:
    constants filter, variables project under their name, repeated
    variables become intra-row equality."""
    seen = {}
    cols = []
    for pos, (kind, name) in pos_terms:
        if kind == "const":
            df = df.filter(F.col(pos) == name)
        elif kind in ("alt", "neg"):
            # predicate alternation / negated set: an [NOT] IN filter,
            # pushed down like any constant predicate
            df = df.filter(F.col(pos).isin(*name) if kind == "alt"
                           else ~F.col(pos).isin(*name))
        elif name in seen:
            df = df.filter(F.col(pos) == F.col(seen[name]))
        else:
            seen[name] = pos
            cols.append(F.col(pos).alias(name))
    if not cols:  # fully-ground pattern: existence check only
        cols = [F.lit(1).alias(f"_ground_{idx}")]
    return df.select(*cols), set(seen)


def _scan(triples: DataFrame, p: _Pattern, idx: int) -> tuple:
    """One pattern → (frame with variable-named columns, var set).

    Constant terms become pushed-down equality filters; a ``<p>+``
    path pattern evaluates to its reachability pairs first
    (`_path_pairs`: one `analytics.frontier_reach` walk, seeded from a
    ground endpoint when there is one)."""
    if p.path:
        return _bind(_path_pairs(triples, p),
                     list(zip(("_ps", "_po"), (p.terms[0], p.terms[2]))),
                     idx)
    return _bind(triples, list(zip(_POSITIONS, p.terms)), idx)


def _edge_slice(triples: DataFrame, pred_term) -> DataFrame:
    """The (``_ps``, ``_po``) edge slice a path step walks, duplicates
    kept: a pushed-down equality / [NOT] IN predicate filter over the
    triples scan, for all three pred kinds (const / alt / neg)."""
    kind, val = pred_term
    cond = (F.col("pred") == val if kind == "const"
            else F.col("pred").isin(*val) if kind == "alt"
            else ~F.col("pred").isin(*val))
    return triples.filter(cond).select(F.col("subj").alias("_ps"),
                                       F.col("obj").alias("_po"))


def _path_pairs(triples: DataFrame, p: _Pattern,
                seeds: DataFrame | None = None,
                forward: bool = True) -> DataFrame:
    """All (``_ps``, ``_po``) pairs the path pattern connects:
    ``<p>+`` = ≥1 edges, ``<p>*`` = that plus the zero-length
    identity, ``<p>?`` = zero or one edge (§9.1; the zero-length
    path relates every graph term to itself, and a ground endpoint
    to itself even off-graph, as in the W3C ZeroLengthPath algebra).

    ``seeds(_s)`` are the distinct values of the walked endpoint —
    the subject when ``forward``, else the object — that earlier
    patterns bound (`_scan_seeded`); a ground endpoint seeds the walk
    itself. Every shape is one `analytics.frontier_reach` over the
    pushed-down edge slice (the walk either collects it to the driver
    or dedups and stages it) and differs only in its start frame: the
    ground endpoint's edges (a second pushed-down filter on the
    slice), the seeds' one-edge successors, or every edge when there
    are no seeds (the full closure). Work is proportional to the
    seeds' reachable set, never the graph, unless no endpoint is
    known. ``?`` is the start frame itself, with no walk; ``*`` and
    ``?`` add the identity rows of the ground endpoint or the seeds,
    or of every graph term without either."""
    (s_kind, s_val), (o_kind, o_val) = p.terms[0], p.terms[2]
    ground = None
    if seeds is None and "const" in (s_kind, o_kind):
        forward = s_kind == "const"
        ground = s_val if forward else o_val
    src, dst = ("_ps", "_po") if forward else ("_po", "_ps")
    adj = _edge_slice(triples, p.terms[1]).select(
        F.col(src).alias("u"), F.col(dst).alias("v"))
    if ground is not None:
        start = adj.filter(F.col("u") == ground)
    elif seeds is not None:
        start = adj.join(seeds, F.col("u") == F.col("_s"))
    else:
        start = adj
    start = start.select(F.col("u").alias("_s"), F.col("v").alias("_n"))
    reach = (start if p.path == "?"
             else frontier_reach(adj, start).select("_s", "_n"))
    if p.path in ("*", "?"):
        if ground is not None:
            # a JVM-side one-row frame: createDataFrame([(v,)]) is a
            # Python RDD, and reading it costs a Python-worker job
            seeds = triples.sparkSession.range(1).select(
                F.lit(ground).alias("_s"))
        elif seeds is None:
            seeds = (triples.select(F.col("subj").alias("_s"))
                     .unionByName(triples.select(F.col("obj").alias("_s")))
                     .distinct())
        reach = reach.unionByName(
            seeds.select("_s", F.col("_s").alias("_n"))).distinct()
    return reach.select(F.col("_s").alias(src), F.col("_n").alias(dst))


def _scan_seeded(triples: DataFrame, p: _Pattern, acc: DataFrame,
                 bound: set, idx) -> tuple:
    """A both-variable path pattern whose endpoint variable is already
    bound by the accumulated join: walk it from the DISTINCT bound
    values instead of materializing the full transitive closure.
    ``?s <name> "alice" . ?s <knows>+ ?o`` then does work proportional
    to alice's reachable set, not every reachability pair in the
    graph — the difference between output-bounded and graph-bounded
    at 100×. Seeds come from pattern scans of the triples table, so
    they are graph terms: their identity rows (``*`` / ``?``) are
    exactly those the unseeded form would keep after the join.

    The seed set is `stats_barrier`'d: the walk's start frame joins
    it, and without the lineage cut that join would replay the whole
    upstream join (and carry its BigInt size stats forward — see
    session.stats_barrier)."""
    from ..session import stats_barrier

    s_term, o_term = p.terms[0], p.terms[2]
    forward = s_term[1] in bound
    var = s_term[1] if forward else o_term[1]
    seeds = stats_barrier(acc.select(F.col(var).alias("_s")).distinct())
    return _bind(_path_pairs(triples, p, seeds, forward),
                 list(zip(("_ps", "_po"), (s_term, o_term))), idx)


def _union_frame(triples: DataFrame, u: _Union, idx) -> tuple:
    """A UNION block → one frame of branch solutions, multiset
    semantics (SPARQL §16.2 eliminates duplicates only under
    DISTINCT): per-branch inner joins, then ``unionByName`` — branch
    var sets are identical by parse-time check, so no unbound cases."""
    frames = []
    for j, branch in enumerate(u.branches):
        acc, bound = _branch_frame(triples, branch, f"{idx}_{j}")
        frames.append(acc.select(*sorted(bound)))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out, u.vars


def _branch_frame(triples: DataFrame, branch: list, idx) -> tuple:
    """Inner-join a plain-pattern branch (the UNION/MINUS/EXISTS
    shape) into one solution frame."""
    acc, bound = _scan(triples, branch[0], f"{idx}_0")
    for k, p in enumerate(branch[1:], start=1):
        frame, pvars = _scan(triples, p, f"{idx}_{k}")
        on = sorted(bound & pvars)
        acc = acc.join(frame, on=on) if on else acc.crossJoin(frame)
        bound |= pvars
    return acc, bound


def _scan_any(triples: DataFrame, p, idx) -> tuple:
    if isinstance(p, _Union):
        return _union_frame(triples, p, idx)
    return _scan(triples, p, idx)


def _solve(triples: DataFrame, q: _Query) -> tuple:
    """Join + filter phase shared by SELECT and CONSTRUCT: returns the
    solution frame (one column per bound variable) and the var set."""
    required = list(q.patterns)
    # most-constants-first: ground/selective patterns shrink the join
    # early; AQE re-plans the rest at runtime. Path patterns go last —
    # their pair sets are closure-sized, not scan-sized — which also
    # maximizes the chance an endpoint variable is already bound so
    # the closure can seed from the bound values (_scan_seeded).
    required.sort(key=lambda p: (bool(p.path), -p.n_const))

    # §12 subqueries evaluate bottom-up through the full pipeline
    # (their own aggregates / ORDER / LIMIT included) and inner-join
    # like required patterns, before any OPTIONAL left-joins
    sub_frames = [compile_bgp(triples, sub)
                  for sub in (q.subqueries or [])]
    if required:
        acc, bound = _scan_any(triples, required[0], 0)
    else:
        acc = sub_frames.pop(0)
        bound = set(acc.columns)
    for i, p in enumerate(required[1:], start=1):
        if isinstance(p, _Pattern) and p.path \
                and p.terms[0][0] == "var" and p.terms[2][0] == "var" \
                and bound & {p.terms[0][1], p.terms[2][1]}:
            # both-variable path with a bound endpoint: a seeded walk
            # instead of the full closure (a const endpoint already
            # seeds inside _path_pairs)
            frame, pvars = _scan_seeded(triples, p, acc, bound, i)
        else:
            frame, pvars = _scan_any(triples, p, i)
        on = sorted(bound & pvars)
        acc = acc.join(frame, on=on) if on else acc.crossJoin(frame)
        bound |= pvars

    for frame in sub_frames:
        svars = set(frame.columns)
        on = sorted(bound & svars)
        acc = acc.join(frame, on=on) if on else acc.crossJoin(frame)
        bound |= svars

    # each OPTIONAL group joins as ONE unit (its patterns inner-join
    # first, its scoped FILTERs narrow that frame pre-join — the
    # SPARQL §6.1 LeftJoin: unmatched/filtered-out rows keep the left
    # row with the group's variables unbound)
    for i, (pats, filts) in enumerate(q.optionals or []):
        frame, gvars = _branch_frame(triples, pats, f"o{i}")
        for cond in filts:
            frame = frame.filter(_filter_cond(cond))
        on = sorted(bound & gvars)
        acc = acc.join(frame, on=on, how="left")
        bound |= gvars

    # BINDs and SELECT expressions: plain Column projections over the
    # solution frame, evaluated in declaration order so later binds
    # may reference earlier aliases
    for alias, e in q.binds or []:
        acc = acc.withColumn(alias, _expr_col(e))
        bound = bound | {alias}
    for cond in q.filters:
        acc = acc.filter(_filter_cond(cond))
    for names, rows in q.values or []:
        if len(names) == 1:
            acc = acc.filter(F.col(names[0]).isin(
                *[r[0] for r in rows]))
        else:
            # inline lists are tiny by construction — an OR of
            # conjunctions stays a pushable Column predicate
            acc = acc.filter(_any_of([
                _all_of([F.col(v) == val for v, val in zip(names, row)])
                for row in rows]))
    for i, (branch, positive) in enumerate(q.exists or []):
        frame, bvars = _branch_frame(triples, branch, f"x{i}")
        on = sorted(bound & bvars)
        # semi/anti joins keep left multiplicity, matching SQL
        # [NOT] EXISTS; shared vars are required-bound (validated),
        # so no NULL-key compatibility cases arise
        acc = acc.join(frame.select(*on),
                       on=on, how="left_semi" if positive else "left_anti")
    return acc, bound


def _filter_cond(cond, no_cast=frozenset()):
    """A cond tree → a boolean Column. Spark's SQL three-valued logic
    matches SPARQL's error propagation for the connectives (§17.2:
    error||true=true, error&&false=false, !error=error→row dropped),
    so NULL-bearing OPTIONAL variables behave identically in both
    engines. ``no_cast`` names columns already numeric (aggregate
    aliases under HAVING) where the try_cast-to-long value semantics
    must NOT apply — casting an AVG double would truncate in Spark but
    round in the DuckDB twin."""
    kind = cond[0]
    if kind == "!":
        return ~_filter_cond(cond[1], no_cast)
    if kind in ("&&", "||"):
        a = _filter_cond(cond[1], no_cast)
        b = _filter_cond(cond[2], no_cast)
        return a & b if kind == "&&" else a | b
    kind, var, value = cond
    c = F.col(var)
    if kind == "BOUND":
        return c.isNotNull()
    if kind in _CMP_OPS:
        vk, vv = value
        if vk == "num":
            # numeric comparison is by VALUE (§17.3): a binding with
            # no integer value has no numeric value and the filter
            # drops it — try_cast → NULL → false, exactly the twin's
            # TRY_CAST(... AS BIGINT) semantics (and a no-op on
            # already-long aggregate aliases under HAVING)
            if var not in no_cast:
                c = c.try_cast("long")
            rhs = F.lit(vv)
        else:
            rhs = F.col(vv) if vk == "var" else F.lit(vv)
        return {"=": c == rhs, "!=": c != rhs, "<": c < rhs,
                ">": c > rhs, "<=": c <= rhs, ">=": c >= rhs}[kind]
    return {"REGEX": lambda: c.rlike(value),
            "CONTAINS": lambda: c.contains(value),
            "STRSTARTS": lambda: c.startswith(value)}[kind]()


def _expr_col(e):
    """BIND / projection expression tree → a Column."""
    if e[0] == "var":
        return F.col(e[1])
    if e[0] in ("const", "num"):
        return F.lit(e[1])
    args = [_expr_col(a) for a in e[2]]

    def _strbefore():
        # §17.4.3.12: empty string when the separator doesn't occur,
        # NULL only for a NULL input — both pinned against the twin
        col, sep = args[0], e[2][1][1]
        pos = F.instr(col, sep)
        return (F.when(col.isNull(), F.lit(None).cast("string"))
                .when(pos > 0, F.substring(col, F.lit(1), pos - 1))
                .otherwise(F.lit("")))

    def _strafter():
        col, sep = args[0], e[2][1][1]
        pos = F.instr(col, sep)
        return (F.when(col.isNull(), F.lit(None).cast("string"))
                .when(pos > 0,
                      F.substring(col, pos + len(str(sep)),
                                  F.length(col)))
                .otherwise(F.lit("")))

    # NULL propagation matches the twin: concat/upper/lower/length of
    # an unbound (NULL) argument is NULL in both engines
    return {"CONCAT": lambda: F.concat(*args),
            "UCASE": lambda: F.upper(args[0]),
            "LCASE": lambda: F.lower(args[0]),
            "STR": lambda: args[0],
            "STRLEN": lambda: F.length(args[0]),
            "SUBSTR": lambda: F.substring(
                args[0], F.lit(e[2][1][1]),
                F.lit(e[2][2][1]) if len(e[2]) == 3
                else F.length(args[0])),
            "STRBEFORE": _strbefore,
            "STRAFTER": _strafter,
            # REPLACE is regex-based (§17.4.3.15); Spark replaces all
            # matches, and the twin passes DuckDB the 'g' flag to do
            # the same
            "REPLACE": lambda: F.regexp_replace(
                args[0], str(e[2][1][1]), str(e[2][2][1])),
            "COALESCE": lambda: F.coalesce(*args)}[e[1]]()


def _all_of(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _any_of(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def _construct(solutions: DataFrame, templates: list) -> DataFrame:
    """Template instantiation: each pattern projects a (subj, pred,
    obj) triple per solution row; rows where an OPTIONAL-bound
    template variable is NULL emit nothing for that pattern (SPARQL
    §16.2: incomplete triples are dropped); the union is a set."""
    parts = []
    for p in templates:
        cols = [(F.col(name) if kind == "var" else F.lit(name)).alias(pos)
                for pos, (kind, name) in zip(_POSITIONS, p.terms)]
        part = solutions.select(*cols)
        for pos, (kind, _) in zip(_POSITIONS, p.terms):
            if kind == "var":
                part = part.filter(F.col(pos).isNotNull())
        parts.append(part)
    acc = parts[0]
    for part in parts[1:]:
        acc = acc.unionAll(part)
    return acc.distinct()


def _agg_expr(func: str, arg: str, distinct: bool, sep):
    """One aggregate spec → an unaliased Column expression."""
    if arg == "*":
        return F.count(F.lit(1))
    if func == "COUNT" and distinct:
        return F.count_distinct(F.col(arg))
    if func in ("SUM", "AVG"):
        # numeric value semantics (§17.3 via TRY_CAST, like the
        # comparison filters): bindings with no integer value are
        # skipped (NULL), an all-non-numeric group yields NULL — the
        # twin's SUM/AVG(TRY_CAST ...) behaves identically. DISTINCT
        # dedups the CAST values in both engines.
        c = F.col(arg).try_cast("long")
        if func == "SUM":
            return F.sum_distinct(c) if distinct else F.sum(c)
        return (F.expr(f"avg(DISTINCT try_cast({arg} AS BIGINT))")
                if distinct else F.avg(c))
    if func == "GROUP_CONCAT":
        # deterministic instance of §18.5.1.7: values sorted before
        # joining (collect order is partition-dependent otherwise);
        # a group with zero bound values yields NULL like SQL
        # string_agg, not ""
        arr = F.array_sort(F.collect_set(F.col(arg)) if distinct
                           else F.collect_list(F.col(arg)))
        return F.when(F.size(arr) == 0, F.lit(None)) \
            .otherwise(F.array_join(arr, sep))
    # MIN/MAX are DISTINCT-insensitive (§18.5.1.5); SAMPLE returns an
    # implementation-chosen value — pinned to MIN for determinism
    return {"COUNT": F.count, "MIN": F.min, "MAX": F.max,
            "SAMPLE": F.min}[func](F.col(arg))


def _describe(triples: DataFrame, q: _Query) -> DataFrame:
    """DESCRIBE → the triple set touching any described resource.

    The resource set is tiny by construction (explicit IRIs and/or the
    distinct bindings of the described variables), so it broadcasts
    and each side of the union is a broadcast semi-join against the
    full triples scan — no shuffle of the edge table at any scale."""
    triples = triples.select(*_POSITIONS)
    ground = [n for k, n in q.describe if k == "const"]
    var_names = [n for k, n in q.describe if k == "var"]
    res = None
    if ground:
        # a JVM-side literal frame: createDataFrame over Python rows is
        # an RDD scan that needs a Python worker to read
        res = triples.sparkSession.range(1).select(
            F.explode(F.array(*[F.lit(g) for g in ground])).alias("_res"))
    if var_names:
        sols, _ = _solve(triples, q)
        for v in var_names:
            vf = (sols.select(F.col(v).alias("_res"))
                  .filter(F.col("_res").isNotNull()))
            res = vf if res is None else res.unionByName(vf)
    res = F.broadcast(res.distinct())
    by_subj = triples.join(res, triples["subj"] == res["_res"],
                           "left_semi")
    by_obj = triples.join(res, triples["obj"] == res["_res"],
                          "left_semi")
    return by_subj.unionAll(by_obj).distinct()


def compile_bgp(triples: DataFrame, q: _Query) -> DataFrame:
    if q.describe is not None:
        return _describe(triples, q)
    acc, bound = _solve(triples, q)
    if q.ask:
        # limit(1) short-circuits the scan; the global aggregate turns
        # presence/absence into exactly one boolean row either way
        return (acc.select(F.lit(1).alias("_x")).limit(1)
                .agg((F.count("_x") > 0).alias("ask")))
    if q.construct is not None:
        return _construct(acc, q.construct)
    if q.aggs:
        # one partial-aggregated shuffle on the group keys; an empty
        # GROUP BY is the single-group global aggregate. HAVING
        # filters the aggregated frame BEFORE the projection, so it
        # may reference group keys the SELECT drops.
        acc = acc.groupBy(*q.group).agg(
            *[_agg_expr(f, a, d, sep).alias(alias)
              for f, a, d, alias, sep in q.aggs])
        numeric = {alias for f, _a, _d, alias, _s in q.aggs
                   if f in _NUMERIC_AGGS}
        for cond in q.having or []:
            acc = acc.filter(_filter_cond(cond, no_cast=numeric))
        acc = acc.select(*q.select)
    else:
        # SELECT * never exposes sequence-desugar variables
        out_cols = (sorted(bound - (q.anon or set()))
                    if q.select == ["*"] else q.select)
        acc = acc.select(*out_cols)
    if q.distinct:
        acc = acc.distinct()
    if q.order:
        acc = acc.orderBy(*[F.col(v).asc() if asc else F.col(v).desc()
                            for v, asc in q.order])
    if q.offset is not None:
        acc = acc.offset(q.offset)
    if q.limit is not None:
        acc = acc.limit(q.limit)
    return acc


def sparql(triples: DataFrame, query: str,
           base: str = DEFAULT_BASE) -> DataFrame:
    """Run a SPARQL BGP query string over a (subj, pred, obj) frame."""
    return compile_bgp(triples, parse(query, base))


def sparql_at(spark, table_base: str, query: str,
              version: int | None = None,
              base: str = DEFAULT_BASE) -> DataFrame:
    """Time-travel SPARQL: run ``query`` against a snapshotted triples
    table (``plans/snapshots``) at any retained version — current by
    default. The Iceberg-style ``VERSION AS OF`` composition as one
    API: ``sparql_at(spark, kg_dir, q, version=3)`` asks "what did the
    KG answer at refresh 3?", and running the same CONSTRUCT at two
    versions diffs a rule's derivations across refreshes."""
    from ..plans import snapshots

    return sparql(snapshots.read(spark, table_base, version),
                  query, base)


def to_sql(q: _Query, table: str = "triples") -> str:
    """The same query as ANSI SQL over ``table(subj, pred, obj)`` —
    the independent DuckDB twin used by the tests (and usable as an
    ``oracle_sql`` body). Compiled structurally from the parsed form,
    NOT via Spark, so the two executions share only the parser.

    Required patterns come first (textual order) and OPTIONAL groups
    after as LEFT JOINs of derived tables — the same evaluation order
    ``compile_bgp`` uses — so a variable bound by both sides aliases
    to the required (non-NULL) column, matching Spark's left-join
    column resolution."""
    ordered = list(q.patterns)
    joins = []
    conds = []
    filt_parts = []
    seen_vars = {}
    ctes = []
    for i, p in enumerate(ordered):
        t = f"t{i}"
        if isinstance(p, _Union):
            # UNION ALL of per-branch sub-selects (multiset semantics,
            # matching the Spark unionByName), joined as a derived
            # table on its shared variables
            sub = " UNION ALL ".join(
                _branch_sql(b, table, f"u{i}b{j}")
                for j, b in enumerate(p.branches))
            local_conds = []
            for v in sorted(p.vars):
                if v in seen_vars:
                    local_conds.append(f"{t}.{v} = {seen_vars[v]}")
                else:
                    seen_vars[v] = f"{t}.{v}"
            joins.append(f"({sub}) {t}" if i == 0
                         else f"CROSS JOIN ({sub}) {t}")
            conds += local_conds
            continue
        if p.path:
            tbl = _path_tbl(p, table, str(i), ctes)
            pos_terms = list(zip(("s", "o"), (p.terms[0], p.terms[2])))
        else:
            tbl = table
            pos_terms = list(zip(_POSITIONS, p.terms))
        local_conds = []
        for pos, (kind, name) in pos_terms:
            if kind in ("const", "alt", "neg"):
                local_conds.append(_pred_sql(f"{t}.{pos}", (kind, name)))
            elif name in seen_vars:
                local_conds.append(f"{t}.{pos} = {seen_vars[name]}")
            else:
                seen_vars[name] = f"{t}.{pos}"
        if i == 0:
            joins.append(f"{tbl} {t}")
        else:
            joins.append(f"CROSS JOIN {tbl} {t}")
        conds += local_conds
    for si, sub in enumerate(q.subqueries or []):
        # §12 subquery → derived table of its own full to_sql (DuckDB
        # allows WITH/ORDER/LIMIT inside a parenthesized sub-select),
        # inner-joined on its projected variables like a pattern
        t = f"sq{si}"
        sub_sql = to_sql(sub, table)
        local_conds = []
        for v in sorted(_projected_vars(sub)):
            if v in seen_vars:
                local_conds.append(f"{t}.{v} = {seen_vars[v]}")
            else:
                seen_vars[v] = f"{t}.{v}"
        joins.append(f"({sub_sql}) {t}" if not joins
                     else f"CROSS JOIN ({sub_sql}) {t}")
        conds += local_conds
    for gi, (pats, filts) in enumerate(q.optionals or []):
        # one derived table per OPTIONAL group: the group's patterns
        # inner-join and its scoped FILTERs apply INSIDE the
        # sub-select, then the whole unit left-joins on the shared
        # variables — mirroring the Spark _branch_frame + left join
        t = f"o{gi}"
        sub, sub_vars = _group_sql(pats, filts, table, t, ctes)
        local = []
        for v in sub_vars:
            if v in seen_vars:
                local.append(f"{t}.{v} = {seen_vars[v]}")
            else:
                seen_vars[v] = f"{t}.{v}"
        joins.append(f"LEFT JOIN ({sub}) {t} ON "
                     + (" AND ".join(local) or "TRUE"))
    aliases = seen_vars
    for alias, e in q.binds or []:
        # a bind alias maps to its (parenthesized) SQL expression, so
        # later filters/projections reference the expression inline
        aliases[alias] = _expr_sql(e, aliases)
    for cond in q.filters:
        filt_parts.append(_filter_sql(cond, aliases))
    for names, rows in q.values or []:
        if len(names) == 1:
            vals = ", ".join(_sql_str(r[0]) for r in rows)
            filt_parts.append(f"{aliases[names[0]]} IN ({vals})")
        else:
            ors = " OR ".join(
                "(" + " AND ".join(
                    f"{aliases[v]} = {_sql_str(val)}"
                    for v, val in zip(names, row)) + ")"
                for row in rows)
            filt_parts.append(f"({ors})")
    for i, (branch, positive) in enumerate(q.exists or []):
        sub = _branch_sql(branch, table, f"x{i}", outer=aliases)
        filt_parts.append(
            f"{'EXISTS' if positive else 'NOT EXISTS'} ({sub})")
    where = " AND ".join(conds + filt_parts) or "TRUE"
    frm = f"FROM {' '.join(joins)} WHERE {where}"
    with_clause = f"WITH RECURSIVE {', '.join(ctes)} " if ctes else ""

    if q.ask:
        return f"{with_clause}SELECT EXISTS (SELECT 1 {frm}) AS ask"

    if q.describe is not None:
        parts = []
        ground = [n for k, n in q.describe if k == "const"]
        if ground:
            vals = ", ".join(f"({_sql_str(g)})" for g in ground)
            parts.append(f"SELECT * FROM (VALUES {vals}) g(_res)")
        parts += [f"SELECT {aliases[n]} AS _res {frm}"
                  for k, n in q.describe if k == "var"]
        res = " UNION ".join(parts)
        return (f"{with_clause}SELECT DISTINCT d.subj AS subj, "
                f"d.pred AS pred, d.obj AS obj FROM {table} d "
                f"WHERE d.subj IN ({res}) OR d.obj IN ({res})")

    if q.construct is not None:
        # one SELECT per template pattern; UNION (not UNION ALL)
        # dedups across templates exactly like the Spark
        # union+distinct, and IS NOT NULL mirrors the §16.2
        # incomplete-triple drop
        parts = []
        for p in q.construct:
            cols, notnull = [], []
            for pos, (kind, name) in zip(_POSITIONS, p.terms):
                if kind == "var":
                    cols.append(f"{aliases[name]} AS {pos}")
                    notnull.append(f"{aliases[name]} IS NOT NULL")
                else:
                    cols.append(f"{_sql_str(name)} AS {pos}")
            parts.append(f"SELECT DISTINCT {', '.join(cols)} {frm}"
                         + ("".join(f" AND {c}" for c in notnull)))
        return with_clause + " UNION ".join(parts)

    if q.aggs:
        agg_sql = {}
        for func, arg, distinct, alias, sep in q.aggs:
            if func == "GROUP_CONCAT":
                col = aliases[arg]
                d = "DISTINCT " if distinct else ""
                agg_sql[alias] = (f"string_agg({d}{col}, {_sql_str(sep)} "
                                  f"ORDER BY {col})")
                continue
            sql_func = "MIN" if func == "SAMPLE" else func
            col = aliases.get(arg)
            if func in ("SUM", "AVG"):
                col = f"TRY_CAST({col} AS BIGINT)"
            inner = ("*" if arg == "*"
                     else ("DISTINCT " if distinct
                           and func in ("COUNT", "SUM", "AVG")
                           else "") + col)
            agg_sql[alias] = f"{sql_func}({inner})"
        sel = ", ".join(
            f"{agg_sql.get(v, aliases.get(v))} AS {v}" for v in q.select)
        sql = f"{with_clause}SELECT {sel} {frm}"
        if q.group:
            sql += " GROUP BY " + ", ".join(aliases[v] for v in q.group)
        if q.having:
            # the aggregate expression is inlined (not the output
            # alias) so HAVING may reference aliases the SELECT drops
            numeric = {alias for f, _a, _d, alias, _s in q.aggs
                       if f in _NUMERIC_AGGS}
            hav = [_filter_sql(cond, {**aliases, **agg_sql},
                               no_cast=numeric)
                   for cond in q.having]
            sql += " HAVING " + " AND ".join(hav)
        if q.order:
            sql += " ORDER BY " + ", ".join(_order_sql(v, asc)
                                            for v, asc in q.order)
        if q.limit is not None:
            sql += f" LIMIT {q.limit}"
        if q.offset is not None:
            sql += f" OFFSET {q.offset}"
        return sql

    out = (sorted(set(aliases) - (q.anon or set()))
           if q.select == ["*"] else q.select)
    sel = ", ".join(f"{aliases[v]} AS {v}" for v in out)
    sql = (f"{with_clause}SELECT {'DISTINCT ' if q.distinct else ''}"
           f"{sel} {frm}")
    if q.order:
        sql += " ORDER BY " + ", ".join(_order_sql(v, asc)
                                        for v, asc in q.order)
    if q.limit is not None:
        sql += f" LIMIT {q.limit}"
    if q.offset is not None:
        sql += f" OFFSET {q.offset}"
    return sql


def _branch_sql(patterns: list, table: str, prefix: str,
                outer: dict | None = None) -> str:
    """One plain-pattern branch → a flat SELECT of its variables
    (UNION form, ``outer=None``), or a ``SELECT 1`` correlated to the
    outer query's variable aliases (the [NOT] EXISTS form)."""
    joins, conds, seen = [], [], {}
    for k, p in enumerate(patterns):
        t = f"{prefix}_{k}"
        joins.append(f"{table} {t}" if k == 0
                     else f"CROSS JOIN {table} {t}")
        for pos, (kind, name) in zip(_POSITIONS, p.terms):
            if kind in ("const", "alt", "neg"):
                conds.append(_pred_sql(f"{t}.{pos}", (kind, name)))
            elif name in seen:
                conds.append(f"{t}.{pos} = {seen[name]}")
            else:
                seen[name] = f"{t}.{pos}"
                if outer is not None and name in outer:
                    conds.append(f"{t}.{pos} = {outer[name]}")
    frm = f"FROM {' '.join(joins)} WHERE {' AND '.join(conds) or 'TRUE'}"
    if outer is not None:
        return f"SELECT 1 {frm}"
    sel = ", ".join(f"{seen[v]} AS {v}" for v in sorted(seen))
    return f"SELECT {sel} {frm}"




def _group_sql(patterns: list, filters: list, table: str, prefix: str,
               ctes: list) -> tuple:
    """An OPTIONAL group → (flat SELECT of its variables with the
    scoped filters applied inside, sorted var list). Path patterns
    append their recursive CTE to ``ctes`` (the WITH clause covers the
    whole statement, so derived tables may reference it)."""
    joins, conds, seen = [], [], {}
    for k, p in enumerate(patterns):
        t = f"{prefix}_{k}"
        if p.path:
            tbl = _path_tbl(p, table, f"_{prefix}_{k}", ctes)
            pos_terms = list(zip(("s", "o"), (p.terms[0], p.terms[2])))
        else:
            tbl = table
            pos_terms = list(zip(_POSITIONS, p.terms))
        joins.append(f"{tbl} {t}" if k == 0 else f"CROSS JOIN {tbl} {t}")
        for pos, (kind, name) in pos_terms:
            if kind in ("const", "alt", "neg"):
                conds.append(_pred_sql(f"{t}.{pos}", (kind, name)))
            elif name in seen:
                conds.append(f"{t}.{pos} = {seen[name]}")
            else:
                seen[name] = f"{t}.{pos}"
    for cond in filters:
        conds.append(_filter_sql(cond, seen))
    frm = f"FROM {' '.join(joins)} WHERE {' AND '.join(conds) or 'TRUE'}"
    sel = ", ".join(f"{seen[v]} AS {v}" for v in sorted(seen))
    return f"SELECT {sel} {frm}", sorted(seen)


def _path_tbl(p: "_Pattern", table: str, name: str, ctes: list) -> str:
    """A path pattern → a table expression with columns (s, o): the
    ``<p>+`` recursive CTE, and for ``*`` / ``?`` a union with the
    zero-length identity rows (every graph term, plus any ground
    endpoint even off-graph — mirroring ``_path_pairs``)."""
    pc = _pred_sql("pred", p.terms[1])
    if p.path == "?":
        base = f"SELECT subj AS s, obj AS o FROM {table} WHERE {pc}"
    else:
        cte = f"path{name}"
        ctes.append(
            f"{cte}(s, o) AS ("
            f"SELECT subj, obj FROM {table} WHERE {pc} "
            f"UNION SELECT r.s, e.obj FROM {cte} r "
            f"JOIN {table} e ON e.subj = r.o "
            f"AND {_pred_sql('e.pred', p.terms[1])})")
        if p.path == "+":
            return cte
        base = f"SELECT s, o FROM {cte}"
    ident = (f"SELECT n AS s, n AS o FROM (SELECT subj AS n FROM {table} "
             f"UNION SELECT obj FROM {table}) nn")
    for kind, term in (p.terms[0], p.terms[2]):
        if kind == "const":
            ident += f" UNION SELECT {_sql_str(term)}, {_sql_str(term)}"
    return f"({base} UNION {ident})"


def _pred_sql(col: str, pred_term) -> str:
    """A pred-position term → its SQL condition (=, IN, NOT IN)."""
    kind, val = pred_term
    if kind == "const":
        return f"{col} = {_sql_str(val)}"
    vals = ", ".join(_sql_str(v) for v in val)
    return f"{col} {'IN' if kind == 'alt' else 'NOT IN'} ({vals})"


def _expr_sql(e, aliases: dict) -> str:
    """BIND / projection expression tree → a SQL expression. `` || ``
    (not concat()) so an unbound/NULL argument propagates NULL exactly
    like Spark's F.concat."""
    if e[0] == "var":
        return aliases[e[1]]
    if e[0] == "const":
        return _sql_str(e[1])
    if e[0] == "num":
        return str(e[1])
    func, args = e[1], [_expr_sql(a, aliases) for a in e[2]]
    if func == "CONCAT":
        return "(" + " || ".join(args) + ")"
    if func == "SUBSTR":
        ln = args[2] if len(args) == 3 else f"length({args[0]})"
        return f"substring({args[0]}, {args[1]}, {ln})"
    if func in ("STRBEFORE", "STRAFTER"):
        col, sep = args[0], args[1]
        pos = f"instr({col}, {sep})"
        sep_len = len(str(e[2][1][1]))
        body = (f"substring({col}, 1, {pos} - 1)"
                if func == "STRBEFORE"
                else f"substring({col}, {pos} + {sep_len}, "
                     f"length({col}))")
        return (f"(CASE WHEN {col} IS NULL THEN NULL "
                f"WHEN {pos} > 0 THEN {body} ELSE '' END)")
    if func == "REPLACE":
        return (f"regexp_replace({args[0]}, {args[1]}, {args[2]}, "
                f"'g')")
    if func == "COALESCE":
        return f"COALESCE({', '.join(args)})"
    return {"UCASE": f"upper({args[0]})",
            "LCASE": f"lower({args[0]})",
            "STR": args[0],
            "STRLEN": f"length({args[0]})"}[func]


_SQL_OPS = {"=": "=", "!=": "<>", "<": "<", ">": ">",
            "<=": "<=", ">=": ">="}


def _filter_sql(cond, aliases: dict, no_cast=frozenset()) -> str:
    """A cond tree → a SQL boolean expression; leaf variables resolve
    through ``aliases``. Mirrors `_filter_cond` (same three-valued
    logic, same ``no_cast`` exemption for numeric aggregate aliases
    under HAVING)."""
    kind = cond[0]
    if kind == "!":
        return f"(NOT {_filter_sql(cond[1], aliases, no_cast)})"
    if kind in ("&&", "||"):
        op = "AND" if kind == "&&" else "OR"
        return (f"({_filter_sql(cond[1], aliases, no_cast)} {op} "
                f"{_filter_sql(cond[2], aliases, no_cast)})")
    kind, var, value = cond
    v = aliases[var]
    if kind == "BOUND":
        return f"({v} IS NOT NULL)"
    if kind in _SQL_OPS:
        vk, vv = value
        if vk == "num":
            lhs = v if var in no_cast else f"TRY_CAST({v} AS BIGINT)"
            return f"{lhs} {_SQL_OPS[kind]} {vv}"
        s = aliases[vv] if vk == "var" else _sql_str(vv)
        return f"{v} {_SQL_OPS[kind]} {s}"
    s = _sql_str(value)
    return {"REGEX": f"regexp_matches({v}, {s})",
            "CONTAINS": f"contains({v}, {s})",
            "STRSTARTS": f"starts_with({v}, {s})"}[kind]


def _order_sql(v: str, asc: bool) -> str:
    """Spark sorts NULLs first on ASC, last on DESC; DuckDB defaults
    to NULLS LAST everywhere — made explicit so ORDER BY + LIMIT over
    OPTIONAL-born NULLs selects the same ROW SET in both engines."""
    return f"{v} ASC NULLS FIRST" if asc else f"{v} DESC NULLS LAST"


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"
