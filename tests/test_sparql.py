"""SPARQL BGP compiler: hand-computed fixtures + DuckDB twin sweep.

Two independent oracles: (1) tiny graphs with results worked out by
hand; (2) ``sparql.to_sql`` — a structural SQL compilation sharing
only the parser with the Spark path — replayed in DuckDB over the
same triples (including triples from the real extraction pipeline).
"""

import duckdb
import pytest

from multivac_spark.operators import sparql as S

TRIPLES = [
    ("ebola", "infect", "cell"),
    ("ebola", "infect", "host"),
    ("virus x", "infect", "cell"),
    ("virus x", "mutate", "genome"),
    ("cell", "contain", "genome"),
    ("host", "contain", "cell"),
    ("genome", "encode", "protein"),
    ("self", "contain", "self"),
]


@pytest.fixture(scope="module")
def triples(spark):
    df = spark.createDataFrame(
        TRIPLES, "subj string, pred string, obj string").cache()
    df.count()
    return df


def srt(rows):
    # None-safe row ordering (OPTIONAL emits NULLs)
    return sorted(rows, key=lambda r: tuple(
        (x is None, x or "") for x in r))


def run(df, q):
    out = S.sparql(df, q)
    return srt(map(tuple, out.collect()))


# ---------------------------------------------------------------------------
# hand-computed results
# ---------------------------------------------------------------------------

def test_single_pattern_const_pred(triples):
    got = run(triples, 'SELECT ?s ?o WHERE { ?s "infect" ?o }')
    assert got == [("ebola", "cell"), ("ebola", "host"),
                   ("virus x", "cell")]


def test_join_on_shared_variable(triples):
    # who infects something that contains a genome?
    got = run(triples, """
        SELECT ?s ?x WHERE { ?s "infect" ?x . ?x "contain" "genome" }""")
    assert got == [("ebola", "cell"), ("virus x", "cell")]


def test_three_hop_chain(triples):
    got = run(triples, """
        SELECT ?a ?c WHERE {
          ?a "infect" ?b . ?b "contain" ?c . ?c "encode" "protein" }""")
    assert got == [("ebola", "genome"), ("virus x", "genome")]


def test_iri_terms_match_mentions(triples):
    base = S.DEFAULT_BASE
    got = run(triples, f"""
        SELECT ?o WHERE {{ <{base}virus%20x> <{base}infect> ?o }}""")
    assert got == [("cell",)]


def test_repeated_variable_in_one_pattern(triples):
    got = run(triples, 'SELECT ?x WHERE { ?x "contain" ?x }')
    assert got == [("self",)]


def test_optional_left_join(triples):
    got = run(triples, """
        SELECT ?s ?g WHERE {
          ?s "infect" ?x . OPTIONAL { ?s "mutate" ?g } }""")
    assert got == [("ebola", None), ("ebola", None),
                   ("virus x", "genome")]


def test_filters(triples):
    q = ('SELECT ?s ?o WHERE { ?s "infect" ?o . '
         'FILTER(REGEX(?s, "^v")) FILTER(?o != "host") }')
    assert run(triples, q) == [("virus x", "cell")]
    q2 = ('SELECT DISTINCT ?s WHERE { ?s ?p ?o . '
          'FILTER(CONTAINS(?s, " ")) }')
    assert run(triples, q2) == [("virus x",)]
    q3 = ('SELECT DISTINCT ?p WHERE { ?s ?p ?o . '
          'FILTER(STRSTARTS(?p, "con")) }')
    assert run(triples, q3) == [("contain",)]


def test_distinct_order_limit(triples):
    got = run(triples, """
        SELECT DISTINCT ?p WHERE { ?s ?p ?o }
        ORDER BY DESC(?p) LIMIT 2""")
    assert got == [("infect",), ("mutate",)]


def test_ground_pattern_is_existence_check(triples):
    hit = run(triples, """
        SELECT ?o WHERE { "ebola" "infect" "cell" . "cell" "contain" ?o }""")
    assert hit == [("genome",)]
    miss = run(triples, """
        SELECT ?o WHERE { "ebola" "infect" "nope" . "cell" "contain" ?o }""")
    assert miss == []


def test_cartesian_when_no_shared_vars(triples):
    got = run(triples, """
        SELECT ?a ?b WHERE { ?a "mutate" ?o1 . ?b "encode" ?o2 }""")
    assert got == [("virus x", "genome")]


def test_parse_errors(triples):
    for bad in [
        "SELECT ?x WHERE { }",
        "SELECT ?x WHERE { ?a ?p ?b } LIMIT ?x",
        'SELECT ?zz WHERE { ?a ?p ?b }',
        'SELECT ?a WHERE { ?a ?p ?b . FILTER(?missing = "x") }',
        'SELECT ?a WHERE { OPTIONAL { ?a ?p ?b } }',
        'SELECT ?a WHERE { ?a ?p ?b } ORDER BY ?nope',
    ]:
        with pytest.raises(S.SparqlError):
            S.sparql(triples, bad)


# ---------------------------------------------------------------------------
# property paths (<p>+)
# ---------------------------------------------------------------------------
# contain edges: cell→genome, host→cell, self→self
# ⇒ contain+ = {(cell,genome), (host,cell), (host,genome), (self,self)}

def test_path_both_variables_full_closure(triples):
    got = run(triples, 'SELECT ?a ?b WHERE { ?a "contain"+ ?b }')
    assert got == [("cell", "genome"), ("host", "cell"),
                   ("host", "genome"), ("self", "self")]


def test_path_seeded_forward_and_backward(triples):
    fwd = run(triples, 'SELECT ?x WHERE { "host" "contain"+ ?x }')
    assert fwd == [("cell",), ("genome",)]
    bwd = run(triples, 'SELECT ?x WHERE { ?x "contain"+ "genome" }')
    assert bwd == [("cell",), ("host",)]


def test_path_ground_existence(triples):
    hit = run(triples, """
        SELECT ?s WHERE { "host" "contain"+ "genome" .
                          "genome" "encode" ?s }""")
    assert hit == [("protein",)]
    miss = run(triples, """
        SELECT ?s WHERE { "genome" "contain"+ "host" .
                          "genome" "encode" ?s }""")
    assert miss == []


def test_path_joined_with_plain_pattern(triples):
    got = run(triples, """
        SELECT ?s ?g WHERE { ?s "infect" ?x . ?x "contain"+ ?g }""")
    assert got == [("ebola", "cell"), ("ebola", "genome"),
                   ("ebola", "genome"), ("virus x", "genome")]


def test_path_on_deep_chain(spark):
    """a→b→c→d→e→f: closure = 15 pairs (doubling needs 3 rounds);
    seeded BFS walks 5 frontiers."""
    chain = spark.createDataFrame(
        [(x, "n", y) for x, y in zip("abcde", "bcdef")],
        "subj string, pred string, obj string")
    got = run(chain, 'SELECT ?a ?b WHERE { ?a "n"+ ?b }')
    nodes = "abcdef"
    want = sorted((nodes[i], nodes[j])
                  for i in range(6) for j in range(i + 1, 6))
    assert got == want
    fwd = run(chain, 'SELECT ?x WHERE { "a" "n"+ ?x }')
    assert fwd == [("b",), ("c",), ("d",), ("e",), ("f",)]


def test_path_cycle_terminates(spark):
    ring = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a")],
        "subj string, pred string, obj string")
    got = run(ring, 'SELECT ?x WHERE { "a" "r"+ ?x }')
    assert got == [("a",), ("b",), ("c",)]
    both = run(ring, 'SELECT ?a ?b WHERE { ?a "r"+ ?b }')
    assert len(both) == 9  # complete closure of a 3-cycle


def test_path_requires_constant_predicate(triples):
    with pytest.raises(S.SparqlError):
        S.sparql(triples, 'SELECT ?a WHERE { ?a ?p+ ?b }')


# ---------------------------------------------------------------------------
# CONSTRUCT (rule/enrichment form)
# ---------------------------------------------------------------------------

def test_construct_inverse_relation(triples):
    got = run(triples, """
        CONSTRUCT { ?o "infected_by" ?s } WHERE { ?s "infect" ?o }""")
    assert got == [("cell", "infected_by", "ebola"),
                   ("cell", "infected_by", "virus x"),
                   ("host", "infected_by", "ebola")]


def test_construct_composed_relation_and_multi_template(triples):
    # transitive contain-after-infect, emitted alongside a type tag
    got = run(triples, """
        CONSTRUCT { ?s "reaches" ?g . ?s "is_a" "pathogen" }
        WHERE { ?s "infect" ?x . ?x "contain" ?g }""")
    assert got == [("ebola", "is_a", "pathogen"),
                   ("ebola", "reaches", "cell"),
                   ("ebola", "reaches", "genome"),
                   ("virus x", "is_a", "pathogen"),
                   ("virus x", "reaches", "genome")]


def test_construct_drops_incomplete_triples(triples):
    # ?g unbound (NULL) for non-mutating subjects → no triple emitted
    got = run(triples, """
        CONSTRUCT { ?s "mutates_into" ?g }
        WHERE { ?s "infect" ?x . OPTIONAL { ?s "mutate" ?g } }""")
    assert got == [("virus x", "mutates_into", "genome")]


def test_construct_output_is_queryable(triples):
    derived = S.sparql(triples, """
        CONSTRUCT { ?o "infected_by" ?s } WHERE { ?s "infect" ?o }""")
    got = srt(map(tuple, S.sparql(
        derived, 'SELECT ?v WHERE { "cell" "infected_by" ?v }').collect()))
    assert got == [("ebola",), ("virus x",)]


def test_construct_rejects_modifiers_and_unbound(triples):
    with pytest.raises(S.SparqlError):
        S.sparql(triples, 'CONSTRUCT { ?s "r" ?o } '
                          'WHERE { ?s "infect" ?o } LIMIT 2')
    with pytest.raises(S.SparqlError):
        S.sparql(triples, 'CONSTRUCT { ?s "r" ?zz } '
                          'WHERE { ?s "infect" ?o }')
    with pytest.raises(S.SparqlError):
        S.sparql(triples, 'CONSTRUCT { } WHERE { ?s "infect" ?o }')


# ---------------------------------------------------------------------------
# alternation / inverse / UNION / VALUES
# ---------------------------------------------------------------------------

def test_predicate_alternation(triples):
    got = run(triples, '''
        SELECT ?s ?o WHERE { ?s "infect"|"mutate" ?o }''')
    assert got == [("ebola", "cell"), ("ebola", "host"),
                   ("virus x", "cell"), ("virus x", "genome")]


def test_inverse_predicate(triples):
    # s ^p o  ≡  o p s: what infects the cell?
    got = run(triples, 'SELECT ?x WHERE { "cell" ^"infect" ?x }')
    assert got == [("ebola",), ("virus x",)]


def test_inverse_property_path(triples):
    # ^(contain+): everything transitively contained BY host
    got = run(triples, 'SELECT ?x WHERE { ?x ^"contain"+ "host" }')
    assert got == [("cell",), ("genome",)]


def test_union_basic(triples):
    got = run(triples, '''
        SELECT ?s ?o WHERE {
            { ?s "infect" ?o } UNION { ?s "mutate" ?o } }''')
    assert got == [("ebola", "cell"), ("ebola", "host"),
                   ("virus x", "cell"), ("virus x", "genome")]


def test_union_preserves_duplicates(triples):
    # SPARQL UNION is a multiset union — identical branches double up
    got = run(triples, '''
        SELECT ?o WHERE {
            { "ebola" "infect" ?o } UNION { "ebola" "infect" ?o } }''')
    assert got == [("cell",), ("cell",), ("host",), ("host",)]


def test_union_joined_with_pattern(triples):
    # sources of cell via either relation, then what cell contains
    got = run(triples, '''
        SELECT ?s ?g WHERE {
            { ?s "infect" ?x } UNION { ?s "contain" ?x } .
            ?x "contain" ?g }''')
    assert got == [("ebola", "cell"), ("ebola", "genome"),
                   ("host", "genome"), ("self", "self"),
                   ("virus x", "genome")]


def test_values_single_var(triples):
    got = run(triples, '''
        SELECT ?s ?o WHERE { ?s "infect" ?o .
            VALUES ?s { "ebola" } }''')
    assert got == [("ebola", "cell"), ("ebola", "host")]


def test_values_multi_var(triples):
    got = run(triples, '''
        SELECT ?s ?o WHERE { ?s ?p ?o .
            VALUES (?s ?o) { ("ebola" "cell") ("cell" "genome") } }''')
    assert got == [("cell", "genome"), ("ebola", "cell")]


def test_union_values_errors(triples):
    bad = [
        # UNION branches binding different variables
        ('SELECT ?s WHERE { { ?s "infect" ?o } UNION '
         '{ ?s "mutate" ?g } }'),
        # lone braced group (no UNION)
        'SELECT ?s WHERE { { ?s "infect" ?o } }',
        # OPTIONAL inside a UNION branch
        ('SELECT ?s WHERE { { OPTIONAL { ?s "infect" ?o } } UNION '
         '{ ?s "mutate" ?o } }'),
        # property path inside a UNION branch
        ('SELECT ?a WHERE { { ?a "contain"+ ?b } UNION '
         '{ ?a "infect" ?b } }'),
        # alternation with a variable alternative
        'SELECT ?s WHERE { ?s "infect"|?p ?o }',
        # path over an alternation
        'SELECT ?s WHERE { ?s "infect"|"contain"+ ?o }',
        # VALUES of an unbound variable
        'SELECT ?s WHERE { ?s "infect" ?o . VALUES ?zz { "x" } }',
        # VALUES with non-constant rows
        'SELECT ?s WHERE { ?s "infect" ?o . VALUES ?s { ?o } }',
        # empty VALUES
        'SELECT ?s WHERE { ?s "infect" ?o . VALUES ?s { } }',
    ]
    for q in bad:
        with pytest.raises(S.SparqlError):
            S.sparql(triples, q)


# ---------------------------------------------------------------------------
# MINUS / FILTER [NOT] EXISTS
# ---------------------------------------------------------------------------

def test_minus(triples):
    # infectors that do NOT also mutate anything
    got = run(triples, '''
        SELECT ?s ?o WHERE { ?s "infect" ?o
            MINUS { ?s "mutate" ?g } }''')
    assert got == [("ebola", "cell"), ("ebola", "host")]


def test_filter_not_exists(triples):
    got = run(triples, '''
        SELECT ?s ?o WHERE { ?s "infect" ?o .
            FILTER NOT EXISTS { ?s "mutate" ?g } }''')
    assert got == [("ebola", "cell"), ("ebola", "host")]


def test_filter_exists(triples):
    # infectors that ALSO mutate something
    got = run(triples, '''
        SELECT ?s ?o WHERE { ?s "infect" ?o .
            FILTER EXISTS { ?s "mutate" ?g } }''')
    assert got == [("virus x", "cell")]


def test_exists_keeps_multiplicity(triples):
    # semi-join: left multiplicity preserved (duplicated via UNION),
    # and NOT multiplied by the number of EXISTS witnesses
    got = run(triples, '''
        SELECT ?o WHERE {
            { "ebola" "infect" ?o } UNION { "ebola" "infect" ?o } .
            FILTER EXISTS { ?x "contain" ?o } }''')
    assert got == [("cell",), ("cell",)]


def test_minus_on_shared_join_var(triples):
    # objects of infect that are not containers
    got = run(triples, '''
        SELECT ?s ?o WHERE { ?s "infect" ?o
            MINUS { ?o "contain" ?g } }''')
    assert got == []  # cell and host both contain something


def test_exists_errors(triples):
    bad = [
        # no shared variable
        ('SELECT ?s WHERE { ?s "infect" ?o '
         'MINUS { ?a "mutate" ?b } }'),
        # shared variable bound only inside OPTIONAL
        ('SELECT ?s WHERE { ?s "infect" ?o . '
         'OPTIONAL { ?o "mutate" ?g } '
         'MINUS { ?g "encode" ?x } }'),
        # MINUS inside OPTIONAL
        ('SELECT ?s WHERE { ?s "infect" ?o . '
         'OPTIONAL { ?o "mutate" ?g MINUS { ?g "encode" ?x } } }'),
        # nested MINUS inside a MINUS branch
        ('SELECT ?s WHERE { ?s "infect" ?o '
         'MINUS { ?s "mutate" ?g MINUS { ?g "encode" ?x } } }'),
        # FILTER NOT without EXISTS
        'SELECT ?s WHERE { ?s "infect" ?o . FILTER NOT (?s = "x") }',
    ]
    for q in bad:
        with pytest.raises(S.SparqlError):
            S.sparql(triples, q)


# ---------------------------------------------------------------------------
# aggregates (GROUP BY + COUNT/MIN/MAX)
# ---------------------------------------------------------------------------

def test_agg_count_per_group(triples):
    got = run(triples, '''
        SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s "infect" ?o }
        GROUP BY ?s''')
    assert got == [("ebola", 2), ("virus x", 1)]


def test_agg_global_count_star(triples):
    got = run(triples, 'SELECT (COUNT(*) AS ?total) WHERE { ?s ?p ?o }')
    assert got == [(8,)]


def test_agg_count_distinct_and_minmax(triples):
    # per-predicate: distinct subjects, lexicographic min/max object
    got = run(triples, '''
        SELECT ?p (COUNT(DISTINCT ?s) AS ?heads) (MIN(?o) AS ?lo)
               (MAX(?o) AS ?hi)
        WHERE { ?s ?p ?o } GROUP BY ?p''')
    assert got == [("contain", 3, "cell", "self"),
                   ("encode", 1, "protein", "protein"),
                   ("infect", 2, "cell", "host"),
                   ("mutate", 1, "genome", "genome")]


def test_agg_count_skips_optional_nulls(triples):
    # COUNT(?g) counts bound solutions only — genome contains nothing
    got = run(triples, '''
        SELECT ?x (COUNT(?g) AS ?n) WHERE {
            "cell" "contain" ?x . OPTIONAL { ?x "encode" ?g } }
        GROUP BY ?x''')
    assert got == [("genome", 1)]


def test_agg_order_by_alias_and_limit(triples):
    out = S.sparql(triples, '''
        SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o }
        GROUP BY ?p ORDER BY DESC(?n) ?p LIMIT 2''')
    assert [tuple(r) for r in out.collect()] == [
        ("contain", 3), ("infect", 3)]


def test_agg_group_var_not_selected(triples):
    # SPARQL allows grouping by a variable the SELECT omits
    got = run(triples, '''
        SELECT (COUNT(*) AS ?n) WHERE { ?s "infect" ?o } GROUP BY ?s''')
    assert got == [(1,), (2,)]


def test_group_concat_and_sample(triples):
    got = run(triples, '''
        SELECT ?s (GROUP_CONCAT(?o) AS ?objs) (SAMPLE(?o) AS ?one)
        WHERE { ?s "infect" ?o } GROUP BY ?s''')
    assert got == [("ebola", "cell host", "cell"),
                   ("virus x", "cell", "cell")]


def test_group_concat_separator_distinct_and_duplicates(triples):
    # UNION duplicates every row: plain GROUP_CONCAT keeps both
    # copies, DISTINCT collapses them; custom separator applies
    got = run(triples, '''
        SELECT ?s (GROUP_CONCAT(?o) AS ?all)
               (GROUP_CONCAT(DISTINCT ?o ; SEPARATOR = ", ") AS ?uniq)
        WHERE { { ?s "infect" ?o } UNION { ?s "infect" ?o } }
        GROUP BY ?s''')
    assert got == [("ebola", "cell cell host host", "cell, host"),
                   ("virus x", "cell cell", "cell")]


def test_group_concat_empty_group_is_null(triples):
    # genome contains nothing: zero bound ?g in the group → NULL
    # (matching SQL string_agg), not ""
    got = run(triples, '''
        SELECT ?s (GROUP_CONCAT(?g) AS ?c) WHERE {
            ?s "mutate" ?o . OPTIONAL { ?o "contain" ?g } }
        GROUP BY ?s''')
    assert got == [("virus x", None)]


def test_optional_scoped_filter_keeps_unmatched_rows(triples):
    # the scoped filter rejects the only mutate edge, so EVERY left
    # row survives with ?g unbound — §6.1 LeftJoin, not a post-join
    # filter (which would drop the NULL rows too)
    got = run(triples, '''
        SELECT ?s ?g WHERE { ?s "infect" ?x .
            OPTIONAL { ?s "mutate" ?g FILTER(?g != "genome") } }''')
    assert got == [("ebola", None), ("ebola", None), ("virus x", None)]


def test_optional_scoped_filter_selective(triples):
    got = run(triples, '''
        SELECT ?s ?g WHERE { ?s "infect" ?x .
            OPTIONAL { ?s "mutate" ?g FILTER(STRSTARTS(?g, "gen")) } }''')
    assert got == [("ebola", None), ("ebola", None),
                   ("virus x", "genome")]


def test_optional_group_binds_all_or_nothing(triples):
    # host→contain→cell→contain→genome completes the 2-pattern group;
    # cell→contain→genome→contain→∅ does not, so BOTH its variables
    # stay unbound (sequential per-pattern left joins would have
    # bound ?g alone)
    got = run(triples, '''
        SELECT ?s ?g ?h WHERE { ?s "infect" ?x .
            OPTIONAL { ?x "contain" ?g . ?g "contain" ?h } }''')
    assert got == [("ebola", "cell", "genome"), ("ebola", None, None),
                   ("virus x", None, None)]


def test_optional_validation_errors(triples):
    bad = [
        # scoped FILTER on a variable not bound inside the group
        ('SELECT ?s ?g WHERE { ?s "infect" ?x . '
         'OPTIONAL { ?x "contain" ?g FILTER(?s = "ebola") } }'),
        # two OPTIONAL groups sharing a variable
        ('SELECT ?s WHERE { ?s "infect" ?x . '
         'OPTIONAL { ?s "mutate" ?g } OPTIONAL { ?g "encode" ?p } }'),
        # empty OPTIONAL group
        'SELECT ?s WHERE { ?s "infect" ?x . OPTIONAL { } }',
    ]
    for q in bad:
        with pytest.raises(S.SparqlError):
            S.sparql(triples, q)


def test_filter_var_to_var_comparison(triples):
    got = run(triples, '''
        SELECT ?x ?y WHERE { ?x "contain" ?y . FILTER(?x != ?y) }''')
    assert got == [("cell", "genome"), ("host", "cell")]
    got = run(triples, '''
        SELECT ?x WHERE { ?x "contain" ?y . FILTER(?x = ?y) }''')
    assert got == [("self",)]
    # scoped var-to-var filter inside OPTIONAL
    got = run(triples, '''
        SELECT ?s ?y WHERE { ?s "infect" ?x .
            OPTIONAL { ?x "contain" ?y FILTER(?x != ?y) } }''')
    assert got == [("ebola", "cell"), ("ebola", "genome"),
                   ("virus x", "genome")]
    with pytest.raises(S.SparqlError):
        S.sparql(triples,
                 'SELECT ?x WHERE { ?x "contain" ?y . FILTER(?x = ?zz) }')


def test_offset_pagination(triples):
    page = lambda off: run(triples, '''
        SELECT ?s ?o WHERE { ?s ?p ?o } ORDER BY ?s ?o
        LIMIT 3 OFFSET ''' + str(off))
    # collect() after ORDER BY preserves order; srt re-sorts but
    # pages must partition the ordered row set without overlap
    all_rows = run(triples, 'SELECT ?s ?o WHERE { ?s ?p ?o }')
    paged = page(0) + page(3) + page(6)
    assert srt(paged) == all_rows
    assert run(triples, '''
        SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s
        ORDER BY DESC(?n) ?s LIMIT 1 OFFSET 1''') == [("virus x", 2)]
    with pytest.raises(S.SparqlError):
        S.sparql(triples, 'ASK { ?s ?p ?o } OFFSET 1')
    with pytest.raises(S.SparqlError):
        S.sparql(triples, 'SELECT ?s WHERE { ?s ?p ?o } OFFSET ?x')


def test_sequence_path_two_steps(triples):
    got = run(triples, 'SELECT ?a ?c WHERE { ?a "infect"/"contain" ?c }')
    assert got == [("ebola", "cell"), ("ebola", "genome"),
                   ("virus x", "genome")]


def test_sequence_path_three_steps_and_star_select(triples):
    got = run(triples, 'SELECT * WHERE '
                       '{ ?a "infect"/"contain"/"encode" ?c }')
    # SELECT * hides the two ?_seqN desugar variables
    assert got == [("ebola", "protein"), ("virus x", "protein")]


def test_sequence_path_with_modifier_step(triples):
    # second step is zero-or-one: genome itself plus what it encodes
    got = run(triples, 'SELECT ?a ?c WHERE { ?a "mutate"/"encode"? ?c }')
    assert got == [("virus x", "genome"), ("virus x", "protein")]


def test_sequence_path_with_inverse_step(triples):
    # ^"infect" walks infect edges backwards: who else infects what
    # ?a mutates... nothing mutates an infect-target; use contain:
    # ?a "contain"/^"infect" ?c — a contains x and c infects x
    got = run(triples, 'SELECT ?a ?c WHERE { ?a "contain"/^"infect" ?c }')
    assert got == [("host", "ebola"), ("host", "virus x")]


def test_sequence_path_errors(triples):
    bad = [
        # reserved desugar variable name
        'SELECT ?_seq0 WHERE { ?_seq0 ?p ?o }',
        # sequence inside a UNION branch
        ('SELECT ?s WHERE { { ?s "infect"/"contain" ?o } UNION '
         '{ ?s "mutate" ?o } }'),
        # sequence inside a MINUS block
        ('SELECT ?s ?o WHERE { ?s "infect" ?o '
         'MINUS { ?s "infect"/"contain" ?o } }'),
    ]
    for q in bad:
        with pytest.raises(S.SparqlError):
            S.sparql(triples, q)


def test_zero_or_more_path_ground_seed(triples):
    got = run(triples, 'SELECT ?b WHERE { <' + S.DEFAULT_BASE +
                       'host> "contain"* ?b }')
    assert got == [("cell",), ("genome",), ("host",)]


def test_zero_or_more_path_both_variables(triples):
    # closure pairs plus the zero-length identity over every graph
    # term (7 terms; (self,self) is in both)
    got = run(triples, 'SELECT ?a ?b WHERE { ?a "contain"* ?b }')
    assert got == srt([("cell", "genome"), ("host", "cell"),
                       ("host", "genome"), ("self", "self"),
                       ("cell", "cell"), ("ebola", "ebola"),
                       ("genome", "genome"), ("host", "host"),
                       ("protein", "protein"),
                       ("virus x", "virus x")])


def test_zero_or_one_path(triples):
    got = run(triples, 'SELECT ?b WHERE { <' + S.DEFAULT_BASE +
                       'ebola> "contain"? ?b }')
    assert got == [("ebola",)]
    got = run(triples, 'SELECT ?a ?b WHERE { ?a "contain"? ?b }')
    assert len(got) == 9  # 3 edges + 7 identities - dup (self,self)


def test_star_path_off_graph_seed(triples):
    # a ground endpoint matches itself by the zero-length path even
    # when the term appears nowhere in the graph
    got = run(triples, 'SELECT ?b WHERE { <' + S.DEFAULT_BASE +
                       'zzz> "contain"* ?b }')
    assert got == [("zzz",)]


def test_ask_true_and_false(triples):
    assert run(triples, 'ASK { ?s "infect" "host" }') == [(True,)]
    assert run(triples, 'ASK WHERE { ?s "encode" "cell" }') == [(False,)]


def test_describe_ground_resource_no_where(triples):
    got = run(triples, f'DESCRIBE <{S.DEFAULT_BASE}cell>')
    assert got == srt([("cell", "contain", "genome"),
                       ("ebola", "infect", "cell"),
                       ("host", "contain", "cell"),
                       ("virus x", "infect", "cell")])


def test_describe_variable_with_where(triples):
    got = run(triples, 'DESCRIBE ?x WHERE { ?x "mutate" ?g }')
    assert got == srt([("virus x", "infect", "cell"),
                       ("virus x", "mutate", "genome")])


def test_describe_mixed_var_and_iri(triples):
    got = run(triples, 'DESCRIBE ?g <' + S.DEFAULT_BASE + 'host> '
                       'WHERE { ?s "mutate" ?g }')
    assert got == srt([("cell", "contain", "genome"),
                       ("ebola", "infect", "host"),
                       ("genome", "encode", "protein"),
                       ("host", "contain", "cell"),
                       ("virus x", "mutate", "genome")])


def test_ask_describe_errors(triples):
    bad = [
        'ASK { ?s ?p ?o } LIMIT 2',          # no solution modifiers
        'DESCRIBE ?x WHERE { ?x ?p ?o } ORDER BY ?x',
        'DESCRIBE',                          # needs at least one term
        'DESCRIBE ?x',                       # var needs a WHERE clause
        'DESCRIBE ?x WHERE { ?y ?p ?o }',    # var unbound in WHERE
    ]
    for q in bad:
        with pytest.raises(S.SparqlError):
            S.sparql(triples, q)


def test_agg_parse_and_validate_errors(triples):
    bad = [
        # ungrouped plain variable alongside an aggregate
        'SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s "infect" ?o }',
        # DISTINCT + aggregates unsupported
        'SELECT DISTINCT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }',
        # unsupported aggregate function (SUM/AVG are supported
        # since round 6)
        'SELECT (MEDIAN(?o) AS ?n) WHERE { ?s ?p ?o }',
        # COUNT(DISTINCT *) is not a thing
        'SELECT (COUNT(DISTINCT *) AS ?n) WHERE { ?s ?p ?o }',
        # MIN needs a variable, not *
        'SELECT (MIN(*) AS ?n) WHERE { ?s ?p ?o }',
        # aggregate of an unbound variable
        'SELECT (COUNT(?zz) AS ?n) WHERE { ?s ?p ?o }',
        # alias collides with a pattern variable
        'SELECT (COUNT(?o) AS ?s) WHERE { ?s ?p ?o }',
        # duplicate alias
        ('SELECT (COUNT(?o) AS ?n) (COUNT(?s) AS ?n) '
         'WHERE { ?s ?p ?o }'),
        # GROUP BY of an unbound variable
        'SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?zz',
        # empty GROUP BY
        'SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY',
        # GROUP BY without aggregates
        'SELECT ?s WHERE { ?s ?p ?o } GROUP BY ?s',
        # ORDER BY a non-output variable of an aggregate query
        ('SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s '
         'ORDER BY ?o'),
        # SEPARATOR on a non-GROUP_CONCAT aggregate
        ('SELECT (COUNT(?o) ; SEPARATOR = "x" AS ?n) '
         'WHERE { ?s ?p ?o }'),
        # SEPARATOR must be a string literal
        ('SELECT (GROUP_CONCAT(?o ; SEPARATOR = ?s) AS ?c) '
         'WHERE { ?s ?p ?o } GROUP BY ?s'),
    ]
    for q in bad:
        with pytest.raises(S.SparqlError):
            S.sparql(triples, q)


# ---------------------------------------------------------------------------
# DuckDB twin sweep
# ---------------------------------------------------------------------------

TWIN_QUERIES = [
    'SELECT ?s ?o WHERE { ?s "infect" ?o }',
    'SELECT * WHERE { ?s "infect" ?x . ?x "contain" ?g }',
    ('SELECT ?s ?g WHERE { ?s "infect" ?x . '
     'OPTIONAL { ?x "contain" ?g } }'),
    ('SELECT DISTINCT ?s WHERE { ?s ?p ?o . '
     'FILTER(REGEX(?o, "o")) FILTER(?p != "encode") }'),
    'SELECT ?x WHERE { ?x "contain" ?x }',
    'SELECT ?a ?b WHERE { ?a "mutate" ?o1 . ?b "encode" ?o2 }',
    ('CONSTRUCT { ?o "infected_by" ?s . ?s "is_a" "pathogen" } '
     'WHERE { ?s "infect" ?o }'),
    ('CONSTRUCT { ?s "mutates_into" ?g } WHERE { ?s "infect" ?x . '
     'OPTIONAL { ?s "mutate" ?g } }'),
    'SELECT ?a ?b WHERE { ?a "contain"+ ?b }',
    'SELECT ?s ?g WHERE { ?s "infect" ?x . ?x "contain"+ ?g }',
    'CONSTRUCT { ?a "reaches" ?b } WHERE { ?a "contain"+ ?b }',
    'SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s "infect" ?o } GROUP BY ?s',
    'SELECT (COUNT(*) AS ?total) WHERE { ?s ?p ?o }',
    ('SELECT ?p (COUNT(DISTINCT ?s) AS ?heads) (MIN(?o) AS ?lo) '
     '(MAX(?o) AS ?hi) WHERE { ?s ?p ?o } GROUP BY ?p'),
    ('SELECT ?x (COUNT(?g) AS ?n) WHERE { ?s "contain" ?x . '
     'OPTIONAL { ?x "encode" ?g } } GROUP BY ?x'),
    ('SELECT ?b (COUNT(DISTINCT ?a) AS ?n) WHERE { ?a "contain"+ ?b } '
     'GROUP BY ?b'),
    'SELECT ?s ?o WHERE { ?s "infect"|"mutate"|"encode" ?o }',
    'SELECT ?x ?g WHERE { ?x ^"infect" "cell" . ?x "mutate" ?g }',
    ('SELECT ?s ?o WHERE { { ?s "infect" ?o } UNION '
     '{ ?s "mutate" ?o } UNION { ?o "contain" ?s } }'),
    ('SELECT ?s ?g WHERE { { ?s "infect" ?x } UNION '
     '{ ?s "contain" ?x } . ?x "contain" ?g }'),
    ('SELECT ?p (COUNT(*) AS ?n) WHERE { { ?s "infect" ?o } UNION '
     '{ ?s "infect" ?o } . ?s ?p ?g } GROUP BY ?p'),
    ('SELECT ?s ?o WHERE { ?s ?p ?o . VALUES ?p { "infect" "encode" } '
     'VALUES (?s ?o) { ("ebola" "cell") ("genome" "protein") } }'),
    'SELECT ?s ?o WHERE { ?s "infect" ?o MINUS { ?s "mutate" ?g } }',
    ('SELECT ?s ?o WHERE { ?s "infect" ?o . '
     'FILTER EXISTS { ?o "contain" ?g } }'),
    ('SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o . '
     'FILTER NOT EXISTS { ?o "contain" ?g } } GROUP BY ?s'),
    ('SELECT ?s ?o WHERE { ?s "infect"|"mutate" ?o '
     'MINUS { ?x "contain" ?o } }'),
    ('SELECT ?s (GROUP_CONCAT(?o) AS ?objs) (SAMPLE(?o) AS ?one) '
     'WHERE { ?s "infect"|"contain" ?o } GROUP BY ?s'),
    ('SELECT ?s (GROUP_CONCAT(DISTINCT ?o ; SEPARATOR = "|") AS ?u) '
     'WHERE { { ?s "infect" ?o } UNION { ?s "infect" ?o } } '
     'GROUP BY ?s'),
    ('SELECT ?s (GROUP_CONCAT(?g) AS ?c) WHERE { ?s "mutate" ?o . '
     'OPTIONAL { ?o "contain" ?g } } GROUP BY ?s'),
    ('SELECT ?s ?g WHERE { ?s "infect" ?x . '
     'OPTIONAL { ?s "mutate" ?g FILTER(?g != "genome") } }'),
    ('SELECT ?s ?g ?h WHERE { ?s "infect" ?x . '
     'OPTIONAL { ?x "contain" ?g . ?g "contain" ?h } }'),
    ('SELECT ?a ?b WHERE { ?a "infect" ?x . '
     'OPTIONAL { ?a "mutate"+ ?b } }'),
    'SELECT ?a ?b WHERE { ?a "contain"* ?b }',
    'SELECT ?s ?b WHERE { ?s "infect" ?x . ?x "contain"* ?b }',
    'SELECT ?a ?c WHERE { ?a "infect"/"contain" ?c }',
    'SELECT * WHERE { ?a "infect"/"contain"+/"encode"? ?c }',
    ('SELECT ?a (COUNT(?c) AS ?n) WHERE '
     '{ ?a "infect"/"contain" ?c } GROUP BY ?a'),
    ('SELECT ?s ?c WHERE { ?s "infect" ?x . '
     'OPTIONAL { ?x "contain"/"encode" ?c } }'),
    'SELECT ?a ?b WHERE { ?a "contain"? ?b }',
    ('SELECT ?b (COUNT(?a) AS ?n) WHERE { ?a "contain"* ?b } '
     'GROUP BY ?b'),
    ('SELECT ?s ?p ?o WHERE { ?s ?p ?o } ORDER BY ?s ?p ?o '
     'LIMIT 3 OFFSET 2'),
    'SELECT ?x ?y WHERE { ?x "contain" ?y . FILTER(?x != ?y) }',
    ('SELECT ?s ?y WHERE { ?s "infect" ?x . '
     'OPTIONAL { ?x "contain" ?y FILTER(?x != ?y) } }'),
    ('SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p '
     'ORDER BY DESC(?n) ?p LIMIT 2 OFFSET 1'),
    'ASK { ?s "infect" ?o . ?o "contain" ?g }',
    'ASK WHERE { ?s "encode" "cell" }',
    'DESCRIBE <' + S.DEFAULT_BASE + 'cell>',
    'DESCRIBE ?x WHERE { ?x "mutate" ?g }',
    'DESCRIBE ?g <' + S.DEFAULT_BASE + 'host> WHERE { ?s "mutate" ?g }',
]


def _twin(rows, query):
    q = S.parse(query)
    con = duckdb.connect()
    con.execute("CREATE TABLE triples(subj VARCHAR, pred VARCHAR, "
                "obj VARCHAR)")
    con.executemany("INSERT INTO triples VALUES (?, ?, ?)", rows)
    return srt(map(tuple, con.execute(S.to_sql(q)).fetchall()))


@pytest.mark.parametrize("query", TWIN_QUERIES)
def test_duckdb_twin_fixture(triples, query):
    assert run(triples, query) == _twin(TRIPLES, query)


def test_duckdb_twin_on_pipeline_triples(spark):
    """The sweep again over triples from the real extraction pipeline
    (mentions carry spaces/pipes/unicode — the realistic term space)."""
    from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline
    from multivac_spark.sources import corpus

    tables = run_pipeline(spark, corpus.documents_df(spark, 60),
                          corpus.embeddings_df(spark),
                          PipelineConfig(top_n_ent=5000, top_n_rel=50))
    df = tables["final_triples"].select("subj", "pred", "obj")
    rows = sorted(map(tuple, df.collect()))
    assert len(rows) > 100
    queries = [
        'SELECT ?s ?o WHERE { ?s "infect" ?o }',
        ('SELECT ?a ?c WHERE { ?a "infect" ?b . ?b ?p ?c . '
         'FILTER(?p != "infect") }'),
        ('SELECT DISTINCT ?s WHERE { ?s ?p ?o . '
         'FILTER(CONTAINS(?s, "virus")) }'),
        ('SELECT ?s ?o2 WHERE { ?s "infect" ?o . '
         'OPTIONAL { ?o "mutate" ?o2 } }'),
        ('SELECT ?p (COUNT(*) AS ?n) (COUNT(DISTINCT ?s) AS ?heads) '
         'WHERE { ?s ?p ?o } GROUP BY ?p'),
        # round 6c over realistic terms: subquery + string builtins on
        # mentions that carry spaces/pipes/unicode
        ('SELECT ?s ?m WHERE { ?s "infect" ?m . '
         '{ SELECT ?s (MAX(?o) AS ?m) WHERE { ?s "infect" ?o } '
         'GROUP BY ?s } }'),
        ('SELECT DISTINCT ?s ?head ?rest WHERE { ?s "infect" ?o . '
         'BIND(STRBEFORE(?s, " ") AS ?head) '
         'BIND(STRAFTER(?s, " | ") AS ?rest) }'),
    ]
    for q in queries:
        got = srt(map(tuple, S.sparql(df, q).collect()))
        assert got == _twin(rows, q), q


# ---------------------------------------------------------------------------
# round 6: seeded path closures, negated sets, (a|b)+, PREFIX, numeric
# FILTER / HAVING, BIND / expression projection
# ---------------------------------------------------------------------------

def test_seeded_path_skips_full_closure(triples, monkeypatch):
    """A both-variable path whose endpoint is bound by earlier
    patterns must walk from the bound values — `_path_pairs` may not
    run unseeded (the full transitive closure) on a both-variable
    path."""
    calls = []
    orig = S._path_pairs

    def spy(triples, p, seeds=None, forward=True):
        if seeds is None and p.terms[0][0] == p.terms[2][0] == "var":
            calls.append(1)
        return orig(triples, p, seeds, forward)

    monkeypatch.setattr(S, "_path_pairs", spy)
    got = run(triples, """
        SELECT ?s ?o WHERE { ?s "mutate" ?g . ?s "infect"+ ?o }""")
    assert got == [("virus x", "cell")]
    assert calls == []
    # ...while the genuinely unbound form still pays the closure
    run(triples, 'SELECT ?a ?b WHERE { ?a "contain"+ ?b }')
    assert calls


def test_seeded_path_backward(triples):
    # object endpoint bound → reverse BFS from the bound values
    got = run(triples, """
        SELECT ?s ?o WHERE { ?o "encode" ?p . ?s "contain"+ ?o }""")
    assert got == [("cell", "genome"), ("host", "genome")]


def test_seeded_star_and_optional_paths(triples):
    got = run(triples, """
        SELECT ?s ?o WHERE { ?s "mutate" ?g . ?s "contain"* ?o }""")
    assert got == [("virus x", "virus x")]
    got = run(triples, """
        SELECT ?g ?o WHERE { ?g "encode" ?p . ?g "contain"? ?o }""")
    assert got == [("genome", "genome")]


def test_seeded_path_matches_unseeded_twin(triples):
    for q in [
        'SELECT ?s ?o WHERE { ?s "mutate" ?g . ?s "infect"+ ?o }',
        'SELECT ?s ?o WHERE { ?o "encode" ?p . ?s "contain"+ ?o }',
        ('SELECT ?s ?x ?o WHERE { ?s "infect" ?x . ?x "contain" ?o . '
         '?s "infect"+ ?o }'),
        'SELECT ?s ?o WHERE { ?s "mutate" ?g . ?s "contain"* ?o }',
    ]:
        assert run(triples, q) == _twin(TRIPLES, q), q


def test_negated_property_set(triples):
    got = run(triples, 'SELECT ?s ?o WHERE { ?s !"contain" ?o . '
                       'FILTER(STRSTARTS(?s, "g")) }')
    assert got == [("genome", "protein")]
    got = run(triples, """
        SELECT ?s ?o WHERE { ?s !("infect"|"contain"|"encode") ?o }""")
    assert got == [("virus x", "genome")]


def test_alternation_under_path_modifier(triples):
    # host -contain-> cell -contain-> genome -encode-> protein is
    # reachable under ("contain"|"encode")+ but not "contain"+
    got = run(triples, """
        SELECT ?o WHERE { <host> ("contain"|"encode")+ ?o }""")
    assert got == [("cell",), ("genome",), ("protein",)]
    bad = 'SELECT ?a WHERE { ?a "contain"|"encode"+ ?b }'
    with pytest.raises(S.SparqlError):
        S.parse(bad)


def test_prefix_declarations(triples):
    base = S.DEFAULT_BASE
    got = run(triples, f"""
        PREFIX ex: <{base}>
        SELECT ?o WHERE {{ ex:ebola ex:infect ?o }}""")
    assert got == [("cell",), ("host",)]
    with pytest.raises(S.SparqlError):
        S.parse('SELECT ?o WHERE { ex:ebola "infect" ?o }')


def test_numeric_filter_and_having(triples):
    got = run(triples, """
        SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o }
        GROUP BY ?s HAVING (?n >= 2)""")
    assert got == [("ebola", 2), ("virus x", 2)]
    # typed-literal form, and HAVING on a group var the SELECT drops
    got = run(triples, """
        SELECT ?n WHERE { ?s ?p ?o }
        GROUP BY ?s HAVING (?n >= "2"^^xsd:integer) HAVING (?s = "ebola")
        """.replace("SELECT ?n", "SELECT (COUNT(?o) AS ?n)"))
    assert got == [(2,)]
    # numeric FILTER over string bindings: no numeric value → dropped
    got = run(triples, 'SELECT ?o WHERE { ?s "mutate" ?o . '
                       'FILTER(?o > 3) }')
    assert got == []


def test_bind_and_select_expressions(triples):
    got = run(triples, """
        SELECT ?s ?b WHERE { ?s "mutate" ?o .
          BIND (CONCAT(?s, ":", UCASE(?o)) AS ?b) }""")
    assert got == [("virus x", "virus x:GENOME")]
    got = run(triples, """
        SELECT ?s (STRLEN(?s) AS ?l) WHERE { ?s "mutate" ?o }""")
    assert got == [("virus x", 7)]
    # BIND over an OPTIONAL variable propagates NULL
    got = run(triples, """
        SELECT ?s ?u WHERE { ?s "infect" ?x .
          OPTIONAL { ?x "mutate" ?g } BIND (UCASE(?g) AS ?u) }""")
    assert got == [("ebola", None), ("ebola", None), ("virus x", None)]


def test_round6_validation_errors(triples):
    bad = [
        # ORDER BY a non-projected variable
        'SELECT ?s WHERE { ?s "infect" ?o } ORDER BY ?o',
        'SELECT DISTINCT ?s WHERE { ?s "infect" ?o } ORDER BY ?o',
        # HAVING without aggregates / on a non-grouped var
        'SELECT ?s WHERE { ?s "infect" ?o } HAVING (?s = "x")',
        ('SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s "infect" ?o } '
         'GROUP BY ?s HAVING (?o = "x")'),
        # ordering operator with a non-numeric RHS
        'SELECT ?s WHERE { ?s "infect" ?o . FILTER(?o > "cell") }',
        # BIND alias collision / unbound expression var
        ('SELECT ?s WHERE { ?s "infect" ?o . '
         'BIND (UCASE(?o) AS ?s) }'),
        'SELECT ?s WHERE { ?s "infect" ?o . BIND (UCASE(?zz) AS ?u) }',
        # negated set needs constants
        'SELECT ?s WHERE { ?s !?p ?o }',
        # unsupported datatype
        ('SELECT ?s WHERE { ?s "infect" ?o . '
         'FILTER(?o > "x"^^xsd:string) }'),
    ]
    for q in bad:
        with pytest.raises(S.SparqlError):
            S.sparql(triples, q)


ROUND6_TWIN_QUERIES = [
    'SELECT ?s ?o WHERE { ?s !"infect" ?o }',
    'SELECT ?s ?o WHERE { ?s !("infect"|"contain") ?o }',
    'SELECT ?a ?b WHERE { ?a ("infect"|"contain")+ ?b }',
    'SELECT ?a ?b WHERE { ?a !"encode"* ?b }',
    ('SELECT ?s ?b WHERE { ?s "mutate" ?g . '
     '?s ("infect"|"mutate")+ ?b }'),
    ('SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s '
     'HAVING (?n >= 2) ORDER BY ?s'),
    ('SELECT ?p (COUNT(DISTINCT ?s) AS ?heads) WHERE { ?s ?p ?o } '
     'GROUP BY ?p HAVING (?heads < 3) HAVING (?p != "encode")'),
    ('SELECT ?s ?b WHERE { ?s "infect" ?o . '
     'BIND (CONCAT(?s, "->", ?o) AS ?b) }'),
    'SELECT ?s (STRLEN(?s) AS ?l) WHERE { ?s "mutate" ?o }',
    ('SELECT ?s ?u WHERE { ?s "infect" ?x . '
     'OPTIONAL { ?x "mutate" ?g } BIND (LCASE(?g) AS ?u) }'),
    ('SELECT ?s ?o WHERE { ?s "infect" ?o . FILTER(?o != "host") '
     'FILTER(STRSTARTS(?o, "c")) }'),
    'SELECT ?o WHERE { ?s "mutate" ?o . FILTER(?o > 3) }',
]


@pytest.mark.parametrize("query", ROUND6_TWIN_QUERIES)
def test_duckdb_twin_round6(triples, query):
    assert run(triples, query) == _twin(TRIPLES, query)


def test_sparql_time_travel_over_snapshots(spark, tmp_path):
    """sparql_at queries any retained KG snapshot; the same CONSTRUCT
    run at two versions diffs a rule's derivations across refreshes."""
    from multivac_spark.plans import snapshots

    base = str(tmp_path / "kg")
    v1 = snapshots.commit(spark, base, spark.createDataFrame(
        TRIPLES, "subj string, pred string, obj string"))
    extra = TRIPLES + [("ebola", "infect", "organ")]
    v2 = snapshots.commit(spark, base, spark.createDataFrame(
        extra, "subj string, pred string, obj string"))

    q = 'SELECT (COUNT(*) AS ?n) WHERE { ?s "infect" ?o }'
    assert S.sparql_at(spark, base, q, version=v1).collect()[0][0] == 3
    assert S.sparql_at(spark, base, q).collect()[0][0] == 4  # current

    rule = 'CONSTRUCT { ?o "infected_by" ?s } WHERE { ?s "infect" ?o }'
    derived = lambda v: {tuple(r) for r in
                         S.sparql_at(spark, base, rule, version=v)
                         .collect()}
    assert derived(v2) - derived(v1) == {("organ", "infected_by",
                                          "ebola")}


# ---------------------------------------------------------------------------
# round 6b: SUM/AVG aggregates, FILTER connectives (&& || !), BOUND
# ---------------------------------------------------------------------------

def test_sum_avg_aggregates(triples):
    # numeric values arrive via BIND (the KG's objects are mentions);
    # object lengths: ebola→{4,4}, virus x→{4,6}
    got = run(triples, """
        SELECT ?s (SUM(?l) AS ?t) (AVG(?l) AS ?m)
        WHERE { ?s "infect" ?o . BIND (STRLEN(?o) AS ?l) }
        GROUP BY ?s""")
    assert got == [("ebola", 8, 4.0), ("virus x", 4, 4.0)]
    # DISTINCT dedups the numeric values (4,4 → 4)
    got = run(triples, """
        SELECT (SUM(DISTINCT ?l) AS ?t) WHERE
        { "ebola" ?p ?o . BIND (STRLEN(?o) AS ?l) }""")
    assert got == [(4,)]
    # §17.3 value semantics: strings with no integer value are
    # skipped; an all-non-numeric group sums to NULL
    got = run(triples, 'SELECT (SUM(?o) AS ?t) (AVG(?o) AS ?m) '
                       'WHERE { ?s "mutate" ?o }')
    assert got == [(None, None)]


def test_sum_having_threshold(triples):
    got = run(triples, """
        SELECT ?s (SUM(?l) AS ?t)
        WHERE { ?s ?p ?o . BIND (STRLEN(?o) AS ?l) }
        GROUP BY ?s HAVING (?t >= 8) ORDER BY ?s""")
    assert got == [("ebola", 8), ("virus x", 10)]


def test_filter_connectives(triples):
    # precedence: && binds tighter than ||
    got = run(triples, """
        SELECT ?s ?o WHERE { ?s "infect" ?o .
          FILTER(?o = "host" || STRSTARTS(?o, "c") && ?s != "ebola") }""")
    assert got == [("ebola", "host"), ("virus x", "cell")]
    got = run(triples, """
        SELECT ?s ?o WHERE { ?s "infect" ?o . FILTER(!(?o = "cell")) }""")
    assert got == [("ebola", "host")]
    # parens override precedence
    got = run(triples, """
        SELECT ?s ?o WHERE { ?s "infect" ?o .
          FILTER((?o = "host" || ?o = "cell") && !(?s = "virus x")) }""")
    assert got == [("ebola", "cell"), ("ebola", "host")]


def test_bound_filter(triples):
    # contain heads: cell→genome(encodes protein: bound),
    # host→cell / self→self (unbound)
    got = run(triples, """
        SELECT ?s ?g WHERE { ?s "contain" ?x .
          OPTIONAL { ?x "encode" ?g } FILTER(!BOUND(?g)) }""")
    assert got == [("host", None), ("self", None)]
    got = run(triples, """
        SELECT ?s ?g WHERE { ?s "contain" ?x .
          OPTIONAL { ?x "encode" ?g } FILTER(BOUND(?g)) }""")
    assert got == [("cell", "protein")]


def test_round6b_validation_errors(triples):
    bad = [
        # BOUND of a variable the query never binds
        'SELECT ?s WHERE { ?s "infect" ?o . FILTER(BOUND(?zz)) }',
        # BOUND in HAVING
        ('SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s "infect" ?o } '
         'GROUP BY ?s HAVING (BOUND(?n))'),
        # unbound var inside a connective branch
        ('SELECT ?s WHERE { ?s "infect" ?o . '
         'FILTER(?o = "cell" || ?zz = "x") }'),
    ]
    for q in bad:
        with pytest.raises(S.SparqlError):
            S.sparql(triples, q)
    # dangling operator / unbalanced parens are parse errors
    for q in ['SELECT ?s WHERE { ?s "infect" ?o . FILTER(?o = "c" &&) }',
              'SELECT ?s WHERE { ?s "infect" ?o . FILTER((?o = "c") }']:
        with pytest.raises(S.SparqlError):
            S.parse(q)


ROUND6B_TWIN_QUERIES = [
    ('SELECT ?s (SUM(?l) AS ?t) (AVG(?l) AS ?m) WHERE '
     '{ ?s ?p ?o . BIND (STRLEN(?o) AS ?l) } GROUP BY ?s '
     'HAVING (?m >= 5)'),
    ('SELECT ?p (SUM(DISTINCT ?l) AS ?t) WHERE '
     '{ ?s ?p ?o . BIND (STRLEN(?s) AS ?l) } GROUP BY ?p '
     'ORDER BY ?p'),
    'SELECT (SUM(?o) AS ?t) WHERE { ?s "mutate" ?o }',
    ('SELECT ?s ?o WHERE { ?s "infect" ?o . '
     'FILTER(?o = "host" || STRSTARTS(?o, "c") && ?s != "ebola") }'),
    ('SELECT ?s ?o WHERE { ?s ?p ?o . '
     'FILTER(!(CONTAINS(?s, "e") || CONTAINS(?o, "e"))) }'),
    ('SELECT ?s ?g WHERE { ?s "contain" ?x . '
     'OPTIONAL { ?x "encode" ?g } FILTER(!BOUND(?g)) }'),
    ('SELECT ?s ?g WHERE { ?s "infect" ?x . '
     'OPTIONAL { ?x "contain" ?g FILTER(?g != "genome" && '
     '!CONTAINS(?g, "self")) } }'),
    ('SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s '
     'HAVING (?n >= 2 && ?s != "ebola") ORDER BY ?s'),
]


@pytest.mark.parametrize("query", ROUND6B_TWIN_QUERIES)
def test_duckdb_twin_round6b(triples, query):
    assert run(triples, query) == _twin(TRIPLES, query)


# ---------------------------------------------------------------------------
# round 6c: §12 subqueries
# ---------------------------------------------------------------------------

def test_subquery_top1_per_group(triples):
    # max object per subject, joined back — the top-N-per-group idiom
    got = run(triples, """
        SELECT ?s ?m WHERE {
          ?s "infect" ?m .
          { SELECT ?s (MAX(?o) AS ?m) WHERE { ?s "infect" ?o }
            GROUP BY ?s } }""")
    assert got == [("ebola", "host"), ("virus x", "cell")]


def test_subquery_only_where_with_filter(triples):
    got = run(triples, """
        SELECT ?s ?n WHERE {
          { SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s }
          FILTER(?n >= 2) }""")
    assert got == [("ebola", 2), ("virus x", 2)]


def test_subquery_inner_select_join(triples):
    # inner SELECT projects away ?g; outer joins on the surviving ?s
    got = run(triples, """
        SELECT ?s ?o WHERE {
          ?s "infect" ?o .
          { SELECT ?s WHERE { ?s "mutate" ?g } } }""")
    assert got == [("virus x", "cell")]


def test_subquery_nested(triples):
    got = run(triples, """
        SELECT ?s WHERE {
          { SELECT ?s WHERE {
              { SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o }
                GROUP BY ?s }
              FILTER(?n >= 2) } } }""")
    assert got == [("ebola",), ("virus x",)]


def test_subquery_with_inner_order_limit(triples):
    got = run(triples, """
        SELECT ?s ?g WHERE {
          ?s "mutate" ?g .
          { SELECT ?s WHERE { ?s "infect" ?o } ORDER BY ?s LIMIT 1 } }""")
    # inner LIMIT 1 keeps the alphabetically-first infecting subject
    # (ebola), which mutates nothing — empty join
    assert got == []


SUBQUERY_TWIN = [
    ('SELECT ?s ?m WHERE { ?s "infect" ?m . '
     '{ SELECT ?s (MAX(?o) AS ?m) WHERE { ?s "infect" ?o } '
     'GROUP BY ?s } }'),
    ('SELECT ?s ?n WHERE { { SELECT ?s (COUNT(*) AS ?n) '
     'WHERE { ?s ?p ?o } GROUP BY ?s } FILTER(?n >= 2) }'),
    ('SELECT ?s ?o WHERE { ?s "infect" ?o . '
     '{ SELECT ?s WHERE { ?s "mutate" ?g } } }'),
    ('SELECT ?s WHERE { { SELECT ?s WHERE { '
     '{ SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s } '
     'FILTER(?n >= 2) } } }'),
    ('SELECT DISTINCT ?p ?top WHERE { ?s ?p ?o . '
     '{ SELECT (MAX(?x) AS ?top) WHERE { ?x "contain" ?y } } }'),
]


@pytest.mark.parametrize("query", SUBQUERY_TWIN)
def test_duckdb_twin_subqueries(triples, query):
    assert run(triples, query) == _twin(TRIPLES, query)


def test_subquery_inside_optional_rejected(triples):
    with pytest.raises(S.SparqlError, match="subquery inside OPTIONAL"):
        S.parse('SELECT ?s WHERE { ?s "infect" ?o . '
                'OPTIONAL { { SELECT ?s WHERE { ?s "mutate" ?g } } } }')


def test_trailing_tokens_rejected(triples):
    with pytest.raises(S.SparqlError, match="trailing tokens"):
        S.parse('SELECT ?s WHERE { ?s ?p ?o } }')


# ---------------------------------------------------------------------------
# round 6c: expression builtins (SUBSTR / STRBEFORE / STRAFTER /
# REPLACE / COALESCE)
# ---------------------------------------------------------------------------

def test_substr_and_replace(triples):
    got = run(triples, """
        SELECT ?s ?a ?b WHERE { ?s "mutate" ?o .
          BIND(SUBSTR(?s, 1, 5) AS ?a)
          BIND(REPLACE(?s, "[aeiou]", "_") AS ?b) }""")
    assert got == [("virus x", "virus", "v_r_s x")]


def test_strbefore_strafter_semantics(triples):
    # separator present → split; absent → EMPTY STRING (§17.4.3.12)
    got = run(triples, """
        SELECT ?s ?pre ?post WHERE { ?s "infect" ?o .
          BIND(STRBEFORE(?s, " ") AS ?pre)
          BIND(STRAFTER(?s, " ") AS ?post) }""")
    assert got == [("ebola", "", ""), ("ebola", "", ""),
                   ("virus x", "virus", "x")]


def test_coalesce_over_optional(triples):
    got = run(triples, """
        SELECT ?s ?v WHERE { ?s "contain" ?o .
          OPTIONAL { ?o "encode" ?g }
          BIND(COALESCE(?g, "none") AS ?v) }""")
    # cell contains genome (encodes protein); host/self children don't
    assert got == [("cell", "protein"), ("host", "none"),
                   ("self", "none")]


EXPR_TWIN = [
    ('SELECT ?s ?a WHERE { ?s "infect" ?o . '
     'BIND(SUBSTR(?s, 2) AS ?a) }'),
    ('SELECT ?s ?a ?b WHERE { ?s ?p ?o . '
     'BIND(STRBEFORE(?s, "u") AS ?a) '
     'BIND(STRAFTER(?s, "u") AS ?b) }'),
    ('SELECT DISTINCT ?b WHERE { ?s ?p ?o . '
     'BIND(REPLACE(?p, "t$", "T") AS ?b) }'),
    ('SELECT ?s ?v WHERE { ?s "infect" ?o . '
     'OPTIONAL { ?o "mutate" ?g } '
     'BIND(COALESCE(?g, ?o, "x") AS ?v) }'),
]


@pytest.mark.parametrize("query", EXPR_TWIN)
def test_duckdb_twin_expr_builtins(triples, query):
    assert run(triples, query) == _twin(TRIPLES, query)


def test_expr_builtin_arg_validation(triples):
    with pytest.raises(S.SparqlError, match="literals"):
        S.parse('SELECT ?s WHERE { ?s ?p ?o . '
                'BIND(STRAFTER(?s, ?p) AS ?x) }')
    with pytest.raises(S.SparqlError, match="integers"):
        S.parse('SELECT ?s WHERE { ?s ?p ?o . '
                'BIND(SUBSTR(?s, ?p) AS ?x) }')
    with pytest.raises(S.SparqlError, match="arguments"):
        S.parse('SELECT ?s WHERE { ?s ?p ?o . '
                'BIND(SUBSTR(?s) AS ?x) }')
