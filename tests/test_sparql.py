"""SPARQL text front end (pipeline/sparql.py): the subset compiles to
the declarative bgpq operators; semantics verified against hand-built
bgp_select calls and known answers."""

import re

import pytest

from rdf_rdfa_spark.pipeline.sparql import SparqlSyntaxError, sparql

S = "http://s/"


@pytest.fixture(scope="module")
def kg(spark):
    return spark.createDataFrame(
        [("a", S + "type", "Doc"), ("b", S + "type", "Doc"),
         ("c", S + "type", "Doc"),
         ("a", S + "label", "Apple"), ("b", S + "label", "Pear"),
         ("c", S + "label", "Fig"),
         ("a", S + "mirror", "m1"),
         ("m1", S + "label", "Mirror"),
         ("a", S + "next", "b"), ("b", S + "next", "c"),
         ("a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
          S + "Thing")],
        "subj string, pred string, obj string")


P = "PREFIX s: <http://s/>\n"


def test_select_filter_minus_order_limit(kg):
    rows = sparql(kg, P + """
        SELECT ?d ?l WHERE {
          ?d s:type "Doc" ; s:label ?l .
          FILTER (STRLEN(?l) >= 3 && ?l != "Fig")
          MINUS { ?d s:mirror ?m }
        } ORDER BY DESC(?d) LIMIT 5""").collect()
    assert [(r["d"], r["l"]) for r in rows] == [("b", "Pear")]


def test_predicate_object_lists_and_a(kg):
    rows = sparql(kg, P + 'SELECT ?x WHERE { ?x a s:Thing . }').collect()
    assert [r["x"] for r in rows] == ["a"]


def test_ask(kg):
    assert sparql(kg, P + "ASK { ?x s:mirror ?m }") is True
    assert sparql(kg, P + 'ASK { ?x s:mirror "nope" }') is False


def test_property_paths(kg):
    got = {(r["x"], r["y"]) for r in sparql(
        kg, P + "SELECT ?x ?y WHERE { ?x s:next+ ?y }").collect()}
    assert got == {("a", "b"), ("b", "c"), ("a", "c")}
    # sequence path through the mirror
    got = {tuple(r) for r in sparql(
        kg, P + "SELECT ?x ?ml WHERE { ?x s:mirror/s:label ?ml }"
    ).collect()}
    assert got == {("a", "Mirror")}
    # inverse: x ^p y <=> y p x, so "c" ^next ?x finds c's predecessor
    got = {tuple(r) for r in sparql(
        kg, P + 'SELECT ?x WHERE { "c" ^s:next ?x }').collect()}
    assert got == {("b",)}
    # alternative with grouping
    got = {r["v"] for r in sparql(
        kg, P + 'SELECT ?v WHERE { "a" (s:label|s:mirror) ?v }'
    ).collect()}
    assert got == {"Apple", "m1"}


def test_construct(kg):
    got = {tuple(r) for r in sparql(kg, P + """
        CONSTRUCT { ?x s:reachable ?y } WHERE { ?x s:next+ ?y }
    """).collect()}
    assert got == {("a", S + "reachable", "b"),
                   ("a", S + "reachable", "c"),
                   ("b", S + "reachable", "c")}


def test_aggregates_group_by(kg):
    rows = sparql(kg, P + """
        SELECT ?t (COUNT(*) AS ?n) WHERE { ?d s:type ?t }
        GROUP BY ?t ORDER BY ?t""").collect()
    assert [(r["t"], r["n"]) for r in rows] == [("Doc", 3)]


def test_union(kg):
    assert sparql(kg, P + """
        SELECT ?d WHERE {
          { ?d s:mirror ?v } UNION { ?d s:label ?v }
        }""").count() == 4  # a,b,c,m1


def test_union_arms_bind_different_variables(kg):
    # an arm that does not bind a variable leaves it unbound (NULL)
    union = "{ ?d s:mirror ?v } UNION { ?d s:next ?w }"
    rows = sparql(kg, P + "SELECT * WHERE { %s }" % union).collect()
    assert {(r["d"], r["v"], r["w"]) for r in rows} == {
        ("a", "m1", None), ("a", None, "b"), ("b", None, "c")}
    rows = sparql(kg, P + "SELECT ?d ?v WHERE { %s }" % union).collect()
    assert {tuple(r) for r in rows} == {("a", "m1"), ("a", None),
                                        ("b", None)}
    # each arm dedups only the projected variables it binds
    plan = sparql(kg, P + "SELECT ?d WHERE { %s }" % union)._jdf \
        .queryExecution().optimizedPlan().toString()
    keys = re.findall(r"Aggregate \[([^\]]*)\]", plan)
    assert keys and all(re.fullmatch(r"d#\d+", k) for k in keys), plan
    # a projected variable that no arm binds is still an error
    with pytest.raises(SparqlSyntaxError, match=r"\?nope\b"):
        sparql(kg, P + "SELECT ?d ?nope WHERE { %s }" % union)


def test_reported_analysis_error_is_not_logged(kg, capfd, monkeypatch):
    """An unresolved variable is reported once, as a SparqlSyntaxError,
    and pyspark does not also log the analyzer's error on stderr."""
    import sys

    from pyspark.logger import PySparkLogger

    for name in ("SQLQueryContextLogger", "DataFrameQueryContextLogger"):
        # point each handler at the stderr this test captures
        for handler in PySparkLogger.getLogger(name).handlers:
            monkeypatch.setattr(handler, "stream", sys.stderr)
    with pytest.raises(SparqlSyntaxError, match=r"\?nope\b"):
        sparql(kg, "SELECT ?s WHERE { ?s ?p ?o } ORDER BY ?nope")
    assert "UNRESOLVED_COLUMN" not in capfd.readouterr().err


def test_values_bind_regex_exists(kg):
    rows = sparql(kg, P + """
        SELECT ?d ?ll WHERE {
          ?d s:label ?l . BIND(LCASE(?l) AS ?ll)
          VALUES ?d { "a" "b" } FILTER (REGEX(?ll, "^p"))
        }""").collect()
    assert [(r["d"], r["ll"]) for r in rows] == [("b", "pear")]
    rows = sparql(kg, P + """
        SELECT ?d WHERE {
          ?d s:type "Doc" . FILTER EXISTS { ?d s:mirror ?m }
        }""").collect()
    assert [r["d"] for r in rows] == ["a"]
    rows = sparql(kg, P + """
        SELECT ?d WHERE {
          ?d s:type "Doc" . FILTER NOT EXISTS { ?d s:mirror ?m }
        } ORDER BY ?d""").collect()
    assert [r["d"] for r in rows] == ["b", "c"]


def test_syntax_errors(kg):
    for q in (
        "SELECT ?x WHERE { ?x unknown:p ?y }",      # undeclared prefix
        P + "SELECT ?x WHERE { ?x s:p }",           # missing object
        P + "SELECT ?x WHERE { ?x s:p ?y ",         # unterminated group
        P + "FOO ?x WHERE { ?x s:p ?y }",           # bad form
        P + "SELECT ?x WHERE { ?x s:p ?y . FILTER (BOGUSFN(?y)) }",
    ):
        with pytest.raises(SparqlSyntaxError):
            # parse errors surface before any Spark action
            sparql(kg, q)


def test_offset(kg):
    rows = sparql(kg, P + """
        SELECT ?d WHERE { ?d s:type "Doc" } ORDER BY ?d
        LIMIT 2 OFFSET 1""").collect()
    assert [r["d"] for r in rows] == ["b", "c"]


def test_parser_never_crashes_on_garbage(kg):
    """Hostile inputs raise SparqlSyntaxError (a typed error the
    caller can handle), never arbitrary exceptions."""
    import random

    rnd = random.Random(11)
    frags = ["SELECT", "?x", "{", "}", "WHERE", "(", ")", "FILTER",
             "OPTIONAL", "<http://x>", '"lit"', ".", ";", ",", "|",
             "/", "^", "+", "*", "a", "PREFIX", "s:", "UNION", "ASK",
             "MINUS", "BIND", "AS", "VALUES", "ORDER", "BY", "LIMIT",
             "5", "&&", "=", "@en", "^^", "[", "]", "!", "GRAPH",
             "HAVING", "DESCRIBE", "GROUP_CONCAT", "SEPARATOR",
             "COUNT", "DISTINCT", "IN"]
    for _ in range(300):
        q = " ".join(rnd.choice(frags)
                     for _ in range(rnd.randrange(1, 25)))
        try:
            sparql(kg, q)
        except SparqlSyntaxError:
            pass


def test_term_metadata_functions(spark):
    """LANG/DATATYPE/isIRI over a triples DF that carries the store's
    metadata columns; plain (s,p,o) frames still work (no metadata →
    those functions are unavailable, not wrong)."""
    kg = spark.createDataFrame(
        [("a", S + "name", "Anna", "literal", "en", None),
         ("a", S + "name", "Anne", "literal", "fr", None),
         ("a", S + "age", "7", "literal", None,
          "http://www.w3.org/2001/XMLSchema#integer"),
         ("a", S + "link", "http://x/", "iri", None, None)],
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, datatype string")
    got = {r["v"] for r in sparql(kg, P + """
        SELECT ?v WHERE { "a" ?p ?v . FILTER (LANG(?v) = "en") }
    """).collect()}
    assert got == {"Anna"}
    got = {r["v"] for r in sparql(kg, P + """
        SELECT ?v WHERE { "a" ?p ?v . FILTER (DATATYPE(?v) =
          <http://www.w3.org/2001/XMLSchema#integer>) }""").collect()}
    assert got == {"7"}
    got = {r["v"] for r in sparql(kg, P + """
        SELECT ?v WHERE { "a" ?p ?v . FILTER (isIRI(?v)) }""").collect()}
    assert got == {"http://x/"}
    # metadata never leaks into the solution schema
    df = sparql(kg, P + 'SELECT ?p ?v WHERE { "a" ?p ?v }')
    assert df.columns == ["p", "v"]
    # and joins across patterns stay lexical (metadata is not a key)
    got = {r["n"] for r in sparql(kg, P + """
        SELECT ?n WHERE { "a" s:name ?n . "a" s:name ?n }""").collect()}
    assert got == {"Anna", "Anne"}


def test_tagged_literal_patterns(spark):
    """"lit"@lang and "lit"^^dt in object position match the store's
    metadata columns, not just the lexical form."""
    kg = spark.createDataFrame(
        [("a", S + "name", "chat", "literal", "fr", None),
         ("b", S + "name", "chat", "literal", "en", None),
         ("c", S + "age", "7", "literal", None,
          "http://www.w3.org/2001/XMLSchema#integer"),
         ("d", S + "age", "7", "literal", None,
          "http://www.w3.org/2001/XMLSchema#string")],
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, datatype string")
    got = {r["x"] for r in sparql(kg, P + """
        SELECT ?x WHERE { ?x s:name "chat"@fr }""").collect()}
    assert got == {"a"}
    got = {r["x"] for r in sparql(kg, P + """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?x WHERE { ?x s:age "7"^^xsd:integer }""").collect()}
    assert got == {"c"}
    # untagged still matches lexically (both rows)
    got = {r["x"] for r in sparql(kg, P + """
        SELECT ?x WHERE { ?x s:age "7" }""").collect()}
    assert got == {"c", "d"}


def test_optional_group_filter_applies(kg):
    """OPTIONAL { ... FILTER ... } keeps the filter scoped to the
    group (was silently dropped before): mirrors filtered away inside
    the group come back as NULL, not as missing rows."""
    rows = sparql(kg, P + """
        SELECT ?d ?m WHERE {
          ?d s:type "Doc" .
          OPTIONAL { ?d s:mirror ?m FILTER (?m != "m1") }
        }""").collect()
    by_d = {r["d"]: r["m"] for r in rows}
    assert set(by_d) == {"a", "b", "c"} and by_d["a"] is None


def test_not_exists_group_filter(kg):
    # NOT EXISTS { ?d s:mirror ?m FILTER(?m = "m1") } removes only a
    got = {r["d"] for r in sparql(kg, P + """
        SELECT ?d WHERE {
          ?d s:type "Doc" .
          FILTER NOT EXISTS { ?d s:mirror ?m FILTER (?m = "m1") }
        }""").collect()}
    assert got == {"b", "c"}


def test_subgroup_rejects_nested_features(kg):
    with pytest.raises(SparqlSyntaxError, match="OPTIONAL group"):
        sparql(kg, P + """
            SELECT ?d WHERE {
              ?d s:type "Doc" .
              OPTIONAL { ?d s:mirror ?m BIND(?m AS ?n) }
            }""")
    with pytest.raises(SparqlSyntaxError, match="MINUS group"):
        sparql(kg, P + """
            SELECT ?d WHERE {
              ?d s:type "Doc" .
              MINUS { ?d s:mirror ?m OPTIONAL { ?m s:label ?l } }
            }""")


def test_subgroup_filter_outer_var_raises(kg):
    # a group filter referencing an OUTER variable cannot be compiled
    # as filter-inside-group — raise instead of silently diverging
    with pytest.raises(SparqlSyntaxError, match="not bound by the group"):
        sparql(kg, P + """
            SELECT ?d WHERE {
              ?d s:type "Doc" ; s:label ?l .
              MINUS { ?d s:mirror ?m FILTER (?l = "Apple") }
            }""")


def test_ask_trailing_tokens_raise(kg):
    with pytest.raises(SparqlSyntaxError, match="trailing"):
        sparql(kg, P + 'ASK { ?x s:mirror ?m } LIMIT 3')
    with pytest.raises(SparqlSyntaxError, match="trailing"):
        sparql(kg, P + 'ASK { ?x s:mirror ?m } garbage garbage')


def test_offset_on_aggregates_and_construct(kg):
    # OFFSET was silently dropped for aggregate/construct forms
    rows = sparql(kg, P + """
        SELECT ?t (COUNT(*) AS ?n) WHERE { ?x s:type ?t }
        GROUP BY ?t ORDER BY ?t OFFSET 1""").collect()
    assert rows == []  # only one type group, offset past it
    rows = sparql(kg, P + """
        CONSTRUCT { ?x s:kind "doc" } WHERE { ?x s:type "Doc" }
        ORDER BY ?x OFFSET 2 LIMIT 2""").collect()
    assert [r["subj"] for r in rows] == ["c"]


def test_backslash_string_literals(spark):
    kg2 = spark.createDataFrame(
        [("a", S + "path", "C:\\temp"), ("b", S + "path", "C:/tmp")],
        "subj string, pred string, obj string")
    # FILTER comparison against a backslash-bearing literal ("C:\\temp"
    # in SPARQL source = C:\temp) survives the SQL embedding
    got = {r["x"] for r in sparql(kg2, P + """
        SELECT ?x WHERE { ?x s:path ?v . FILTER (?v = "C:\\\\temp") }
    """).collect()}
    assert got == {"a"}
    # and a trailing backslash doesn't eat the closing SQL quote
    got = {r["x"] for r in sparql(kg2, P + """
        SELECT ?x WHERE { ?x s:path ?v . FILTER (STRSTARTS(?v, "C:\\\\")) }
    """).collect()}
    assert got == {"a"}
    # SPARQL ECHARs decode per spec: \\t is a TAB, not the letter t
    kg3 = kg2.sparkSession.createDataFrame(
        [("t", S + "path", "a\tb")],
        "subj string, pred string, obj string")
    got = {r["x"] for r in sparql(kg3, P + """
        SELECT ?x WHERE { ?x s:path "a\\tb" }""").collect()}
    assert got == {"t"}


def test_metadata_fn_on_path_var_raises(spark):
    kg = spark.createDataFrame(
        [("a", S + "next", "b", "iri", None, None),
         ("b", S + "next", "c", "iri", None, None)],
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, datatype string")
    with pytest.raises(SparqlSyntaxError, match="no term metadata"):
        sparql(kg, P + """
            SELECT ?y WHERE { ?x s:next+ ?y . FILTER (isIRI(?y)) }""")


def test_metadata_fn_without_store_columns_raises(kg):
    # the module-level kg fixture has no lang/datatype/obj_kind cols
    with pytest.raises(SparqlSyntaxError, match="no lang"):
        sparql(kg, P + """
            SELECT ?l WHERE { ?d s:label ?l . FILTER (LANG(?l) = "en") }""")


def test_filter_unknown_var_raises(kg):
    with pytest.raises(SparqlSyntaxError, match="not bound"):
        sparql(kg, P + """
            SELECT ?d WHERE { ?d s:type "Doc" . FILTER (?nope = 1) }""")


def test_outer_filter_sees_select_star_subquery_vars(kg):
    # a SELECT * subquery projects its OPTIONAL and BIND variables too,
    # so an outer FILTER over them resolves
    got = sorted(tuple(r) for r in sparql(kg, P + """
        SELECT ?d WHERE {
          { SELECT * WHERE { ?d s:type ?t OPTIONAL { ?d s:mirror ?s } } }
          FILTER (BOUND(?s)) }""").collect())
    assert got == [("a",)]
    got = sorted(tuple(r) for r in sparql(kg, P + """
        SELECT ?d WHERE {
          { SELECT * WHERE { ?d s:type ?t BIND(?d AS ?e) } }
          FILTER (?e != "c") }""").collect())
    assert got == [("a",), ("b",)]


@pytest.mark.parametrize("query,name", [
    ('SELECT ?d WHERE { ?d s:type "Doc" } ORDER BY ?x', "x"),
    ('SELECT ?d WHERE { ?d s:type "Doc" } ORDER BY DESC(STRLEN(?x))', "x"),
    ('SELECT ?x WHERE { ?d s:type "Doc" }', "x"),
    ('SELECT ?x (COUNT(*) AS ?n) WHERE { ?d s:type "Doc" } GROUP BY ?x',
     "x"),
    ('SELECT (COUNT(?x) AS ?n) WHERE { ?d s:type "Doc" }', "x"),
    ('SELECT ?d WHERE { ?d s:type "Doc" BIND(?x AS ?z) BIND(?d AS ?x) }',
     "x"),
    ('CONSTRUCT { ?d s:k "v" } WHERE { ?d s:type "Doc" } ORDER BY ?x', "x"),
    # a store column under a pattern's projection is not a variable
    ('SELECT ?d WHERE { ?d s:type "Doc" FILTER (?subj = "a") }', "subj"),
    ('SELECT ?d WHERE { ?d s:type "Doc" } ORDER BY ?obj', "obj"),
    ('SELECT ?d WHERE { ?d s:type "Doc" '
     'MINUS { ?d s:mirror ?m FILTER (?pred = "x") } }', "pred"),
    # nor is a variable a subquery or a GROUP BY leaves out
    ('SELECT ?d WHERE { { SELECT ?d WHERE { ?d s:type ?t } } '
     'FILTER (?t = "Doc") }', "t"),
    ('SELECT ?d WHERE { ?d s:type ?t } GROUP BY ?d ORDER BY ?t', "t"),
], ids=["order", "order-expr", "select", "group-by", "aggregate",
        "later-bind", "construct-order", "store-filter", "store-order",
        "store-minus", "subquery-hidden", "group-order"])
def test_unbound_variable_raises_syntax_error(kg, query, name):
    # Spark's analyzer resolves every variable; an unresolved one is a
    # SparqlSyntaxError naming it, never a raw AnalysisException
    with pytest.raises(SparqlSyntaxError, match=r"\?%s\b" % name):
        sparql(kg, P + query)


def test_sparql_seeded_path_constant_subject(kg):
    got = {r["y"] for r in sparql(
        kg, P + 'SELECT ?y WHERE { "a" s:next+ ?y }').collect()}
    assert got == {"b", "c"}
    got = {r["x"] for r in sparql(
        kg, P + 'SELECT ?x WHERE { ?x s:next* "c" }').collect()}
    assert got == {"a", "b", "c"}


def test_graph_clause(spark):
    kg = spark.createDataFrame(
        [("a", S + "name", "Anna", "output"),
         ("b", S + "name", "Bert", "output"),
         ("w1", S + "warn", "bad term", "processor"),
         ("w2", S + "warn", "bad curie", "processor")],
        "subj string, pred string, obj string, graph string")
    # constant graph scoping
    got = {r["o"] for r in sparql(kg, P + """
        SELECT ?o WHERE { GRAPH <processor> { ?s s:warn ?o } }""").collect()}
    assert got == {"bad term", "bad curie"}
    # graph variable binds the column
    got = {(r["g"], r["n"]) for r in sparql(kg, P + """
        SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }
        GROUP BY ?g""").collect()}
    assert got == {("output", 2), ("processor", 2)}
    # graph-scoped group may carry a scoped FILTER (hoisted)
    got = {r["o"] for r in sparql(kg, P + """
        SELECT ?o WHERE {
          GRAPH <processor> { ?s s:warn ?o FILTER (CONTAINS(?o, "term")) }
        }""").collect()}
    assert got == {"bad term"}
    # mixing default-graph and GRAPH-scoped patterns joins across
    got = {r["s"] for r in sparql(kg, P + """
        SELECT ?s WHERE { ?s s:name ?n . GRAPH <output> { ?s ?p ?n } }
    """).collect()}
    assert got == {"a", "b"}


def test_graph_clause_rejects(spark):
    kg = spark.createDataFrame(
        [("a", S + "p", "b", "output")],
        "subj string, pred string, obj string, graph string")
    with pytest.raises(SparqlSyntaxError, match="GRAPH group"):
        sparql(kg, P + """
            SELECT ?s WHERE { GRAPH ?g { ?s s:p ?o
              OPTIONAL { ?o s:p ?x } } }""")
    # GRAPH var over a property path: constant graphs only
    with pytest.raises(ValueError, match="constant graph"):
        sparql(kg, P + "SELECT ?s WHERE { GRAPH ?g { ?s s:p+ ?o } }")
    # path WITHIN a constant graph works
    got = {r["o"] for r in sparql(kg, P + """
        SELECT ?o WHERE { GRAPH <output> { "a" s:p+ ?o } }""").collect()}
    assert got == {"b"}
    # store without a graph column
    kg2 = spark.createDataFrame([("a", S + "p", "b")],
                                "subj string, pred string, obj string")
    with pytest.raises(ValueError, match="graph"):
        sparql(kg2, P + "SELECT ?s WHERE { GRAPH ?g { ?s s:p ?o } }")


def test_graph_filter_over_outer_var_raises(spark):
    # GRAPH patterns and filters hoist into the outer group, where ?m
    # would resolve; SPARQL's group scope keeps it out of the filter
    kg = spark.createDataFrame(
        [("a", S + "p", "b", "output"), ("a", S + "m", "c", "output")],
        "subj string, pred string, obj string, graph string")
    with pytest.raises(SparqlSyntaxError, match="GRAPH"):
        sparql(kg, P + """
            SELECT ?s WHERE { ?s s:m ?m .
              GRAPH <output> { ?s s:p ?o FILTER (?m != "x") } }""")


def test_having(kg):
    # 3 Docs share one type; HAVING keeps/drops the group
    rows = sparql(kg, P + """
        SELECT ?t (COUNT(*) AS ?n) WHERE { ?d s:type ?t }
        GROUP BY ?t HAVING (COUNT(*) >= 3)""").collect()
    assert [(r["t"], r["n"]) for r in rows] == [("Doc", 3)]
    assert sparql(kg, P + """
        SELECT ?t (COUNT(*) AS ?n) WHERE { ?d s:type ?t }
        GROUP BY ?t HAVING (COUNT(*) > 3)""").count() == 0
    # HAVING aggregate not projected in SELECT → hidden column,
    # dropped from the output schema
    df = sparql(kg, P + """
        SELECT ?t WHERE { ?d s:type ?t }
        GROUP BY ?t HAVING (COUNT(*) >= 3)""")
    assert df.columns == ["t"]
    assert [r["t"] for r in df.collect()] == ["Doc"]
    # HAVING referencing a non-grouped plain var raises
    with pytest.raises(SparqlSyntaxError, match="HAVING"):
        sparql(kg, P + """
            SELECT ?t (COUNT(*) AS ?n) WHERE { ?d s:type ?t }
            GROUP BY ?t HAVING (?d > 1)""")
    with pytest.raises(SparqlSyntaxError, match="HAVING"):
        sparql(kg, P + 'SELECT ?d WHERE { ?d s:type ?t } HAVING (?t > 1)')
    # a HAVING with no aggregate filters the distinct group keys
    rows = sparql(kg, P + """
        SELECT ?t WHERE { ?d s:type ?t } GROUP BY ?t
        HAVING (?t = "Doc")""").collect()
    assert [tuple(r) for r in rows] == [("Doc",)]


def test_group_by_without_aggregates(kg):
    rows = sparql(kg, P + """
        SELECT ?t WHERE { ?d s:type ?t } GROUP BY ?t""").collect()
    assert [r["t"] for r in rows] == ["Doc"]


def test_subquery_joins_outer(kg):
    """Docs whose label-length equals the max: subquery computes the
    per-type count, outer patterns join on the shared var."""
    rows = sparql(kg, P + """
        SELECT ?d ?t ?n WHERE {
          ?d s:type ?t .
          { SELECT ?t (COUNT(*) AS ?n) WHERE { ?x s:type ?t }
            GROUP BY ?t }
        } ORDER BY ?d""").collect()
    assert [(r["d"], r["t"], r["n"]) for r in rows] == [
        ("a", "Doc", 3), ("b", "Doc", 3), ("c", "Doc", 3)]


def test_subquery_with_having_filters_outer(kg):
    # "types with ≥ 3 members, then their docs" — the ADVICE shape
    rows = sparql(kg, P + """
        SELECT ?d ?t WHERE {
          ?d s:type ?t .
          { SELECT ?t WHERE { ?x s:type ?t }
            GROUP BY ?t HAVING (COUNT(*) >= 3) }
        } ORDER BY ?d""").collect()
    assert [r["d"] for r in rows] == ["a", "b", "c"]
    assert sparql(kg, P + """
        SELECT ?d ?t WHERE {
          ?d s:type ?t .
          { SELECT ?t WHERE { ?x s:type ?t }
            GROUP BY ?t HAVING (COUNT(*) > 3) }
        }""").count() == 0


def test_subquery_limit_applies_inside(kg):
    # the subquery's ORDER/LIMIT runs BEFORE the outer join
    rows = sparql(kg, P + """
        SELECT ?d ?l WHERE {
          ?d s:label ?l .
          { SELECT ?d WHERE { ?d s:type "Doc" } ORDER BY ?d LIMIT 1 }
        }""").collect()
    assert [(r["d"], r["l"]) for r in rows] == [("a", "Apple")]


def test_subquery_rejected_in_subgroups(kg):
    with pytest.raises(SparqlSyntaxError, match="OPTIONAL group"):
        sparql(kg, P + """
            SELECT ?d WHERE {
              ?d s:type "Doc" .
              OPTIONAL { { SELECT ?d WHERE { ?d s:mirror ?m } } }
            }""")


def test_outer_filter_may_reference_subquery_vars(kg):
    rows = sparql(kg, P + """
        SELECT ?d ?n WHERE {
          ?d s:type "Doc" .
          { SELECT (COUNT(*) AS ?n) WHERE { ?x s:type "Doc" } }
          FILTER (?n >= 3)
        } ORDER BY ?d""").collect()
    assert [(r["d"], r["n"]) for r in rows] == [
        ("a", 3), ("b", 3), ("c", 3)]


def test_more_aggregates(kg):
    rows = sparql(kg, P + """
        SELECT ?t (GROUP_CONCAT(?l; SEPARATOR="|") AS ?ls)
               (SAMPLE(?l) AS ?one)
               (COUNT(DISTINCT ?t) AS ?nt)
        WHERE { ?d s:type ?t ; s:label ?l } GROUP BY ?t""").collect()
    assert len(rows) == 1
    r = rows[0]
    # canonical (sorted) order keeps results partitioning-independent
    assert r["ls"] == "Apple|Fig|Pear"
    assert r["one"] == "Apple"  # deterministic sample = minimum
    assert r["nt"] == 1
    # GROUP_CONCAT(DISTINCT ...) collapses duplicate bindings
    rows = sparql(kg, P + """
        SELECT (GROUP_CONCAT(DISTINCT ?t; SEPARATOR=",") AS ?ts)
        WHERE { ?d s:type ?t }""").collect()
    assert rows[0]["ts"] == "Doc"


def test_more_filter_functions(kg):
    got = {r["d"] for r in sparql(kg, P + """
        SELECT ?d WHERE {
          ?d s:type "Doc" .
          OPTIONAL { ?d s:mirror ?m }
          FILTER (BOUND(?m))
        }""").collect()}
    assert got == {"a"}
    rows = sparql(kg, P + """
        SELECT ?d ?k WHERE {
          ?d s:label ?l .
          BIND(IF(STRLEN(?l) > 3, "long", "short") AS ?k)
          FILTER (CONTAINS(CONCAT(?l, "!"), "g!"))
        }""").collect()
    assert [(r["d"], r["k"]) for r in rows] == [("c", "short")]
    got = {r["r"] for r in sparql(kg, P + """
        SELECT ?r WHERE {
          "a" s:label ?l . BIND(REPLACE(?l, "p+", "P") AS ?r)
        }""").collect()}
    assert got == {"APle"}
    got = {r["sub"] for r in sparql(kg, P + """
        SELECT ?sub WHERE {
          "a" s:label ?l . BIND(SUBSTR(?l, 1, 3) AS ?sub)
        }""").collect()}
    assert got == {"App"}


def test_describe(kg):
    # constant target: <a> matches the store's subject term verbatim
    got = {tuple(r) for r in sparql(
        kg, P + 'DESCRIBE <a>').collect()}
    assert got == {("a", S + "type", "Doc"), ("a", S + "label", "Apple"),
                   ("a", S + "mirror", "m1"), ("a", S + "next", "b"),
                   ("a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                    S + "Thing")}
    # var target resolved through the WHERE group
    got = {tuple(r) for r in sparql(kg, P + """
        DESCRIBE ?d WHERE { ?d s:mirror ?m }""").collect()}
    assert {t[0] for t in got} == {"a"}
    with pytest.raises(SparqlSyntaxError):
        sparql(kg, P + "DESCRIBE")
    import rdf_rdfa_spark.pipeline.sparql  # noqa: F401
    with pytest.raises(ValueError, match="WHERE"):
        sparql(kg, P + "DESCRIBE ?d")


def test_union_with_group_level_clauses_raises(kg):
    """Group-level FILTER/BIND/... alongside a UNION used to be
    silently dropped (returning unfiltered rows); the repo convention
    is raise-rather-than-silently-drop."""
    with pytest.raises(SparqlSyntaxError, match="UNION.*FILTER"):
        sparql(kg, P + """
            SELECT ?x WHERE {
              { ?x s:label ?v } UNION { ?x s:next ?v }
              FILTER (?v = "1")
            }""")
    with pytest.raises(SparqlSyntaxError, match="UNION.*OPTIONAL"):
        sparql(kg, P + """
            SELECT ?x WHERE {
              { ?x s:label ?v } UNION { ?x s:next ?v }
              OPTIONAL { ?x s:mirror ?m }
            }""")


def test_group_by_without_aggregates_projects_select(kg):
    df = sparql(kg, P + "SELECT ?d WHERE { ?d ?p ?v } GROUP BY ?d ?p")
    assert df.columns == ["d"]
    got = {r["d"] for r in df.collect()}
    assert "a" in got
    with pytest.raises(SparqlSyntaxError, match="GROUP BY"):
        sparql(kg, P + "SELECT ?v WHERE { ?d ?p ?v } GROUP BY ?d ?p")


def test_filter_string_constant_with_backtick(spark):
    S_ = "http://s.example/"
    t = spark.createDataFrame(
        [("a", S_ + "label", "plain", "literal", None, None, "output"),
         ("b", S_ + "label", "a`x`b", "literal", None, None, "output"),
         ("c", S_ + "label", "Cat", "literal", None, None, "g2")],
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, datatype string, graph string")
    pre = "PREFIX s: <%s>\n" % S_
    rows = sparql(t, pre + """
        SELECT ?x WHERE { ?x s:label ?v
                          FILTER (CONTAINS(?v, "a`x`b")) }""").collect()
    assert [r["x"] for r in rows] == ["b"]
    # GRAPH ?g's variable is in scope for the group's own filters
    rows = sparql(t, pre + """
        SELECT ?s WHERE {
          GRAPH ?g { ?s s:label ?v FILTER (?g = "g2") } }""").collect()
    assert [r["s"] for r in rows] == ["c"]


def test_describe_var_targets_not_force_broadcast(kg):
    """An arbitrary var-derived described set must NOT be pinned to a
    broadcast join (DESCRIBE ?d over a web-scale WHERE would push
    millions of subjects through the driver): without size stats the
    semi join plans as a shuffle join, with AQE free to downgrade to
    broadcast at runtime when the set is actually small.  Constant
    targets stay broadcast (tiny by construction)."""
    plan = sparql(kg, P + """
        DESCRIBE ?d WHERE { ?d s:mirror ?m }""")._jdf \
        .queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "BroadcastExchange" not in plan, plan
    const_plan = sparql(kg, P + "DESCRIBE <a>")._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in const_plan, const_plan


def test_sparql_update_data_forms(spark):
    from rdf_rdfa_spark.pipeline.sparql import sparql_update

    kg = spark.createDataFrame(
        [("a", S + "p", "b"), ("a", S + "p", "c")],
        "subj string, pred string, obj string")
    out = sparql_update(kg, P + """
        INSERT DATA { <x> s:p "lit" . <x> s:q <y> }""")
    got = {tuple(r) for r in out.collect()}
    assert ("x", S + "p", "lit") in got and ("x", S + "q", "y") in got
    assert len(got) == 4
    # inserting an existing triple is a no-op (set semantics)
    assert sparql_update(kg, P + 'INSERT DATA { <a> s:p <b> }').count() == 2
    out = sparql_update(kg, P + 'DELETE DATA { <a> s:p <b> }')
    assert {r["obj"] for r in out.collect()} == {"c"}
    with pytest.raises(SparqlSyntaxError, match="ground"):
        sparql_update(kg, P + 'INSERT DATA { ?x s:p <b> }')


def test_sparql_update_where_forms(spark):
    from rdf_rdfa_spark.pipeline.sparql import sparql_update

    kg = spark.createDataFrame(
        [("a", S + "genre", "news"), ("b", S + "genre", "blog"),
         ("a", S + "type", "Doc"), ("b", S + "type", "Doc")],
        "subj string, pred string, obj string")
    # DELETE WHERE: patterns double as the deletion template
    out = sparql_update(kg, P + 'DELETE WHERE { ?d s:genre ?g }')
    assert {r["pred"] for r in out.collect()} == {S + "type"}
    # DELETE + INSERT WHERE: predicate rename
    out = sparql_update(kg, P + """
        DELETE { ?d s:genre ?g } INSERT { ?d s:category ?g }
        WHERE { ?d s:genre ?g }""")
    got = {tuple(r) for r in out.collect()}
    assert ("a", S + "category", "news") in got
    assert ("b", S + "category", "blog") in got
    assert not any(t[1] == S + "genre" for t in got)
    assert len(got) == 4
    # conditional INSERT only (no delete)
    out = sparql_update(kg, P + """
        INSERT { ?d s:kind "doc" } WHERE { ?d s:type "Doc" }""")
    assert out.filter("pred = '%skind'" % S).count() == 2


def test_sparql_update_preserves_store_schema(spark):
    from rdf_rdfa_spark.pipeline.sparql import sparql_update

    kg = spark.createDataFrame(
        [("u1", "a", S + "name", "Anna", "literal", "en", None, "output")],
        "url string, subj string, pred string, obj string, "
        "obj_kind string, lang string, datatype string, graph string")
    out = sparql_update(kg, P + """
        INSERT DATA { <b> s:name "Bea"@fr . <b> s:link <c> }""")
    assert out.columns == kg.columns
    rows = {r["obj"]: r for r in out.collect()}
    assert rows["Bea"]["obj_kind"] == "literal"
    assert rows["Bea"]["lang"] == "fr"
    assert rows["Bea"]["graph"] == "output"
    assert rows["c"]["obj_kind"] == "iri"
    assert rows["Anna"]["url"] == "u1"  # existing provenance untouched


def test_negated_property_set(kg):
    # everything reachable from "a" by any predicate EXCEPT type/label
    got = {r["v"] for r in sparql(kg, P + """
        SELECT ?v WHERE { "a" !(s:type|s:label) ?v }""").collect()}
    assert got == {"m1", "b", S + "Thing"}
    # single-member form and use under a closure
    got = {r["v"] for r in sparql(kg, P + """
        SELECT ?v WHERE { "a" !s:mirror ?v }""").collect()}
    assert "m1" not in got and "b" in got
    # bound-object seeding through the inverted negated step
    got = {r["x"] for r in sparql(kg, P + """
        SELECT ?x WHERE { ?x !(s:type|s:next) "m1" }""").collect()}
    assert got == {"a"}
    with pytest.raises(SparqlSyntaxError, match="negated property"):
        sparql(kg, P + 'SELECT ?v WHERE { "a" !(?p) ?v }')


def test_order_by_expression(kg):
    rows = sparql(kg, P + """
        SELECT ?l WHERE { ?d s:type "Doc" ; s:label ?l }
        ORDER BY DESC(STRLEN(?l)) LIMIT 1""").collect()
    assert [r["l"] for r in rows] == ["Apple"]
    rows = sparql(kg, P + """
        SELECT ?l WHERE { ?d s:type "Doc" ; s:label ?l }
        ORDER BY ASC(STRLEN(?l)) ?l LIMIT 2""").collect()
    assert [r["l"] for r in rows] == ["Fig", "Pear"]


def test_blank_node_property_lists(kg):
    # object bnode: docs whose mirror has label "Mirror"
    got = {r["d"] for r in sparql(kg, P + """
        SELECT ?d WHERE { ?d s:mirror [ s:label "Mirror" ] }""").collect()}
    assert got == {"a"}
    # subject bnode statement
    got = {r["l"] for r in sparql(kg, P + """
        SELECT ?l WHERE { [ s:type "Doc" ; s:label ?l ] . }""").collect()}
    assert got == {"Apple", "Pear", "Fig"}
    # SELECT * strips the anonymous existentials
    df = sparql(kg, P + 'SELECT * WHERE { ?d s:mirror [ s:label ?ml ] }')
    assert set(df.columns) == {"d", "ml"}
    assert {(r["d"], r["ml"]) for r in df.collect()} == {("a", "Mirror")}


def test_in_operator(kg):
    got = {r["d"] for r in sparql(kg, P + """
        SELECT ?d WHERE { ?d s:label ?l . FILTER (?l IN ("Apple", "Fig")) }
    """).collect()}
    assert got == {"a", "c"}
    got = {r["d"] for r in sparql(kg, P + """
        SELECT ?d WHERE { ?d s:label ?l . FILTER (!(?l IN ("Apple"))) }
    """).collect()}
    assert got == {"b", "c", "m1"}


def test_construct_where_shorthand(kg):
    got = {tuple(r) for r in sparql(kg, P + """
        CONSTRUCT WHERE { ?x s:next ?y }""").collect()}
    assert got == {("a", S + "next", "b"), ("b", S + "next", "c")}
    with pytest.raises(SparqlSyntaxError, match="plain triple"):
        sparql(kg, P + "CONSTRUCT WHERE { ?x s:next+ ?y }")


def test_blank_node_in_optional_stripped_from_select_star(kg):
    df = sparql(kg, P + """
        SELECT * WHERE {
          ?d s:type "Doc" .
          OPTIONAL { ?d s:mirror [ s:label ?ml ] }
        }""")
    assert set(df.columns) == {"d", "ml"}
    by_d = {r["d"]: r["ml"] for r in df.collect()}
    assert by_d == {"a": "Mirror", "b": None, "c": None}


def test_values_undef(kg):
    # UNDEF leaves the column unconstrained for that row
    got = {(r["d"], r["l"]) for r in sparql(kg, P + """
        SELECT ?d ?l WHERE {
          ?d s:label ?l .
          VALUES (?d ?l) { ("a" UNDEF) (UNDEF "Fig") }
        }""").collect()}
    assert got == {("a", "Apple"), ("c", "Fig")}
    # an all-UNDEF row matches everything (no constraint)
    got = {r["d"] for r in sparql(kg, P + """
        SELECT ?d WHERE { ?d s:type "Doc" . VALUES ?d { UNDEF } }
    """).collect()}
    assert got == {"a", "b", "c"}
    # UNDEF present for a closure-path var → no seed narrowing
    kg2 = kg.sparkSession.createDataFrame(
        [("a", S + "next", "b"), ("b", S + "next", "c")],
        "subj string, pred string, obj string")
    got = {(r["x"], r["y"]) for r in sparql(kg2, P + """
        SELECT ?x ?y WHERE {
          ?x s:next+ ?y . VALUES ?x { "a" UNDEF }
        }""").collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}


def test_negated_property_set_inverse_members(kg):
    # !(^s:next): reversed edges over any pred except next — from "b"
    # that's mirror/label/... sources pointing AT b with pred != next
    got = {r["v"] for r in sparql(kg, P + """
        SELECT ?v WHERE { "b" !(^s:next) ?v }""").collect()}
    assert "a" not in got  # a next b is excluded (pred IS next)
    # mixed form: forward step not in {type} UNION reversed step not
    # in {next} — from "b": forward label/next edges + reverse none
    got = {r["v"] for r in sparql(kg, P + """
        SELECT ?v WHERE { "b" !(s:type|^s:next) ?v }""").collect()}
    assert got == {"Pear", "c"}
    # pure-inverse set from m1: who points at m1 with pred != type?
    got = {r["v"] for r in sparql(kg, P + """
        SELECT ?v WHERE { "m1" !(^s:type) ?v }""").collect()}
    assert got == {"a"}


def test_graph_inside_optional_and_minus(spark):
    kg = spark.createDataFrame(
        [("a", S + "name", "Anna", "output"),
         ("b", S + "name", "Bert", "output"),
         ("a", S + "warn", "w1", "processor")],
        "subj string, pred string, obj string, graph string")
    rows = sparql(kg, P + """
        SELECT ?s ?w WHERE {
          ?s s:name ?n .
          OPTIONAL { GRAPH <processor> { ?s s:warn ?w } }
        }""").collect()
    assert {(r["s"], r["w"]) for r in rows} == {("a", "w1"), ("b", None)}
    got = {r["s"] for r in sparql(kg, P + """
        SELECT ?s WHERE {
          ?s s:name ?n .
          MINUS { GRAPH <processor> { ?s s:warn ?w } }
        }""").collect()}
    assert got == {"b"}


def test_aggregates_over_expressions(kg):
    rows = sparql(kg, P + """
        SELECT ?t (SUM(STRLEN(?l)) AS ?chars)
               (MAX(STRLEN(?l)) AS ?longest)
        WHERE { ?d s:type ?t ; s:label ?l } GROUP BY ?t""").collect()
    assert [(r["t"], r["chars"], r["longest"]) for r in rows] == [
        ("Doc", 5 + 4 + 3, 5)]
    # COUNT over a conditional expression
    rows = sparql(kg, P + """
        SELECT (SUM(IF(STRLEN(?l) > 3, 1, 0)) AS ?n)
        WHERE { ?d s:label ?l }""").collect()
    assert rows[0]["n"] == 3  # Apple, Pear, Mirror


def test_group_concat_expression_with_separator(kg):
    rows = sparql(kg, P + """
        SELECT (GROUP_CONCAT(UCASE(?l); SEPARATOR="+") AS ?ls)
        WHERE { ?d s:type "Doc" ; s:label ?l }""").collect()
    assert rows[0]["ls"] == "APPLE+FIG+PEAR"


def test_construct_tagged_literal_template(spark):
    """A tagged literal in a CONSTRUCT template instantiates its lexical
    form, with the tag in the store's lang/datatype columns (the same
    template path as INSERT); the other store columns get the insert
    defaults (graph 'output', url NULL)."""
    kg = spark.createDataFrame(
        [("u1", "a", S + "type", "Doc", "literal", None, None, "output"),
         ("u1", "b", S + "type", "Doc", "literal", None, None, "output")],
        "url string, subj string, pred string, obj string, "
        "obj_kind string, lang string, datatype string, graph string")
    df = sparql(kg, P + """
        CONSTRUCT { ?s s:q "hi"@en } WHERE { ?s s:type "Doc" }""")
    assert df.columns == kg.columns
    assert {tuple(r) for r in df.collect()} == {
        (None, d, S + "q", "hi", "literal", "en", None, "output")
        for d in ("a", "b")}
    rows = sparql(kg, P + """
        CONSTRUCT { ?s s:q "x"^^<http://dt/> ; s:r <http://o/> }
        WHERE { ?s s:type "Doc" }""").collect()
    got = {(r["subj"], r["pred"], r["obj"], r["obj_kind"], r["lang"],
            r["datatype"]) for r in rows}
    assert got == {(d, S + p, o, kind, None, dt)
                   for d in ("a", "b")
                   for p, o, kind, dt in (
                       ("q", "x", "literal", "http://dt/"),
                       ("r", "http://o/", "iri", None))}


def test_construct_template_rejects_paths(kg):
    # a template is a TriplesTemplate: no property paths
    with pytest.raises(SparqlSyntaxError):
        sparql(kg, P + """
            CONSTRUCT { ?s s:q/s:r ?o } WHERE { ?s s:next ?o }""")


def test_construct_template_rejects_blank_node_lists(kg):
    # [ p o ] in a template would need fresh blank nodes per solution;
    # the template path does not mint them, so it refuses the form
    with pytest.raises(SparqlSyntaxError):
        sparql(kg, P + """
            CONSTRUCT { ?s s:q [ s:r ?o ] } WHERE { ?s s:next ?o }""")


def test_union_body_in_every_form(kg):
    # a UNION group body is one WHERE group, so every form takes it
    u = "{ ?d s:mirror ?v } UNION { ?d s:next ?v }"
    assert sparql(kg, P + "ASK { %s }" % u) is True
    rows = sparql(kg, P + "SELECT (COUNT(*) AS ?n) WHERE { %s }" % u)
    assert rows.collect()[0]["n"] == 3  # (a m1) (a b) (b c)
    got = {tuple(r) for r in sparql(kg, P + """
        CONSTRUCT { ?d s:r ?v } WHERE { %s }""" % u).collect()}
    assert got == {("a", S + "r", "m1"), ("a", S + "r", "b"),
                   ("b", S + "r", "c")}


def test_template_object_var_keeps_term_metadata(spark):
    """A template object bound to a variable instantiates the bound
    term whole: obj_kind/lang/datatype come from the solution, the same
    for INSERT and CONSTRUCT.  A variable bound only as a subject is a
    resource; a template variable the WHERE group never binds yields
    no triple."""
    from rdf_rdfa_spark.pipeline.sparql import sparql_update

    xint = "http://www.w3.org/2001/XMLSchema#integer"
    kg = spark.createDataFrame(
        [("u1", "d1", S + "genre", "nouvelles", "literal", "fr", None, None),
         ("u1", "d2", S + "genre", "7", "literal", None, xint, None),
         ("u1", "d1", S + "link", "http://o/", "iri", None, None, None),
         ("u1", "_:b1", S + "link", "_:b2", "bnode", None, None, None)],
        "url string, subj string, pred string, obj string, "
        "obj_kind string, lang string, datatype string, graph string")
    out = sparql_update(kg, P + """
        DELETE { ?d s:genre ?g } INSERT { ?d s:category ?g }
        WHERE { ?d s:genre ?g }""")
    got = {(r["subj"], r["obj"], r["obj_kind"], r["lang"], r["datatype"])
           for r in out.filter("pred = '%scategory'" % S).collect()}
    assert got == {("d1", "nouvelles", "literal", "fr", None),
                   ("d2", "7", "literal", None, xint)}
    assert not out.filter("pred = '%sgenre'" % S).count()
    got = {(r["subj"], r["pred"], r["obj"], r["obj_kind"])
           for r in sparql(kg, P + """
               CONSTRUCT { ?d s:l2 ?o . ?o s:back ?d . ?d s:q ?nope }
               WHERE { ?d s:link ?o }""").collect()}
    assert got == {("d1", S + "l2", "http://o/", "iri"),
                   ("_:b1", S + "l2", "_:b2", "bnode"),
                   ("http://o/", S + "back", "d1", "iri"),
                   ("_:b2", S + "back", "_:b1", "bnode")}
    # a template of unbound variables only constructs nothing
    assert sparql(kg, P + """
        CONSTRUCT { ?x s:q ?y } WHERE { ?d s:link ?o }""").count() == 0
    assert sparql_update(kg, P + """
        INSERT { ?d s:q ?nope } WHERE { ?d s:link ?o }""").count() == 4


def test_construct_modifiers_apply_to_solutions(kg):
    """ORDER BY / OFFSET / LIMIT pick CONSTRUCT's solutions (SPARQL 1.1
    §16.2), and every template triple of a picked solution is built."""
    q = P + """
        CONSTRUCT { ?d s:k "doc" . ?d s:l ?l }
        WHERE { ?d s:type "Doc" ; s:label ?l } ORDER BY %s"""
    got = {tuple(r) for r in sparql(kg, q % "?d LIMIT 1").collect()}
    assert got == {("a", S + "k", "doc"), ("a", S + "l", "Apple")}
    got = {tuple(r) for r in sparql(kg, q % "DESC(?d) OFFSET 1 LIMIT 1")
           .collect()}
    assert got == {("b", S + "k", "doc"), ("b", S + "l", "Pear")}


def test_order_by_call_and_bracketed_keys(spark):
    """SPARQL 1.1 OrderCondition admits a built-in call or a bracketed
    expression without ASC/DESC: both sort ascending, in SELECT and
    CONSTRUCT alike."""
    kg = spark.createDataFrame(
        [("d1", S + "genre", "roman", "literal", "fr", None),
         ("d2", S + "genre", "novel", "literal", "en", None),
         ("d3", S + "genre", "saga", "literal", "de", None)],
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, datatype string")
    q = P + "SELECT ?d WHERE { ?d s:genre ?g } ORDER BY %s"
    for key, want in (("LANG(?g)", ["d3", "d2", "d1"]),
                      ("(?g)", ["d2", "d1", "d3"]),
                      ("STRLEN(?g) DESC(?d)", ["d3", "d2", "d1"]),
                      ("LANG(?g) (?d) LIMIT 2", ["d3", "d2"])):
        assert [r["d"] for r in sparql(kg, q % key).collect()] == want, key
    q = P + """CONSTRUCT { ?d s:first ?g }
               WHERE { ?d s:genre ?g } ORDER BY %s LIMIT 1"""
    for key, want in (("LANG(?g)", "d3"), ("(?g)", "d2")):
        assert [r["subj"] for r in sparql(kg, q % key).collect()] == [want]
