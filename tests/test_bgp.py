"""BGP ASK evaluator + isomorphism (the suite's verification
mechanism, suite_spec.rb:51-53 / matchers.rb:42-65)."""

from graph_match import ask, isomorphic, v
from rdf_rdfa_spark.rdfa.terms import bnode, iri, literal
from rdf_rdfa_spark.rdfa.walk import parse_rdfa

DC = "http://purl.org/dc/terms/"
FOAF = "http://xmlns.com/foaf/0.1/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def test_ask_positive_negative():
    html = ('<html><body><div about="http://example/#me" typeof="foaf:Person">'
            '<p property="foaf:name">John</p></div></body></html>')
    out, _, _ = parse_rdfa(html, url="http://example/")
    # the suite's style: ASK { ?s a foaf:Person; foaf:name "John" }
    assert ask(out, [
        (v("s"), iri(RDF_TYPE), iri(FOAF + "Person")),
        (v("s"), iri(FOAF + "name"), literal("John")),
    ])
    # negative: consistent-binding requirement
    assert not ask(out, [
        (v("s"), iri(RDF_TYPE), iri(FOAF + "Person")),
        (v("s"), iri(FOAF + "name"), literal("Jane")),
    ])


def test_ask_join_via_variable():
    g = [
        (iri("a"), iri("p"), bnode("x")),
        (bnode("x"), iri("q"), literal("1")),
        (bnode("y"), iri("q"), literal("2")),
    ]
    assert ask(g, [(iri("a"), iri("p"), v("n")), (v("n"), iri("q"), literal("1"))])
    assert not ask(g, [(iri("a"), iri("p"), v("n")), (v("n"), iri("q"), literal("2"))])


def test_isomorphic_bijection():
    g1 = [
        (bnode("a"), iri("p"), bnode("b")),
        (bnode("b"), iri("p"), bnode("a")),
        (bnode("a"), iri("t"), literal("x")),
    ]
    g2 = [
        (bnode("m"), iri("p"), bnode("n")),
        (bnode("n"), iri("p"), bnode("m")),
        (bnode("m"), iri("t"), literal("x")),
    ]
    assert isomorphic(g1, g2)
    # not isomorphic: the literal moves to the other node
    g3 = [
        (bnode("m"), iri("p"), bnode("n")),
        (bnode("n"), iri("p"), bnode("m")),
        (bnode("n"), iri("t"), literal("y")),
    ]
    assert not isomorphic(g1, g3)


def test_isomorphic_large_chain():
    # 40 cons cells — factorial search would never finish; the
    # signature-guided matcher must
    def chain(prefix):
        g = []
        for i in range(40):
            g.append((bnode("%s%d" % (prefix, i)), iri("first"), literal(str(i))))
            nxt = (bnode("%s%d" % (prefix, i + 1)) if i < 39 else iri("nil"))
            g.append((bnode("%s%d" % (prefix, i)), iri("rest"), nxt))
        return g

    assert isomorphic(chain("a"), chain("z"))
    g_mut = chain("z")
    g_mut[20] = (g_mut[20][0], iri("first"), literal("mutated"))
    assert not isomorphic(chain("a"), g_mut)


def test_isomorphic_on_parser_output():
    html = ('<html><body><div typeof="foaf:Person">'
            '<span property="foaf:name">A</span></div>'
            '<div typeof="foaf:Person"><span property="foaf:name">B</span>'
            '</div></body></html>')
    out1, _, _ = parse_rdfa(html, url="http://example/")
    out2, _, _ = parse_rdfa(html, url="http://example/")
    assert isomorphic(out1, out2)
