"""writer_spec.rb xpath assertions (spec/writer_spec.rb:44-598),
transcribed against our full default-template writer
(rdf_rdfa_spark.writer.RdfaHtmlWriter) and evaluated with the
xpath_mini subset — the same have_xpath checks the reference makes.
"Multiple collections" stays pending like the reference's own run."""

from __future__ import annotations

import re

import pytest

from rdf_rdfa_spark.rdfa.ntriples import parse_turtle
from rdf_rdfa_spark.rdfa.terms import RDF_NS, XSD_NS, bnode, iri, literal
from rdf_rdfa_spark.writer import serialize_rdfa
from rdf_rdfa_spark.rdfa.walk import parse_rdfa
from graph_match import isomorphic

from xpath_mini import assert_xpath

EX = "http://example/"
DC = "http://purl.org/dc/terms/"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
RDF_TYPE = RDF_NS + "type"

PREFIXES = {"ex": EX, "dc": DC, "rdfs": RDFS}


def ser(*triples, **kw):
    kw.setdefault("prefixes", PREFIXES)
    return serialize_rdfa(list(triples), **kw)


def check(html, matches):
    for path, value in matches.items():
        assert_xpath(html, path, value)


# --- prefix definitions (writer_spec.rb:45-55) ------------------------
def test_prefix_definitions():
    html = ser((iri(EX + "a"), iri(DC + "title"), literal("foo")))
    assert_xpath(html, "/html/@prefix", re.compile(r"dc: http://purl\.org/dc/terms/"))
    assert_xpath(html, "/html/@prefix", re.compile(r"ex: http://example/"))
    assert_xpath(html, "/html/@prefix", re.compile(r"ex:"))


# --- plain literal (:56-71) -------------------------------------------
def test_plain_literal():
    html = ser((iri(EX + "a"), iri(EX + "b"), literal("foo")))
    check(html, {
        "/html/body/div/@resource": "ex:a",
        "//div[@class='property']/span[@property]/@property": "ex:b",
        "//div[@class='property']/span[@property]/text()": "foo",
    })


# --- dc:title (:73-90) -------------------------------------------------
def test_dc_title():
    html = ser((iri(EX + "a"), iri(DC + "title"), literal("foo")))
    check(html, {
        "/html/head/title/text()": "foo",
        "/html/body/div/@resource": "ex:a",
        "/html/body/div/h1/@property": "dc:title",
        "/html/body/div/h1/text()": "foo",
    })


# --- typed resources (:91-126) ------------------------------------------
def test_typed_resource():
    html = ser((iri(EX + "a"), iri(RDF_TYPE), iri(EX + "Type")))
    check(html, {
        "/html/body/div/@resource": "ex:a",
        "/html/body/div/@typeof": "ex:Type",
    })


def test_resource_with_two_types():
    html = ser((iri(EX + "a"), iri(RDF_TYPE), iri(EX + "t1")),
               (iri(EX + "a"), iri(RDF_TYPE), iri(EX + "t2")))
    check(html, {
        "/html/body/div/@resource": "ex:a",
        "/html/body/div/@typeof": "ex:t1 ex:t2",
    })


# --- language tagged literals (:127-193) --------------------------------
def test_lang_literal_no_doc_lang():
    html = ser((iri(EX + "a"), iri(EX + "b"), literal("foo", "en")))
    check(html, {
        "//span[@property]/@property": "ex:b",
        "//span[@property]/@lang": "en",
        "//span[@property]/text()": "foo",
    })


def test_lang_literal_same_doc_lang():
    html = ser((iri(EX + "a"), iri(EX + "b"), literal("foo", "en")),
               lang="en")
    check(html, {
        "/html/@lang": "en",
        "//span[@property]/@lang": False,
        "//span[@property]/text()": "foo",
    })


def test_lang_literal_different_doc_lang():
    html = ser((iri(EX + "a"), iri(EX + "b"), literal("foo", "en")),
               lang="de")
    check(html, {
        "/html/@lang": "de",
        "//span[@property]/@lang": "en",
        "//span[@property]/text()": "foo",
    })


def test_property_and_rel_different_elements():
    # (:176-192) a subject with both a literal property and a resource
    html = ser((iri(EX + "a"), iri(EX + "b"), literal("foo")),
               (iri(EX + "a"), iri(EX + "c"), iri(EX + "d")))
    check(html, {
        "//div[@class='property']/span[@property='ex:b']/text()": "foo",
        "//div[@class='property']/a[@property='ex:c']/@href": EX + "d",
    })


# --- typed literals (:194-350) --------------------------------------------
_DATE_CASES = {
    "2011-03-18": "Friday, 18 March 2011",
    "2011-03-18Z": "Friday, 18 March 2011 UTC",
    "2011-03-18-08:00": "Friday, 18 March 2011 -08:00",
}


@pytest.mark.parametrize("lex,human", sorted(_DATE_CASES.items()))
def test_xsd_date(lex, human):
    html = ser((iri(EX + "a"), iri(EX + "b"),
                literal(lex, None, XSD_NS + "date")))
    check(html, {
        "//span[@property]/@property": "ex:b",
        "//span[@property]/@datatype": "xsd:date",
        "//span[@property]/@content": lex,
        "//span[@property]/text()": human,
    })


_TIME_CASES = {
    "12:34:56": "12:34:56 PM",
    "12:34:56Z": "12:34:56 PM UTC",
    "12:34:56-08:00": "12:34:56 PM -08:00",
}


@pytest.mark.parametrize("lex,human", sorted(_TIME_CASES.items()))
def test_xsd_time(lex, human):
    html = ser((iri(EX + "a"), iri(EX + "b"),
                literal(lex, None, XSD_NS + "time")))
    check(html, {
        "//span[@property]/@datatype": "xsd:time",
        "//span[@property]/@content": lex,
        "//span[@property]/text()": human,
    })


_DT_CASES = {
    "2011-03-18T12:34:56": "12:34:56 PM on Friday, 18 March 2011",
    "2011-03-18T12:34:56Z": "12:34:56 PM UTC on Friday, 18 March 2011",
    "2011-03-18T12:34:56-08:00":
        "12:34:56 PM -08:00 on Friday, 18 March 2011",
}


@pytest.mark.parametrize("lex,human", sorted(_DT_CASES.items()))
def test_xsd_datetime(lex, human):
    html = ser((iri(EX + "a"), iri(EX + "b"),
                literal(lex, None, XSD_NS + "dateTime")))
    check(html, {
        "//span[@property]/@datatype": "xsd:dateTime",
        "//span[@property]/@content": lex,
        "//span[@property]/text()": human,
    })


def test_xml_literal():
    html = ser((iri(EX + "a"), iri(EX + "b"),
                literal("E = mc<sup>2</sup>: The Most Urgent Problem of "
                        "Our Time", None, RDF_NS + "XMLLiteral")))
    check(html, {
        "//span[@property]/@property": "ex:b",
        "//span[@property]/@datatype": "rdf:XMLLiteral",
        # the reference emits the raw lexical here (writer_spec.rb);
        # we canonicalize at write time (inject in-scope xmlns) so the
        # written literal re-extracts byte-identically — divergence
        # documented on RdfaHtmlWriter._leaf
        "//span[@property]": re.compile(
            r'<span [^>]+>E = mc<sup xmlns="http://www\.w3\.org/1999/xhtml">'
            r"2</sup>: The Most Urgent Problem of Our Time</span>"),
    })


def test_xsd_string_no_datatype():
    # xsd:string implied in RDF 1.1 (writer_spec.rb:317-332)
    html = ser((iri(EX + "a"), iri(EX + "b"),
                literal("Albert Einstein", None, XSD_NS + "string")))
    check(html, {
        "//span[@property]/@property": "ex:b",
        "//span[@property]/@datatype": False,
        "//span[@property]/text()": "Albert Einstein",
    })


def test_unknown_datatype():
    html = ser((iri(EX + "a"), iri(EX + "b"),
                literal("Albert Einstein", None, EX + "unknown")))
    check(html, {
        "//span[@property]/@property": "ex:b",
        "//span[@property]/@datatype": "ex:unknown",
        "//span[@property]/text()": "Albert Einstein",
    })


# --- multi-valued (:352-369, :387-404) -----------------------------------
def test_multi_valued_literals():
    html = ser((iri(EX + "a"), iri(EX + "b"), literal("c")),
               (iri(EX + "a"), iri(EX + "b"), literal("d")))
    check(html, {
        "//ul/li[1][@property='ex:b']/contains(text(), 'c')": True,
        "//ul/li[2][@property='ex:b']/contains(text(), 'd')": True,
    })


def test_resource_objects():
    html = ser((iri(EX + "a"), iri(EX + "b"), iri(EX + "c")))
    check(html, {
        "//div/@resource": "ex:a",
        "//a/@property": "ex:b",
        "//a/@href": EX + "c",
    })


def test_multi_valued_resource_objects():
    html = ser((iri(EX + "a"), iri(EX + "b"), iri(EX + "c")),
               (iri(EX + "a"), iri(EX + "b"), iri(EX + "d")))
    check(html, {
        "//div/@resource": "ex:a",
        "//ul/li/a[@property='ex:b']/contains(@href, '%sc')" % EX: True,
        "//ul/li/a[@property='ex:b']/contains(@href, '%sd')" % EX: True,
    })


# --- lists (:405-520) ------------------------------------------------------
_TTL_PREAMBLE = """
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
"""

_LIST_CASES = {
    "empty list": (
        "<> rdf:value () .",
        {
            "//div/span[@inlist]/@rel": "rdf:value",
            "//div/span[@inlist]/text()": False,
        }),
    "literal": (
        '<> rdf:value ("Foo") .',
        {
            "//div/span[@inlist]/@property": "rdf:value",
            "//div/span[@inlist]/text()": "Foo",
        }),
    "IRI": (
        "<> rdf:value (<foo>) .",
        {
            "//div/a[@inlist]/@property": "rdf:value",
            "//div/a[@inlist]/@href": "foo",
        }),
    "implicit list with heterogeneous membership": (
        '<> rdf:value ("Foo" <foo>) .',
        {
            "//ul/li[1][@inlist]/@property": "rdf:value",
            "//ul/li[1][@inlist]/text()": "Foo",
            "//ul/li[2]/a[@inlist]/@property": "rdf:value",
            "//ul/li[2]/a[@inlist]/@href": "foo",
        }),
    "property with list and literal": (
        '<> rdf:value ("Foo" "Bar"), "Baz" .',
        {
            "//div[@class='property']/span[@property='rdf:value']/text()":
                "Baz",
            "//div[@class='property']/ul/li[1][@inlist]"
            "[@property='rdf:value']/text()": "Foo",
            "//div[@class='property']/ul/li[2][@inlist]"
            "[@property='rdf:value']/text()": "Bar",
        }),
    "multiple rel items": (
        "<> rdf:value (<foo> <bar>) .",
        {
            "//div[@class='property']/ul/li[1]/a[@inlist]"
            "[@property='rdf:value']/@href": "foo",
            "//div[@class='property']/ul/li[2]/a[@inlist]"
            "[@property='rdf:value']/@href": "bar",
        }),
    "issue 14": (
        """
        @base <http://example/> .
        <> rdf:value (<needs/one> <needs/two> <needs/three>) .
        <needs/one> rdfs:label "one" .
        <needs/three> rdfs:label "three" .
        <needs/two> rdfs:label "two" .
        """,
        {
            "//div[@class='property']/ul/li[1][@inlist][@rel='rdf:value']"
            "/h1[@property='rdfs:label']/text()": "one",
            "//div[@class='property']/ul/li[2][@inlist][@rel='rdf:value']"
            "/h1[@property='rdfs:label']/text()": "two",
            "//div[@class='property']/ul/li[3][@inlist][@rel='rdf:value']"
            "/h1[@property='rdfs:label']/text()": "three",
        }),
}


@pytest.mark.parametrize("name", sorted(_LIST_CASES))
def test_lists(name):
    ttl, matches = _LIST_CASES[name]
    triples = parse_turtle(_TTL_PREAMBLE + ttl)
    html = serialize_rdfa(triples, prefixes=PREFIXES)
    check(html, matches)


# --- included resource definitions (:521-540) ------------------------------
def test_included_resource_definitions():
    html = ser((iri(EX + "a"), iri(EX + "b"), iri(EX + "c")),
               (iri(EX + "c"), iri(EX + "d"), iri(EX + "e")))
    check(html, {
        "/html/body/div/@resource": "ex:a",
        "//div[@resource='ex:a']/div[@class='property']/div[@rel]/@rel":
            "ex:b",
        "//div[@rel]/@resource": "ex:c",
        "//div[@rel]/div[@class='property']/a/@href": EX + "e",
        "//div[@rel]/div[@class='property']/a/@property": "ex:d",
    })


# --- real-page writer round-trip sweep (writer_spec.rb w3c section
# shape: graph → serialize → re-parse → equivalent) -------------------------
import os as _os

_EXAMPLES = "/root/reference/example-files"


@pytest.mark.skipif(not _os.path.isdir(_EXAMPLES),
                    reason="reference example files not available")
@pytest.mark.parametrize("fname", sorted(
    f for f in (_os.listdir(_EXAMPLES) if _os.path.isdir(_EXAMPLES) else [])
    if f.endswith((".html", ".xhtml"))))
def test_real_page_writer_roundtrip(fname):
    raw = open(_os.path.join(_EXAMPLES, fname), "rb").read()
    g, _, _ = parse_rdfa(raw, url="http://example.com/" + fname)
    # pages with no RDFa (eRDF etc.) round-trip to an empty page
    html = serialize_rdfa(g)
    g2, _, _ = parse_rdfa(html, url="http://example.com/" + fname)
    assert isomorphic(set(g2), set(g)), \
        "%s: %d → %d triples" % (fname, len(g), len(g2))


# --- round-trip through our own reader (writer_spec.rb:546+) ---------------
def test_writer_roundtrip_through_reader():
    g = [
        (iri(EX + "a"), iri(DC + "title"), literal("t")),
        (iri(EX + "a"), iri(RDF_TYPE), iri(EX + "Type")),
        (iri(EX + "a"), iri(EX + "b"), literal("foo", "en")),
        (iri(EX + "a"), iri(EX + "c"), iri(EX + "d")),
        (iri(EX + "a"), iri(EX + "n"),
         literal("42", None, XSD_NS + "integer")),
        (iri(EX + "d"), iri(RDFS + "label"), literal("dee")),
        (bnode("x"), iri(EX + "p"), literal("bval")),
        (iri(EX + "a"), iri(EX + "q"), bnode("x")),
    ]
    html = serialize_rdfa(g, prefixes=PREFIXES)
    out, _, _ = parse_rdfa(html, url="http://writer.example/doc")
    assert isomorphic(set(out), set(g)), "\n%s\ngot:  %s\nwant: %s" % (
        html, sorted(out), sorted(g))


def _roundtrip(g, **kw):
    kw.setdefault("prefixes", PREFIXES)
    html = serialize_rdfa(list(g), **kw)
    out, _, _ = parse_rdfa(html, url="http://writer.example/doc")
    assert isomorphic(set(out), set(g)), "\n%s\ngot:  %s\nwant: %s" % (
        html, sorted(out, key=repr), sorted(g, key=repr))
    return html


def _rdf_list(tag, items):
    """Build an rdf:List spine; returns (head, triples)."""
    first, rest = iri(RDF_NS + "first"), iri(RDF_NS + "rest")
    nil = iri(RDF_NS + "nil")
    cells = [bnode("%s%d" % (tag, i)) for i in range(len(items))]
    trips = []
    for i, it in enumerate(items):
        trips.append((cells[i], first, it))
        trips.append((cells[i], rest, cells[i + 1] if i + 1 < len(items) else nil))
    return cells[0], trips


# --- rdf:List folding round-trip safety (two lists under one predicate
# merge under @inlist; a shared head would mint its spine twice) -------------
def test_two_lists_same_predicate_roundtrip():
    h1, t1 = _rdf_list("a", [literal("x"), literal("y")])
    h2, t2 = _rdf_list("b", [literal("p"), literal("q")])
    g = t1 + t2 + [
        (iri(EX + "s"), iri(EX + "val"), h1),
        (iri(EX + "s"), iri(EX + "val"), h2),
    ]
    # (interior rdf:rest tail-folds remain — those re-extract to an
    # equivalent chain, which the isomorphism check inside verifies)
    _roundtrip(g)


def test_shared_list_head_roundtrip():
    head, spine = _rdf_list("c", [literal("x"), literal("y")])
    g = spine + [
        (iri(EX + "s"), iri(EX + "v1"), head),
        (iri(EX + "s"), iri(EX + "v2"), head),
    ]
    _roundtrip(g)


def test_externally_referenced_spine_cell_roundtrip():
    # an outside triple points INTO the spine → folding would dangle it
    head, spine = _rdf_list("d", [literal("x"), literal("y")])
    cell2 = spine[2][0]  # second cell (subject of its rdf:first triple)
    g = spine + [
        (iri(EX + "s"), iri(EX + "val"), head),
        (iri(EX + "z"), iri(EX + "points"), cell2),
    ]
    _roundtrip(g)


def test_single_private_list_still_folds():
    head, spine = _rdf_list("e", [literal("x"), literal("y")])
    g = spine + [(iri(EX + "s"), iri(EX + "val"), head)]
    html = _roundtrip(g)
    assert "inlist" in html  # the safe shape keeps the compact fold


# --- XMLLiteral write-time canonicalization (write→read fixed point) -------
def test_xmlliteral_non_canonical_input_fixed_point():
    g = [(iri(EX + "a"), iri(DC + "title"),
          literal("E = mc<sup>2</sup>", None, RDF_NS + "XMLLiteral"))]
    html = serialize_rdfa(g, prefixes=PREFIXES)
    out, _, _ = parse_rdfa(html, url="http://writer.example/doc")
    assert len(out) == 1
    lex = list(out)[0][2][1]
    assert lex == 'E = mc<sup xmlns="http://www.w3.org/1999/xhtml">2</sup>'
    # the canonicalized graph now round-trips byte-identically
    _roundtrip(list(out))


def test_xmlliteral_canonical_input_unchanged():
    lex = 'E = mc<sup xmlns="http://www.w3.org/1999/xhtml">2</sup>'
    g = [(iri(EX + "a"), iri(DC + "title"),
          literal(lex, None, RDF_NS + "XMLLiteral"))]
    _roundtrip(g)


# --- position-aware CURIEs: a term-map IRI in subject position --------------
def test_term_iri_as_subject_roundtrip():
    # xhv:license is a TERM in the RDFa initial context; as a subject
    # it must be emitted as a CURIE/IRI, never the bare term (which
    # readers would parse as a relative IRI)
    lic = "http://www.w3.org/1999/xhtml/vocab#license"
    g = [
        (iri(lic), iri(DC + "title"), literal("the license")),
        (iri(EX + "a"), iri(lic), iri(EX + "l")),  # also as predicate: term OK
    ]
    html = _roundtrip(g)
    assert 'resource="license"' not in html and 'about="license"' not in html
