"""reader_spec.rb blocks that aren't plain input→turtle hash tables:
xml:base per host language (reader_spec.rb:485-543), malformed
datatypes (:586-617), and the :rdfagraph processor-graph ASK cases
(:1841-1924).

Deviation mirrored from walk.py:30: processor rows omit the
reference's non-deterministic ``dc:date DateTime.now``, so the ASK
patterns here check class + description (the deterministic part of
the spec's queries)."""

from __future__ import annotations

import pytest

from graph_match import ask, isomorphic, v
from rdf_rdfa_spark.rdfa.ntriples import parse_turtle
from rdf_rdfa_spark.rdfa.terms import (
    DC_DESCRIPTION,
    RDFA_ERROR,
    RDFA_NS,
    RDFA_UNRESOLVED_CURIE,
    RDFA_UNRESOLVED_TERM,
    XSD_NS,
    iri,
    literal,
)
from rdf_rdfa_spark.rdfa.walk import parse_rdfa

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_VALUE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#value"
NEUTRAL = "http://spec.example/doc"


# --- rdfagraph option normalization (reader_spec.rb:91-158) ----------
# The reference emits per-statement Info rows into the processor graph
# (we gate them behind processor_info=True — walk.py:30 deviation —
# so the processor assertions here pass processor_info).

_RG_SOURCE = """<!DOCTYPE html>
  <html>
    <span property="dc:title">Title</span>
    <span property="undefined:curie">Undefined Curie</span>
  </html>
"""
_DC_TITLE_T = iri("http://purl.org/dc/terms/title")


def _rg_parse(rdfagraph):
    out, proc, _ = parse_rdfa(_RG_SOURCE, url=NEUTRAL,
                              rdfagraph=rdfagraph, processor_info=True)
    return out, proc


def _has_output(out):
    return any(p == _DC_TITLE_T and o == literal("Title")
               for (_s, p, o) in out)


@pytest.mark.parametrize("rg,want_out,want_proc", [
    (("output",), True, False),
    (["output"], True, False),
    ("foo", True, False),               # invalid → defaults to output
    (("processor",), False, True),
    (["output", "processor"], True, True),
    ("output, processor", True, True),
    ("all", True, True),
])
def test_rdfagraph_option_modes(rg, want_out, want_proc):
    out, proc = _rg_parse(rg)
    assert _has_output(out) == want_out, (rg, sorted(out))
    assert bool(proc) == want_proc, (rg, proc[:3])


# --- xml:base host-language matrix (reader_spec.rb:485-543) ----------

_XMLBASE_USES = {"xml": True, "xhtml1": False, "html4": False,
                 "html5": False, "xhtml5": True, "svg": True}

_XB_ROOT = """<div xml:base="http://example/">
    <span property="rdf:value">Value</span>
  </div>
"""
_XB_NONROOT = """<div xml:base="http://example/">
    <a xml:base="http://example/" property="rdf:value" href="">Value</a>
  </div>
"""


@pytest.mark.parametrize("hl,does", sorted(_XMLBASE_USES.items()))
def test_xmlbase_root(hl, does):
    out, _, _ = parse_rdfa(_XB_ROOT, url="http://example/doc_base",
                           version="rdfa1.1", host_language=hl)
    base = "http://example/" if does else "http://example/doc_base"
    want = {(iri(base), iri(RDF_VALUE), literal("Value"))}
    assert isomorphic(set(out), want), sorted(out)


@pytest.mark.parametrize("hl,does", sorted(_XMLBASE_USES.items()))
def test_xmlbase_nonroot(hl, does):
    out, _, _ = parse_rdfa(_XB_NONROOT, url="http://example/doc_base",
                           version="rdfa1.1", host_language=hl)
    base = "http://example/" if does else "http://example/doc_base"
    want = {(iri(base), iri(RDF_VALUE), iri(base))}
    assert isomorphic(set(out), want), sorted(out)


# --- malformed datatypes (reader_spec.rb:586-617) --------------------
# validate:false keeps the triple with the invalid lexical form; we
# have no validating mode (the pipeline never aborts a document), so
# only that branch applies.

_MALFORMED = [
    ("boolean", "foo"),
    *[("date", x) for x in
      "+2010-01-01Z 2010-01-01TFOO 02010-01-01 2010-1-1 0000-01-01 "
      "2011-07 2011".split()],
    *[("dateTime", x) for x in
      "+2010-01-01T00:00:00Z 2010-01-01T00:00:00FOO 02010-01-01T00:00:00 "
      "2010-01-01 2010-1-1T00:00:00 0000-01-01T00:00:00 2011-07 "
      "2011".split()],
    ("decimal", "12.xyz"),
    *[("double", x) for x in ("xy.z", "+1.0z")],
    *[("integer", x) for x in ("+1.0z", "foo")],
    *[("time", x) for x in ("+00:00:00Z", "-00:00:00Z", "00:00", "00")],
]


@pytest.mark.parametrize("local,value", _MALFORMED,
                         ids=["%s_%s" % m for m in _MALFORMED])
def test_malformed_datatype_kept(local, value):
    html = ('<span about="" property="rdf:value" datatype="xsd:%s" '
            'content="%s"/>' % (local, value))
    out, _, _ = parse_rdfa(html, url=NEUTRAL)
    want = {(iri(NEUTRAL), iri(RDF_VALUE),
             literal(value, None, XSD_NS + local))}
    assert set(out) == want, sorted(out)


# --- :rdfagraph processor-graph cases (reader_spec.rb:1841-1924) -----

def _processor(html):
    _, proc, _ = parse_rdfa(html, url=NEUTRAL, rdfagraph=("processor",))
    return proc


def _ask_class(proc, cls):
    return ask(proc, [
        (v("s"), iri(RDF_TYPE), iri(cls)),
        (v("s"), iri(DC_DESCRIPTION), None),
    ])


def test_rdfagraph_error_on_malformed_content():
    html = "<!DOCTYPE html>\n  <div Invalid markup\n"
    assert _ask_class(_processor(html), RDFA_ERROR)


def test_rdfagraph_unresolved_curie():
    html = ('<!DOCTYPE html>\n<div property="rdf:value" '
            'resource="[undefined:curie]">Undefined Curie</div>')
    assert _ask_class(_processor(html), RDFA_UNRESOLVED_CURIE)


@pytest.mark.parametrize("prefix", ["\x01foo", "foo\x01", "$foo"])
def test_rdfagraph_malformed_prefix(prefix):
    html = ('<!DOCTYPE html>\n<div prefix="%s: http://example/" '
            'property="rdf:value" resource="[%s:malformed]">'
            "Malformed Prefix</div>" % (prefix, prefix))
    assert _ask_class(_processor(html), RDFA_UNRESOLVED_CURIE)


# --- @vocab term validity (reader_spec.rb:673-711) -------------------
# valid terms expand against @vocab; invalid ones (CURIE-looking,
# non-NCName-start, backslash junk) must NOT produce the vocab IRI.

_TERM_ACCEPT = ["term", "A/B", "a09b", "a_b", "a.b"]
# NB: the spec's last reject is %q with a backslash-u escape; Ruby %q
# keeps the backslash literally, so the term under test is the
# 9-char string backslash-u-0-3-0-1-f-o-o
_TERM_REJECT = ["prefix:suffix", "/path", "1leading_numeric",
                "\\u0301foo"]


def _vocab_term_triples(term):
    html = ('<span vocab="http://example/" property="%s">Foo</span>' % term)
    out, _, _ = parse_rdfa(html, url="http://example/")
    return set(out)


@pytest.mark.parametrize("term", _TERM_ACCEPT)
def test_vocab_term_accepted(term):
    got = _vocab_term_triples(term)
    assert (iri("http://example/"), iri("http://example/" + term),
            literal("Foo")) in got, sorted(got)


@pytest.mark.parametrize("term", _TERM_REJECT)
def test_vocab_term_rejected(term):
    got = _vocab_term_triples(term)
    assert (iri("http://example/"), iri("http://example/" + term),
            literal("Foo")) not in got, sorted(got)


def test_rdfagraph_unresolved_term():
    html = ('<!DOCTYPE html>\n<div property="undefined_term">'
            "Undefined Term</div>")
    assert _ask_class(_processor(html), RDFA_UNRESOLVED_TERM)
