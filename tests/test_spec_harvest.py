"""Exhaustive reader_spec.rb golden tables, harvested at test time.

Covers the hash-table specs that tests/test_walk_goldens*.py only
sampled: @inlist (reader_spec.rb:713-871), the @property mega-table
(:872-1298), @rel/@rev × host language (:1299-1338), @role
(:1339-1410), problematic examples (:1411-1519), script handoff
(:1553-1840), SafeCURIEorCURIEorIRI (:327-360) and empty CURIE
(:544-585).  Input HTML runs through our parser; expected Turtle runs
through our Turtle parser; graphs compare isomorphically — the same
shape as the reference's parse + be_equivalent_graph.
"""

from __future__ import annotations

import os

import pytest

from graph_match import isomorphic
from rdf_rdfa_spark.rdfa.ntriples import parse_turtle
from rdf_rdfa_spark.rdfa.walk import parse_rdfa

from spec_harvest import SPEC, harvest_table

pytestmark = pytest.mark.skipif(
    not os.path.exists(SPEC), reason="reference spec not available"
)

# The spec's parse() runs many tables with no base_uri; relative IRIs
# then stay relative on both sides.  We instead give BOTH sides the
# same neutral base — resolution is identical, so isomorphism is
# unaffected.
NEUTRAL = "http://spec.example/doc"

# Cases whose behavior is a documented deviation (SURVEY.md §2 /
# FIXTURES.md): name -> reason.
SKIP: dict = {}


def _check(input_html, expected_ttl, base=None, host_language=None,
           version=None, preamble="", wrap=False):
    base = base or NEUTRAL
    html = "<html>%s</html>" % input_html if wrap else input_html
    out, _proc, _root = parse_rdfa(
        html, url=base, host_language=host_language, version=version)
    want = parse_turtle(preamble + expected_ttl, base=base)
    got = set(out)
    want = set(want)
    assert isomorphic(got, want), "\ngot:  %s\nwant: %s" % (
        sorted(got), sorted(want))


def _params(anchor):
    cases = harvest_table(anchor)
    return pytest.mark.parametrize(
        "name,lits", cases, ids=[k.replace(" ", "_") for k, _ in cases])


@_params("context :SafeCURIEorCURIEorIRI do")
def test_safecurie(name, lits):
    # reader_spec.rb:353-358: parse(input), no base
    _check(lits[0], lits[1])


@_params('context "@inlist" do')
def test_inlist(name, lits):
    # reader_spec.rb:865-869: base_uri http://example/
    _check(lits[0], lits[1], base="http://example/")


@_params('context "@property" do')
def test_property(name, lits):
    # reader_spec.rb:1292-1296: base_uri http://example/
    _check(lits[0], lits[1], base="http://example/")


_RELREV_PREAMBLE = """
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix xhv: <http://www.w3.org/1999/xhtml/vocab#> .
@prefix cc: <http://creativecommons.org/ns#> .
"""


@_params('context "with @rel/@rev" do')
@pytest.mark.parametrize("hl,idx", [("xhtml1", 1), ("xhtml5", 2)])
def test_relrev(name, lits, hl, idx):
    # reader_spec.rb:1316-1337: same input, per-host-language expected
    _check(lits[0], lits[idx], host_language=hl,
           preamble=_RELREV_PREAMBLE)


@_params('context "@role" do')
def test_role(name, lits):
    # reader_spec.rb:1403-1407: parse(input), no base
    _check(lits[0], lits[1])


@_params('context "problematic examples" do')
def test_problematic(name, lits):
    # reader_spec.rb:1512-1517: parse(html, validate: false), no base
    _check(lits[0], lits[1])


@_params('context "script" do')
def test_script(name, lits):
    # reader_spec.rb:1812-1816: base_uri http://example/
    _check(lits[0], lits[1], base="http://example/")


@_params('describe "empty CURIE" do')
def test_empty_curie(name, lits):
    # reader_spec.rb:579-583: parse("<html>#{html}</html>",
    # version: rdfa1.1)
    _check(lits[0], lits[1], version="rdfa1.1", wrap=True)
