"""Harvested tables from the reference's expansion_spec.rb and
context_spec.rb, evaluated at test time (same pattern as
test_spec_harvest.py over reader_spec.rb).

- expansion_spec :entailment / :expand / :copy_properties hash tables
  → our T-box closure entailment (rdfa.vocab.tbox_closures) and
  the walker's rdfa:copy fold, checked with the BGP ASK evaluator the
  reference's pass_query matcher implies (expansion_spec.rb:56-67).
- context_spec initial-context cardinalities → rdfa.contexts.
"""

from __future__ import annotations

import os
import re
import types

import pytest

from spec_harvest import harvest_hash_table

from rdf_rdfa_spark.rdfa.bgp import ask
from rdf_rdfa_spark.rdfa.contexts import initial_context
from rdf_rdfa_spark.rdfa.ntriples import parse_turtle
from rdf_rdfa_spark.rdfa.terms import RDF_TYPE
from rdf_rdfa_spark.rdfa.vocab import tbox_closures
from rdf_rdfa_spark.rdfa.walk import RdfaWalker

EXPANSION = "/root/reference/spec/expansion_spec.rb"

pytestmark = pytest.mark.skipif(
    not os.path.exists(EXPANSION), reason="reference spec not available")

EXP = "http://example.org/vocab#"
FOAF = "http://xmlns.com/foaf/0.1/"
OWL = "http://www.w3.org/2002/07/owl#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"

# the prefix environment ExpansionTester#parse supplies (expansion_spec
# .rb:74-86); the empty prefix maps to EXP
_PREAMBLE = "".join(
    "@prefix %s: <%s> .\n" % (p, ns) for p, ns in {
        "dc": "http://purl.org/dc/terms/",
        "foaf": FOAF,
        "owl": OWL,
        "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
        "rdfa": "http://www.w3.org/ns/rdfa#",
        "rdfs": RDFS,
        "xsd": "http://www.w3.org/2001/XMLSchema#",
        "exp": EXP,
    }.items()
)

# the EXP test vocabulary (expansion_spec.rb:3-8)
EXP_TBOX = [
    (EXP + "name", RDFS + "subPropertyOf", FOAF + "name"),
    (EXP + "namee", OWL + "equivalentProperty", FOAF + "name"),
    (EXP + "Person", RDFS + "subClassOf", FOAF + "Person"),
    (EXP + "Persone", OWL + "equivalentClass", FOAF + "Person"),
]

_TBOX_RELS = {RDFS + "subPropertyOf", RDFS + "subClassOf",
              OWL + "equivalentProperty", OWL + "equivalentClass"}


def _ttl(body: str):
    # empty-prefix pnames (":a") → exp: (the ruby parser binds nil→EXP)
    body = re.sub(r"(?<![\w:<])(:)([A-Za-z_][\w-]*)", r"exp:\2", body)
    return parse_turtle(_PREAMBLE + body)


def _entail_py(triples, tbox_rows):
    """Closure-then-one-pass entailment — the same semantics as the
    production pipeline.expand.entail (closure makes one pass ≡ the
    reference's fixpoint, expansion.rb:219-232)."""
    prop_pairs, class_pairs = tbox_closures(tbox_rows)
    out = set(triples)
    for (s, p, o) in list(out):
        for (p1, p2) in prop_pairs:
            if p[1] == p1:
                out.add((s, ("iri", p2), o))
        if p[1] == RDF_TYPE and o[0] == "iri":
            for (c1, c2) in class_pairs:
                if o[1] == c1:
                    out.add((s, p, ("iri", c2)))
    return out


def _ask_all(graph, query_body: str) -> bool:
    """pass_query semantics: conjunctive ASK of the query triples with
    bnodes as variables."""
    patterns = []
    for (s, p, o) in _ttl(query_body):
        patterns.append(tuple(
            ("var", t[1]) if t[0] == "bnode" else t for t in (s, p, o)))
    return ask(graph, patterns)


_ENTAIL_CASES = dict(harvest_hash_table("describe :entailment", EXPANSION))


@pytest.mark.parametrize("name", sorted(_ENTAIL_CASES))
def test_entailment_case(name):
    case = _ENTAIL_CASES[name]
    got = _entail_py(_ttl(case["default"]), EXP_TBOX)
    assert _ask_all(got, case["query"]), (name, sorted(got, key=repr))


_EXPAND_CASES = dict(harvest_hash_table("describe :expand", EXPANSION))


@pytest.mark.parametrize("name", sorted(_EXPAND_CASES))
def test_expand_case(name):
    """expand: rdfa:usesVocabulary triggers vocabulary-driven
    entailment. The reference resolves the vocabulary from its
    registered Ruby EXP class (ExpansionTester#load ignores the
    URL-keyed ttl — it only documents the rule under test), so the
    full EXP T-box is in play; the inline rows must be a subset."""
    case = _EXPAND_CASES[name]
    inline = []
    for key, ttl in case.items():
        if key.startswith("http"):
            inline += [(s[1], p[1], o[1]) for (s, p, o) in _ttl(ttl)
                       if p[1] in _TBOX_RELS]
    # the documented rule rows all come from the EXP vocabulary
    # (modulo equivalence direction, which is symmetric)
    for (s, p, o) in inline:
        assert (s, p, o) in EXP_TBOX or (o, p, s) in EXP_TBOX \
            or p in (OWL + "equivalentClass", OWL + "equivalentProperty"), \
            (name, (s, p, o))
    got = _entail_py(_ttl(case["default"]), EXP_TBOX)
    assert _ask_all(got, case["query"]), (name, sorted(got, key=repr))


_COPY_CASES = dict(harvest_hash_table("describe :copy_properties", EXPANSION))


@pytest.mark.parametrize("name", sorted(_COPY_CASES))
def test_copy_properties_case(name):
    case = _COPY_CASES[name]
    state = types.SimpleNamespace(
        triples=dict.fromkeys(_ttl(case["default"])))
    RdfaWalker.fold(state)
    got = set(state.triples)
    assert _ask_all(got, case["query"]), (name, sorted(got, key=repr))
    # fold also REMOVES the pattern machinery (expansion.rb:181-190)
    assert not any("rdfa#copy" in p[1] or "rdfa#Pattern" in o[1]
                   for (s, p, o) in got if o[0] == "iri"), sorted(got, key=repr)


# --- context_spec cardinalities (context_spec.rb:27-87) ---------------------

def test_context_rdfa11_core():
    prefixes, terms, vocab = initial_context("xml", "rdfa1.1")
    assert len(terms) == 3          # describedby, license, role
    assert vocab is None
    assert len(prefixes) >= 10


def test_context_xhtml_rdfa11():
    from rdf_rdfa_spark.rdfa.contexts import XHTML_TERMS

    core_p, core_t, _ = initial_context("xml", "rdfa1.1")
    prefixes, terms, vocab = initial_context("xhtml1", "rdfa1.1")
    # the xhtml context itself carries exactly 25 terms and 0 prefixes
    # (context_spec.rb:66-87); the merged initial context is core ∪
    # xhtml (license overlaps, same IRI)
    assert len(XHTML_TERMS) == 25
    assert set(terms) == set(core_t) | set(XHTML_TERMS)
    assert vocab is None
    assert prefixes == core_p


def test_context_html_rdfa11():
    core_p, core_t, _ = initial_context("xml", "rdfa1.1")
    prefixes, terms, vocab = initial_context("html5", "rdfa1.1")
    # html context adds NOTHING beyond core+xhtml terms per the spec
    assert vocab is None
    assert prefixes == core_p


# --- exact parity with the reference's interned context files ---------------

_CTX_DIR = "/root/reference/lib/rdf/rdfa/context"
_CTX_ENTRY = re.compile(r"^\s+(\w+):\s+\"([^\"]+)\",?\s*$", re.M)


def _ref_context(fname: str):
    src = open(os.path.join(_CTX_DIR, fname)).read()
    out = {"prefixes": {}, "terms": {}}
    section = None
    for line in src.splitlines():
        if "prefixes: {" in line:
            section = "prefixes"
        elif "terms: {" in line:
            section = "terms"
        elif line.strip() in ("},", "}"):
            section = None
        elif section:
            m = _CTX_ENTRY.match(line)
            if m:
                out[section][m.group(1)] = m.group(2)
    return out


def test_core_context_matches_interned_xml_rb():
    ref = _ref_context("xml.rb")
    prefixes, terms, vocab = initial_context("xml", "rdfa1.1")
    assert terms == ref["terms"]
    # the writer drops the dcterms alias (dc wins); the reader keeps
    # both spellings — compare the full map here
    assert prefixes == ref["prefixes"], (
        set(prefixes) ^ set(ref["prefixes"]))
    assert vocab is None


def test_xhtml_context_matches_interned_xhtml_rb():
    from rdf_rdfa_spark.rdfa.contexts import XHTML_TERMS

    ref = _ref_context("xhtml.rb")
    assert XHTML_TERMS == ref["terms"]
    assert ref["prefixes"] == {}


def test_html_context_matches_interned_html_rb():
    ref = _ref_context("html.rb")
    assert ref["terms"] == {} and ref["prefixes"] == {}
