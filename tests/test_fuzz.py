"""Property-based fuzzing (hypothesis) for the parser front door:
never crash, be deterministic, and keep the fast single-regex
tokenizer byte-equivalent to the stdlib html.parser path on
adversarial tag soup (the corpus-wide equivalence test covers
realistic pages; this explores the hostile corners)."""

import pytest
from hypothesis import given, settings, strategies as st

from rdf_rdfa_spark.rdfa import dom
from rdf_rdfa_spark.rdfa.dom import parse_html
from rdf_rdfa_spark.rdfa.walk import RdfaWalker, parse_rdfa

_TAGS = ["div", "span", "p", "a", "li", "svg", "rdf:RDF", "script", "b"]
_ATTRS = ["about", "property", "rel", "resource", "typeof", "href",
          "content", "datatype", "prefix", "vocab", "itemscope",
          "itemprop", "itemtype", "xml:lang", "xmlns:ex", "id", "itemref"]
_VALS = ["", "x", "schema:name", "[_:b0]", "http://ex.org/a b",
         "ex: http://ex.org/", "&amp;", "<", '"', "rdf:XMLLiteral",
         "http://schema.org/Thing", "é中", "a" * 300, "x>y"]


def _reset_token_caches():
    dom._TAG_CACHE.clear()
    dom._END_CACHE.clear()


@pytest.fixture(autouse=True)
def cold_token_caches():
    """Each test starts from empty worker-lifetime tokenizer caches,
    so its outcome does not depend on what earlier tests parsed."""
    _reset_token_caches()
    yield
    _reset_token_caches()


@st.composite
def tag_soup(draw, wellformed_attrs=False, hostile=True):
    """``hostile=False`` limits to structurally complete (if deeply
    weird) markup: the stdlib fallback tokenizer predates HTML5 and
    recovers differently from pathological fragments (`<!-->`, lone
    `<!--`, truncated tag openers), so tokenizer EQUIVALENCE is only
    promised on the non-pathological space — the production fast path
    follows HTML5-style recovery everywhere."""
    n = draw(st.integers(1, 25))
    parts = []
    for _ in range(n):
        kind = draw(st.integers(0, 4 if hostile else 2))
        if kind == 0:
            tag = draw(st.sampled_from(_TAGS))
            vals = _VALS
            if wellformed_attrs:
                # hostile CONTENT but valid quoting — recovery from
                # malformed attr syntax (stray quotes) legitimately
                # differs between tokenizers (and Nokogiri again)
                vals = [v.replace('"', "&quot;") for v in _VALS]
            attrs = " ".join(
                '%s="%s"' % (draw(st.sampled_from(_ATTRS)),
                             draw(st.sampled_from(vals)))
                for _ in range(draw(st.integers(0, 3))))
            parts.append("<%s %s>" % (tag, attrs))
        elif kind == 1:
            parts.append("</%s>" % draw(st.sampled_from(_TAGS)))
        elif kind == 2:
            t = draw(st.text(max_size=20))
            if not hostile:
                t = t.replace("&", "&amp;").replace("<", "&lt;")
                parts.append(draw(st.sampled_from(
                    [t, "<!--%s-->" % t.replace("-", ""), "<script></script>",
                     "<script>var a = 1 < 2;</script>"])))
                continue
            parts.append(t)
        elif kind == 3:
            parts.append(draw(st.sampled_from(
                ["<!--x-->", "<![CDATA[y]]>", "<!DOCTYPE html>", "<?pi?>",
                 "<", ">", "&#60;", "&bogus;", "<!--", "<![CDATA["])))
        else:
            parts.append("<div about=")  # truncated opener
    return "".join(parts)


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=400))
def test_parse_rdfa_never_crashes_on_bytes(raw):
    out, proc, _ = parse_rdfa(raw, url="http://example.org/")
    assert isinstance(out, list) and isinstance(proc, list)


@settings(max_examples=80, deadline=None)
@given(tag_soup())
def test_parse_rdfa_deterministic(soup):
    doc = "<html><body>%s</body></html>" % soup
    a = parse_rdfa(doc, url="http://example.org/")[0]
    b = parse_rdfa(doc, url="http://example.org/")[0]
    assert a == b


@settings(max_examples=80, deadline=None)
@given(tag_soup(wellformed_attrs=True, hostile=False), st.integers(0, 2000))
def test_fast_tokenizer_equivalent_to_stdlib(soup, cut):
    doc = "<html><body>%s</body></html>" % soup

    def run(fast):
        root, _, _ = parse_html(doc, html_host=True, fast=fast)
        w = RdfaWalker("http://example.org/", host_language="html5")
        w.parse(root, source_text=doc)
        return list(w.triples)

    _reset_token_caches()
    cold = run(True)
    assert cold == run(False)
    # warm-cache ordering: a truncated copy of the page parsed in
    # between leaves the caches holding its tokens, and the page must
    # still parse the same afterwards
    parse_html(doc[:cut % (len(doc) + 1)], html_host=True)
    assert run(True) == cold


def test_token_cache_not_poisoned_by_truncated_page():
    """A quoted '>' makes the tag's slice up to its first '>' look like
    a whole token.  A truncated page ending in exactly that slice must
    not teach the cache that the token ends there."""
    good = ('<html><body><div vocab="http://schema.org/" typeof="Thing">'
            '<a title="x>y" href="h" property="url">t</a></div></body></html>')
    bad = '<html><body><div vocab="http://schema.org/"><a title="x>'

    def preds(doc):
        return {t[1] for t in parse_rdfa(doc, url="http://example.org/")[0]}

    first = preds(good)
    assert ("iri", "http://schema.org/url") in first, first
    preds(bad)
    assert preds(good) == first


def test_token_cache_capped_on_insert(monkeypatch):
    monkeypatch.setattr(dom, "_TOKEN_CACHE_MAX", 4)
    doc = "".join("<p id=\"%d\"></p><x%d>" % (i, i) for i in range(20))
    parse_html(doc, html_host=True)
    assert len(dom._TAG_CACHE) <= 4 and len(dom._END_CACHE) <= 4


def test_stdlib_path_unterminated_constructs_match_fast():
    # the concrete classes the fuzzer surfaced: HTML5 runs these to
    # EOF; the stdlib fallback is normalized via _eof_closer
    cases = [
        '<div property="schema:name">a<!--<div property="schema:desc">b',
        '<div property="schema:name">a<script >rest',
        '<div property="schema:name"><!--<![CDATA[',
        '<div property="schema:name">x<style>p{}',
    ]
    for soup in cases:
        doc = "<html><body>%s</body></html>" % soup

        def run(fast):
            root, _, _ = parse_html(doc, html_host=True, fast=fast)
            w = RdfaWalker("http://example.org/", host_language="html5")
            w.parse(root, source_text=doc)
            return list(w.triples)

        assert run(True) == run(False), soup


# --- writer round-trip property ----------------------------------------

_IRIS = ["http://ex.org/a", "http://ex.org/b", "http://schema.org/name",
         "http://ex.org/p?q=1&r=2", "urn:x:y", "http://ex.org/é"]
_LEX = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
    max_size=40,
) | st.sampled_from(
    ["", " lead", "trail ", 'quo"te', "<not<tag>", "a&amp;b", "中",
     "line\nbreak", "x " * 10])
_DTS = [None, "http://www.w3.org/2001/XMLSchema#integer",
        "http://ex.org/custom", "http://www.w3.org/2001/XMLSchema#date"]


@st.composite
def small_graph(draw):
    from rdf_rdfa_spark.rdfa.terms import bnode, iri, literal

    n = draw(st.integers(1, 12))
    triples = set()
    for _ in range(n):
        s = draw(st.sampled_from(_IRIS[:3])
                 | st.builds(bnode, st.sampled_from(["x", "y", "z"])))
        if isinstance(s, str):
            s = iri(s)
        p = iri(draw(st.sampled_from(_IRIS)))
        kind = draw(st.integers(0, 3))
        if kind == 0:
            o = iri(draw(st.sampled_from(_IRIS)))
        elif kind == 1:
            o = bnode(draw(st.sampled_from(["x", "y", "z"])))
        elif kind == 2:
            o = literal(draw(_LEX), draw(st.sampled_from([None, "en", "de"])))
        else:
            o = literal(draw(_LEX), None, draw(st.sampled_from(_DTS)))
        triples.add((s, p, o))
    return sorted(triples, key=repr)


@settings(max_examples=150, deadline=None)
@given(small_graph())
def test_writer_roundtrip_fuzz(graph):
    """Any small graph (hostile literals included) serializes to RDFa
    that re-parses to an isomorphic graph."""
    from rdf_rdfa_spark.rdfa.bgp import isomorphic
    from rdf_rdfa_spark.writer import serialize_rdfa

    html = serialize_rdfa(graph)
    out, _, _ = parse_rdfa(html, url="http://fuzz.example/doc")
    assert isomorphic(set(out), set(graph)), "\n%s\ngot:  %s\nwant: %s" % (
        html, sorted(out, key=repr), sorted(graph, key=repr))


@st.composite
def list_graph(draw):
    """Graphs containing rdf:List spines in hostile shapes: shared
    heads, multiple lists per predicate, externally referenced cells,
    impure cells — the folding-safety surface."""
    from rdf_rdfa_spark.rdfa.terms import bnode, iri, literal

    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    first, rest, nil = iri(RDF + "first"), iri(RDF + "rest"), iri(RDF + "nil")
    triples = set()
    heads = []
    for li in range(draw(st.integers(1, 3))):
        n_items = draw(st.integers(0, 3))
        cells = [bnode("l%d_%d" % (li, i)) for i in range(n_items)]
        for i, c in enumerate(cells):
            triples.add((c, first, literal(draw(_LEX))))
            triples.add((c, rest, cells[i + 1] if i + 1 < n_items else nil))
            if draw(st.booleans()) and draw(st.integers(0, 4)) == 0:
                # impure cell: extra triple on the spine
                triples.add((c, iri(_IRIS[0]), literal("extra")))
        heads.append(cells[0] if cells else nil)
    subj = iri("http://ex.org/s")
    for h in heads:
        pred = iri(draw(st.sampled_from(_IRIS[:3])))
        triples.add((subj, pred, h))
    if draw(st.booleans()) and heads and heads[0][0] == "bnode":
        # shared head from a second predicate
        triples.add((subj, iri(_IRIS[3]), heads[0]))
    if draw(st.booleans()):
        # external pointer INTO a spine cell
        cell_bnodes = [t[0] for t in triples if t[0][0] == "bnode"]
        if cell_bnodes:
            triples.add((iri("http://ex.org/z"), iri(_IRIS[4]),
                         draw(st.sampled_from(sorted(cell_bnodes, key=repr)))))
    return sorted(triples, key=repr)


@settings(max_examples=120, deadline=None)
@given(list_graph())
def test_writer_list_roundtrip_fuzz(graph):
    """rdf:List shapes (shared heads, multi-list predicates, impure and
    externally referenced cells) always round-trip isomorphically —
    the @inlist folding safety property."""
    from rdf_rdfa_spark.rdfa.bgp import isomorphic
    from rdf_rdfa_spark.writer import serialize_rdfa

    html = serialize_rdfa(graph)
    out, _, _ = parse_rdfa(html, url="http://fuzz.example/doc")
    assert isomorphic(set(out), set(graph)), "\n%s\ngot:  %s\nwant: %s" % (
        html, sorted(out, key=repr), sorted(graph, key=repr))


_XML_FRAGS = st.recursive(
    _LEX.map(lambda s: s.replace("<", "&lt;").replace("]]>", "")),
    lambda kids: st.builds(
        lambda tag, attr, inner: "<%s%s>%s</%s>" % (
            tag, (' class="%s"' % attr) if attr else "", inner, tag),
        st.sampled_from(["b", "sup", "em", "span", "code"]),
        st.sampled_from(["", "x", "y z"]),
        st.lists(kids, max_size=3).map("".join)),
    max_leaves=6)


@settings(max_examples=100, deadline=None)
@given(st.lists(_XML_FRAGS, max_size=3).map("".join),
       st.sampled_from([None, "en"]))
def test_xmlliteral_write_read_fixed_point(frag, lang):
    """write→read is a FIXED POINT for XMLLiterals from any source:
    one round may canonicalize (inject xmlns/xml:lang, normalize
    escapes), but the canonical form then round-trips byte-exact."""
    from rdf_rdfa_spark.rdfa.terms import iri, literal
    from rdf_rdfa_spark.writer import serialize_rdfa

    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    g = [(iri("http://ex.org/a"), iri("http://ex.org/p"),
          literal(frag, None, RDF + "XMLLiteral"))]
    html = serialize_rdfa(g, lang=lang)
    out1, _, _ = parse_rdfa(html, url="http://fuzz.example/doc")
    assert len(out1) == 1, html
    # second round: the canonicalized graph must be exactly stable
    html2 = serialize_rdfa(list(out1), lang=lang)
    out2, _, _ = parse_rdfa(html2, url="http://fuzz.example/doc")
    assert out2 == out1, "\n%s\n%s\n%r != %r" % (html, html2,
                                                 sorted(out2), sorted(out1))


def test_unterminated_tag_floods_parse_in_linear_time():
    """A no-'>' tail made the start-tag regex (whose NAME class admits
    '<') backtrack catastrophically: '<div'*20k took minutes before
    the memchr('>') guard in _fast_feed.  Pin linear-ish behavior for
    every token kind, and that a comment opener in the tail is still
    honored."""
    import time

    for probe in (b"<div" * 20000, b"</x" * 20000, b"<?p" * 20000,
                  b"<!x" * 20000, b"<div" * 5000 + b"<!--c" + b"<div" * 5000):
        t0 = time.time()
        out, proc, _ = parse_rdfa(probe, url="http://example.org/")
        assert out == []
        assert time.time() - t0 < 5.0, "quadratic parse on %r…" % probe[:8]
    # the bulk text path is byte-identical to the char-at-a-time path:
    # stray-tag garbage lands in the text, entities still decode
    doc = '<p property="schema:name">a&amp;b<oops<oops'
    (triples, _, _) = parse_rdfa(doc, url="http://example.org/")
    # the unterminated tail swallows the rest of the doc as text
    assert any("a&b<oops<oops" in t[2] for t in triples), triples
