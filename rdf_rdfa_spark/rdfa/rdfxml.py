"""Embedded RDF/XML subset reader (SURVEY S8; reader.rb:429-434).

The reference feeds documents containing ``rdf:RDF`` islands to the
full RDF::RDFXML reader. Crawled pages embed RDF/XML almost entirely
through two idioms — SVG ``<metadata>`` blocks (reader_spec.rb:1520)
and Creative-Commons license blocks — which use the core striped
grammar. This module implements that grammar subset, case-preserved
(RDF/XML is XML; the main RDFa DOM lowercases names for HTML
semantics, so islands are re-scanned from the source text with a
case-preserving tokenizer):

  nodeElement:      rdf:Description | typed node (QName → rdf:type)
                    rdf:about / rdf:ID / rdf:nodeID / fresh bnode
                    property attributes (incl. rdf:type attr)
  propertyElement:  rdf:resource / rdf:nodeID / rdf:datatype /
                    rdf:parseType = Resource | Literal | Collection /
                    nested nodeElement / text literal (xml:lang
                    inherited, also from ancestors OUTSIDE the island)
  containers:       rdf:li → rdf:_1, rdf:_2, ... per node element

Out of scope (warned upstream, never silent): reification (rdf:ID on
property elements), rdf:aboutEach/bagID (obsolete).
"""

from __future__ import annotations

import re

from .dom import _FAST_ATTR, _unescape
from .resolve import resolve
from .terms import RDF_NS, iri, literal

RDF_RDF = RDF_NS + "RDF"
RDF_DESCRIPTION = RDF_NS + "Description"
RDF_TYPE = RDF_NS + "type"
RDF_LI = RDF_NS + "li"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDF_XMLLITERAL = RDF_NS + "XMLLiteral"

# syntactic attributes that are NOT property attributes
_SYNTAX_ATTRS = frozenset((
    "about", "ID", "nodeID", "resource", "datatype", "parseType",
    "aboutEach", "aboutEachPrefix", "bagID", "li",
))

# cheap source-level detector: an rdf-namespaced document that
# mentions an :RDF element start
ISLAND_HINT_RE = re.compile(r"<[A-Za-z_][\w.\-]*:RDF[\s>/]")


def likely_has_rdfxml(text: str) -> bool:
    return "22-rdf-syntax-ns#" in text and ISLAND_HINT_RE.search(text) is not None


# the whole token grammar in one alternation (dom's HTML scanner uses
# per-kind regexes for the same grammar)
_FAST_TOKEN = re.compile(
    r"<!--(?P<comment>.*?)(?:-->|$)"
    r"|<!\[CDATA\[(?P<cdata>.*?)(?:\]\]>|$)"
    r"|<!(?P<decl>[^>]*)>"
    r"|<\?(?P<pi>[^>]*)>"
    r"|</(?P<end>[A-Za-z][^\s>]*)\s*>"
    r"|<(?P<start>[A-Za-z][^\t\n\r\f />]*)"
    r"(?P<attrs>(?:\"[^\"]*\"|'[^']*'|[^>])*?)(?P<selfclose>/?)>",
    re.S,
)


class XNode:
    __slots__ = ("name", "attrs", "children")

    def __init__(self, name, attrs):
        self.name = name          # case-preserved QName
        self.attrs = attrs        # case-preserved names
        self.children = []        # XNode | str


def parse_xml_preserving(text: str) -> XNode:
    """Forgiving well-formed-ish XML parse, CASE-PRESERVED. Returns a
    synthetic root whose children are the document's top-level nodes.
    Mirrors dom._fast_feed's tokenizer without HTML tag semantics."""
    root = XNode("#doc", {})
    stack = [root]
    pos, n = 0, len(text)
    while pos < n:
        lt = text.find("<", pos)
        if lt < 0:
            data = text[pos:]
            if data:
                stack[-1].children.append(
                    _unescape(data) if "&" in data else data)
            break
        if lt > pos:
            data = text[pos:lt]
            stack[-1].children.append(_unescape(data) if "&" in data else data)
        m = _FAST_TOKEN.match(text, lt)
        if m is None:
            stack[-1].children.append("<")
            pos = lt + 1
            continue
        pos = m.end()
        (comment, cdata, decl, pi, end_tag, start_tag, raw_attrs,
         selfclose) = m.groups()
        if start_tag is not None:
            attrs = {}
            for am in _FAST_ATTR.finditer(raw_attrs or ""):
                name, _q, v1, v2, v3 = am.groups()
                val = v1 if v1 is not None else (v2 if v2 is not None else v3)
                if val is None:
                    val = ""
                elif "&" in val:
                    val = _unescape(val)
                attrs.setdefault(name, val)
            el = XNode(start_tag, attrs)
            stack[-1].children.append(el)
            if not selfclose:
                stack.append(el)
        elif end_tag is not None:
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].name == end_tag:
                    del stack[i:]
                    break
        elif cdata is not None:
            stack[-1].children.append(cdata)
        # comments / decls / PIs dropped
    return root


def _serialize(node) -> str:
    if isinstance(node, str):
        return (node.replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;"))
    out = ["<%s" % node.name]
    for k, v in node.attrs.items():
        out.append(' %s="%s"' % (k, v.replace("&", "&amp;")
                                 .replace('"', "&quot;").replace("<", "&lt;")))
    if node.children:
        out.append(">")
        out.extend(_serialize(c) for c in node.children)
        out.append("</%s>" % node.name)
    else:
        out.append("/>")
    return "".join(out)


def _inner_text(node) -> str:
    parts = []
    stack = [node]
    while stack:
        cur = stack.pop()
        for c in reversed(cur.children):
            if isinstance(c, str):
                parts.append(c)
            else:
                stack.append(c)
    return "".join(parts)


class _Env:
    __slots__ = ("ns", "base", "lang")

    def __init__(self, ns, base, lang):
        self.ns = ns
        self.base = base
        self.lang = lang

    def child(self, el: XNode) -> "_Env":
        ns, base, lang = self.ns, self.base, self.lang
        for k, v in el.attrs.items():
            if k == "xmlns":
                ns = {**ns, "": v}
            elif k.startswith("xmlns:"):
                ns = {**ns, k[6:]: v}
            elif k == "xml:base":
                base = resolve(base, v.split("#")[0])
            elif k == "xml:lang":
                lang = v or None
        if ns is self.ns and base is self.base and lang is self.lang:
            return self
        return _Env(ns, base, lang)


class _Reader:
    def __init__(self, bnode_factory):
        self.bnode = bnode_factory
        self.triples = []

    def _expand(self, qname: str, env: _Env):
        """QName → IRI via in-scope namespaces; None if unresolvable."""
        if ":" in qname:
            prefix, local = qname.split(":", 1)
            ns = env.ns.get(prefix)
        else:
            ns, local = env.ns.get(""), qname
        if not ns:
            return None
        return ns + local

    def _emit(self, s, p, o):
        self.triples.append((s, p, o))

    # --- nodeElement (RDF/XML §7.2.11) --------------------------------
    def node_element(self, el: XNode, env: _Env):
        env = env.child(el)
        a = el.attrs
        if "rdf:about" in a:
            subj = iri(resolve(env.base, a["rdf:about"]))
        elif "rdf:ID" in a:
            subj = iri(resolve(env.base, "#" + a["rdf:ID"]))
        elif "rdf:nodeID" in a:
            subj = self.bnode(a["rdf:nodeID"])
        else:
            subj = self.bnode()

        name_iri = self._expand(el.name, env)
        if name_iri and name_iri != RDF_DESCRIPTION:
            self._emit(subj, iri(RDF_TYPE), iri(name_iri))

        # property attributes
        for k, v in a.items():
            if k.startswith("xml") or k == "xmlns":
                continue
            if k.startswith("rdf:") and k[4:] in _SYNTAX_ATTRS:
                continue
            p = self._expand(k, env) if ":" in k else None
            if p is None:
                continue
            if p == RDF_TYPE:
                self._emit(subj, iri(RDF_TYPE), iri(resolve(env.base, v)))
            else:
                self._emit(subj, iri(p), literal(v, env.lang))

        li = [0]
        for c in el.children:
            if isinstance(c, XNode):
                self.property_element(c, subj, env, li)
        return subj

    # --- propertyElement (§7.2.13-7.2.20) ------------------------------
    def property_element(self, el: XNode, subj, env: _Env, li_counter):
        env = env.child(el)
        a = el.attrs
        p = self._expand(el.name, env)
        if p is None:
            return
        if p == RDF_LI:
            li_counter[0] += 1
            p = RDF_NS + "_%d" % li_counter[0]
        pred = iri(p)

        parse_type = a.get("rdf:parseType")
        elem_children = [c for c in el.children if isinstance(c, XNode)]

        if parse_type == "Literal":
            lex = "".join(_serialize(c) for c in el.children)
            self._emit(subj, pred, literal(lex, None, RDF_XMLLITERAL))
        elif parse_type == "Resource":
            b = self.bnode()
            self._emit(subj, pred, b)
            li = [0]
            for c in elem_children:
                self.property_element(c, b, env, li)
        elif parse_type == "Collection":
            items = [self.node_element(c, env) for c in elem_children]
            head = iri(RDF_NIL)
            if items:
                cells = [self.bnode() for _ in items]
                head = cells[0]
                for i, (cell, item) in enumerate(zip(cells, items)):
                    self._emit(cell, iri(RDF_FIRST), item)
                    nxt = cells[i + 1] if i + 1 < len(cells) else iri(RDF_NIL)
                    self._emit(cell, iri(RDF_REST), nxt)
            self._emit(subj, pred, head)
        elif "rdf:resource" in a:
            self._emit(subj, pred, iri(resolve(env.base, a["rdf:resource"])))
            self._property_attrs_on_empty(el, subj, pred, env, resource=True)
        elif "rdf:nodeID" in a:
            self._emit(subj, pred, self.bnode(a["rdf:nodeID"]))
        elif elem_children:
            obj = self.node_element(elem_children[0], env)
            self._emit(subj, pred, obj)
        else:
            prop_attrs = [
                (k, v) for k, v in a.items()
                if not k.startswith("xml") and k != "xmlns"
                and not (k.startswith("rdf:") and k[4:] in _SYNTAX_ATTRS)
                and ":" in k
            ]
            if prop_attrs and not _inner_text(el).strip():
                # §7.2.21 empty property element with property attrs
                b = self.bnode()
                self._emit(subj, pred, b)
                for k, v in prop_attrs:
                    pa = self._expand(k, env)
                    if pa == RDF_TYPE:
                        self._emit(b, iri(RDF_TYPE), iri(resolve(env.base, v)))
                    elif pa:
                        self._emit(b, iri(pa), literal(v, env.lang))
            else:
                dt = a.get("rdf:datatype")
                lex = _inner_text(el)
                if dt:
                    self._emit(subj, pred, literal(lex, None, resolve(env.base, dt)))
                else:
                    self._emit(subj, pred, literal(lex, env.lang))

    def _property_attrs_on_empty(self, el, subj, pred, env, resource=False):
        # property attributes alongside rdf:resource describe the
        # OBJECT (§7.2.21); rare — emitted against the resource IRI
        obj = iri(resolve(env.base, el.attrs["rdf:resource"]))
        for k, v in el.attrs.items():
            if k.startswith("xml") or k == "xmlns" or ":" not in k:
                continue
            if k.startswith("rdf:") and k[4:] in _SYNTAX_ATTRS:
                continue
            pa = self._expand(k, env)
            if pa == RDF_TYPE:
                self._emit(obj, iri(RDF_TYPE), iri(resolve(env.base, v)))
            elif pa:
                self._emit(obj, iri(pa), literal(v, env.lang))


def extract_embedded_rdfxml(text: str, base: str | None, bnode_factory,
                            language: str | None = None):
    """Scan ``text`` (the ORIGINAL document source, case intact) for
    rdf:RDF islands and read each with the subset grammar. Namespace,
    xml:base and xml:lang declarations on ancestors OUTSIDE the island
    stay in scope (the SVG metadata idiom, reader_spec.rb:1520-1552).
    Returns a list of (subject, predicate, object) term tuples."""
    doc = parse_xml_preserving(text)
    reader = _Reader(bnode_factory)
    stack = [(doc, _Env({"xml": "http://www.w3.org/XML/1998/namespace"},
                        base, language))]
    while stack:
        node, env = stack.pop()
        for c in node.children:
            if not isinstance(c, XNode):
                continue
            # script payloads are TEXT in an HTML parse (the reference's
            # //rdf:RDF xpath never matches inside them; they go through
            # the application/rdf+xml script handler instead) — skip,
            # or script-embedded islands would be extracted twice with
            # distinct bnodes
            if c.name.lower() == "script":
                continue
            cenv = env.child(c)
            if reader._expand(c.name, cenv) == RDF_RDF:
                for nc in c.children:
                    if isinstance(nc, XNode):
                        reader.node_element(nc, cenv)
            else:
                stack.append((c, cenv))
    return reader.triples


def parse_rdfxml(text: str, base: str | None, bnode_factory,
                 language: str | None = None):
    """Standalone RDF/XML document/fragment (e.g. a
    ``<script type="application/rdf+xml">`` payload). Accepts either a
    full rdf:RDF document or bare node elements."""
    doc = parse_xml_preserving(text)
    reader = _Reader(bnode_factory)
    env = _Env({"xml": "http://www.w3.org/XML/1998/namespace"},
               base, language)
    for c in doc.children:
        if not isinstance(c, XNode):
            continue
        cenv = env.child(c)
        if reader._expand(c.name, cenv) == RDF_RDF:
            for nc in c.children:
                if isinstance(nc, XNode):
                    reader.node_element(nc, cenv)
        else:
            reader.node_element(c, cenv)
    return reader.triples
