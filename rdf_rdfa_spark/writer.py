"""XHTML+RDFa serializer (SURVEY.md S11): `serialize_rdfa`.

A re-implementation of the reference's default Haml template pipeline
(lib/rdf/rdfa/writer.rb:121-824, haml_templates.rb BASE_HAML), keeping
its contract — graph → XHTML+RDFa whose re-parse is isomorphic to the
input — and its observable output:

  - predicates, datatypes and types compressed to CURIEs minted from
    the RDFa initial context, with only the prefixes actually used
    declared in html/@prefix (writer.rb:366-390 preprocess);
  - ordered subjects, rdf:type folded into @typeof (writer.rb:273-283),
    heading-predicate h1s, div.property/span.label leaves, nested
    resource recursion under div[@rel];
  - rdf:List rendering with @inlist, humanized date/time/dateTime
    values with the machine form in @content.

Verified against the xpath assertions the reference's writer_spec.rb
makes (tests/test_writer_spec.py) and by round-trip through our own
reader (writer_spec.rb:546 does the same).  `export_rdfa_pages` runs it
per url as a Spark stage.
"""

from __future__ import annotations

import datetime as _dt
import re

from .rdfa.contexts import initial_context
from .rdfa.dom import c14n_fragment
from .rdfa.terms import RDF_NS, RDF_TYPE, RDF_XMLLITERAL, XSD_NS

_ESC = {"&": "&amp;", "<": "&lt;", ">": "&gt;", '"': "&quot;"}
_ESC_TRANS = str.maketrans(_ESC)


def _esc(s: str) -> str:
    return s.translate(_ESC_TRANS)


_RDF_FIRST = RDF_NS + "first"
_RDF_REST = RDF_NS + "rest"
_RDF_NIL = RDF_NS + "nil"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
DC_TITLE = "http://purl.org/dc/terms/title"

_DATE_RE = re.compile(r"^(-?\d{4,}-\d{2}-\d{2})(Z|[+-]\d{2}:\d{2})?$")
_TIME_RE = re.compile(r"^(\d{2}:\d{2}:\d{2}(?:\.\d+)?)(Z|[+-]\d{2}:\d{2})?$")
_DATETIME_RE = re.compile(
    r"^(-?\d{4,}-\d{2}-\d{2})T(\d{2}:\d{2}:\d{2}(?:\.\d+)?)"
    r"(Z|[+-]\d{2}:\d{2})?$")

_MONTHS = ("January February March April May June July August September "
           "October November December").split()
_DAYS = ("Monday Tuesday Wednesday Thursday Friday Saturday "
         "Sunday").split()


def _tz_suffix(tz: str | None) -> str:
    if not tz:
        return ""
    return " UTC" if tz == "Z" else " " + tz


def _humanize_date(lex: str) -> str | None:
    m = _DATE_RE.match(lex)
    if not m:
        return None
    try:
        d = _dt.date.fromisoformat(m.group(1))
    except ValueError:
        return None
    # Ruby Date#strftime("%A, %d %B %Y")
    return "%s, %02d %s %d%s" % (
        _DAYS[d.weekday()], d.day, _MONTHS[d.month - 1], d.year,
        _tz_suffix(m.group(2)))


def _humanize_time(lex: str) -> str | None:
    m = _TIME_RE.match(lex)
    if not m:
        return None
    hh = int(lex[0:2])
    ampm = "AM" if hh < 12 else "PM"
    h12 = hh % 12 or 12
    return "%02d%s %s%s" % (h12, m.group(1)[2:8], ampm,
                            _tz_suffix(m.group(2)))


def _humanize_datetime(lex: str) -> str | None:
    m = _DATETIME_RE.match(lex)
    if not m:
        return None
    t = _humanize_time(m.group(2) + (m.group(3) or ""))
    d = _humanize_date(m.group(1))
    if t is None or d is None:
        return None
    return "%s on %s" % (t, d)


_HUMANIZERS = {
    XSD_NS + "date": _humanize_date,
    XSD_NS + "time": _humanize_time,
    XSD_NS + "dateTime": _humanize_datetime,
}
_CONTENT_DATATYPES = frozenset(_HUMANIZERS) | {XSD_NS + "duration"}


def _escape_entities(s: str) -> str:
    out = _esc(s)
    return out.replace("\n", "&#xa;").replace("\r", "&#xd;")


class RdfaHtmlWriter:
    """graph (term-tuple triples) → XHTML+RDFa document string,
    mirroring the reference's default template output shape."""

    def __init__(self, base_uri: str | None = None, lang: str | None = None,
                 prefixes: dict | None = None,
                 top_classes=None, heading_predicates=None):
        self.base_uri = base_uri
        self.lang = lang
        self.top_classes = list(top_classes or [RDFS_NS + "Class"])
        self.heading_predicates = list(
            heading_predicates or [RDFS_NS + "label", DC_TITLE])
        # initial contexts (reference preprocess, writer.rb:366-390)
        ctx_prefixes, ctx_terms, vocab = initial_context("xhtml5", "rdfa1.1")
        self.uri_to_prefix = {
            ns: pfx for pfx, ns in ctx_prefixes.items() if pfx != "dcterms"}
        for pfx, ns in (prefixes or {}).items():
            self.uri_to_prefix[str(ns)] = str(pfx)
        self.uri_to_term_or_curie = {iri: term
                                     for term, iri in ctx_terms.items()}
        self.resource_curies: dict[str, str] = {}
        self.vocabulary = vocab
        self.used_prefixes: dict[str, str] = {}
        # graph state
        self.props: dict = {}      # subject term -> {pred iri: [objects]}
        self.references: dict = {}
        self.serialized: set = set()

    # --- curie / value helpers ----------------------------------------
    def get_curie(self, term, position: str = "predicate") -> str | None:
        """IRI → the shortest spelling valid at ``position``.

        ``predicate`` (@property/@typeof/@rel/@datatype) may use bare
        TERMs from the initial context and vocab-relative names;
        ``resource`` (@about/@resource) may NOT — readers only
        recognize terms in predicate positions, so a bare term there
        re-parses as a relative IRI and yields a wrong subject.  (The
        reference writer.rb:669 is position-unaware and shares that
        flaw; we diverge for round-trip fidelity.)  Base-relative
        spellings are conversely only valid in resource position."""
        if term[0] == "bnode":
            return "_:" + term[1]
        if term[0] != "iri":
            return None
        uri = term[1]
        if position == "resource":
            return self._resource_curie(uri)
        hit = self.uri_to_term_or_curie.get(uri)
        if hit is not None:
            return hit
        if self.vocabulary and uri.startswith(self.vocabulary):
            curie = uri[len(self.vocabulary):]
        else:
            curie = self._prefixed_or_absolute(uri)
        self.uri_to_term_or_curie[uri] = curie
        return curie

    def _resource_curie(self, uri: str) -> str:
        hit = self.resource_curies.get(uri)
        if hit is not None:
            return hit
        if self.base_uri and uri.startswith(self.base_uri):
            rel = uri[len(self.base_uri):]
            # a ':' in the relative part would CURIE/scheme-parse on
            # re-extraction — only emit colon-free relative IRIs
            if ":" not in rel:
                self.resource_curies[uri] = rel
                return rel
        curie = self._prefixed_or_absolute(uri)
        self.resource_curies[uri] = curie
        return curie

    def _prefixed_or_absolute(self, uri: str) -> str:
        ns = max((n for n in self.uri_to_prefix if uri.startswith(n)),
                 key=len, default=None)
        if ns:
            pfx = self.uri_to_prefix[ns]
            self.used_prefixes[pfx] = ns
            return "%s:%s" % (pfx, uri[len(ns):])
        return uri

    @staticmethod
    def _value(term) -> str:
        lex, _lang, dt = term[1], term[2], term[3]
        if dt in _HUMANIZERS:
            h = _HUMANIZERS[dt](lex)
            if h is not None:
                return h
        return lex

    def _content(self, term) -> str | None:
        return term[1] if term[3] in _CONTENT_DATATYPES else None

    def _lang_of(self, term) -> str | None:
        lg = term[2]
        return lg if lg and lg != (self.lang or "") else None

    def _dt_curie(self, term) -> str | None:
        return self.get_curie(iri_t(term[3])) if term[3] else None

    # --- graph bookkeeping ---------------------------------------------
    def _load(self, triples):
        for s, p, o in triples:
            self.references[o] = self.references.get(o, 0) + 1
            self.props.setdefault(s, {}).setdefault(p[1], []).append(o)
            self.get_curie(s)
            self.get_curie(p)
            self.get_curie(o)
            if o[0] == "literal" and o[3]:
                self.get_curie(iri_t(o[3]))

    def _ref_count(self, term) -> int:
        return self.references.get(term, 0)

    def _order_subjects(self):
        seen, out = set(), []
        base_t = iri_t(self.base_uri) if self.base_uri else None
        if base_t is not None and base_t in self.props:
            out.append(base_t)
            seen.add(base_t)
        for cls in self.top_classes:
            typed = sorted(
                {s for s, pv in self.props.items()
                 if iri_t(cls) in pv.get(RDF_TYPE, [])})
            for s in typed:
                if s not in seen:
                    out.append(s)
                    seen.add(s)
        rest = sorted(
            (1 if s[0] == "bnode" else 0, self._ref_count(s), s)
            for s in self.props if s not in seen)
        out.extend(r[2] for r in rest)
        return out

    def _order_properties(self, pv: dict) -> list:
        order = [RDF_TYPE, RDFS_NS + "label", DC_TITLE]
        out = [p for p in order if p in pv]
        out.extend(p for p in sorted(pv) if p not in out)
        return out

    def _list_items(self, head) -> list | None:
        """head term → item terms if head starts a PURE rdf:List: every
        spine cell has exactly one rdf:first + one rdf:rest and nothing
        else.  Cells carrying extra triples (e.g. an explicit rdf:type
        rdf:List, as real crawled pages produce) are NOT folded into
        @inlist — they render as ordinary nested bnodes, so no triple
        is lost in the round-trip.  (The reference's RDF::List folding
        silently drops such extras; we diverge for fidelity.)"""
        if head == iri_t(_RDF_NIL):
            return None
        items, node, hops = [], head, 0
        while node != iri_t(_RDF_NIL):
            if node[0] != "bnode" or hops > 10000:
                return None
            # interior cells referenced from OUTSIDE the spine can't be
            # folded: @inlist mints fresh bnodes on re-extraction, so
            # the external reference would dangle (head's own single
            # incoming reference is checked by _predicate)
            if node != head and self._ref_count(node) != 1:
                return None
            pv = self.props.get(node)
            if (pv is None or set(pv) != {_RDF_FIRST, _RDF_REST}
                    or len(pv[_RDF_FIRST]) != 1 or len(pv[_RDF_REST]) != 1):
                return None
            items.append(pv[_RDF_FIRST][0])
            node = pv[_RDF_REST][0]
            hops += 1
        return items

    # --- rendering -------------------------------------------------------
    def serialize(self, triples, title=None) -> str:
        self._load(triples)
        subjects = self._order_subjects()
        doc_title = title
        if doc_title is None:
            for s in subjects:
                for hp in self.heading_predicates:
                    vals = self.props[s].get(hp)
                    if vals and vals[0][0] == "literal":
                        doc_title = vals[0][1]
                        break
                if doc_title is not None:
                    break
        body = []
        for s in subjects:
            r = self._subject(s)
            if r:
                body.append(r)
        prefix_attr = " ".join(
            "%s: %s" % (p, ns)
            for p, ns in sorted(self.used_prefixes.items()))
        parts = ['<!DOCTYPE html>']
        html_attrs = ' xmlns="http://www.w3.org/1999/xhtml"'
        if self.lang:
            html_attrs += ' lang="%s"' % _esc(self.lang)
        if prefix_attr:
            html_attrs += ' prefix="%s"' % _esc(prefix_attr)
        parts.append("<html%s>" % html_attrs)
        if self.base_uri or doc_title:
            head = ["<head>"]
            if self.base_uri:
                head.append('<base href="%s"></base>' % _esc(self.base_uri))
            if doc_title:
                head.append("<title>%s</title>" % _escape_entities(doc_title))
            head.append("</head>")
            parts.append("".join(head))
        parts.append("<body>")
        parts.extend(body)
        parts.append("</body>")
        parts.append("</html>")
        return "\n".join(parts)

    def _subject(self, s, rel=None, inlist=None, element="div") -> str:
        in_rel = rel is not None
        if s in self.serialized:
            return ""
        self.serialized.add(s)
        pv = dict(self.props.get(s, {}))
        types = pv.pop(RDF_TYPE, [])
        # type_of (writer.rb:526-544)
        if s[0] == "bnode":
            curie = ("_:" + s[1]) if self._ref_count(s) > 1 else None
        else:
            curie = self.get_curie(s, position="resource")
        typeof = " ".join(self.get_curie(t) for t in types
                          if t[0] != "literal") or None
        if curie is None and typeof is None:
            typeof = ""
        about = self.get_curie(s, position="resource") if rel is None else None
        resource = self.get_curie(s, position="resource") if rel is not None else None
        attrs = ""
        if rel is not None:
            attrs += ' rel="%s"' % _esc(rel)
        target = about if about is not None else resource
        if target is not None:
            attrs += ' resource="%s"' % _esc(target)
        if typeof is not None:
            attrs += ' typeof="%s"' % _esc(typeof)
        if inlist is not None:
            attrs += ' inlist="%s"' % _esc(inlist)
        inner = []
        if typeof:
            inner.append('<span class="type">%s</span>' % _esc(typeof))
        for pred in self._order_properties(pv):
            r = self._predicate(pred, pv[pred], in_rel=in_rel)
            if r:
                inner.append(r)
        return "<%s%s>%s</%s>" % (element, attrs, "".join(inner), element)

    def _predicate(self, pred: str, objects: list,
                   in_rel: bool = False) -> str:
        # split off rdf:List heads (render_property, writer.rb:308-363)
        lists = []
        plain = []
        for o in objects:
            items = self._list_items(o)
            if items is None:
                plain.append(o)
            else:
                lists.append((o, items))
        # @inlist folding is only round-trip safe when this predicate
        # has exactly ONE list whose head is referenced exactly once:
        # readers merge every @inlist value per (subject, predicate)
        # into a single list, so two folded lists would collapse into
        # one; a head shared by two predicates/subjects would have its
        # spine minted twice.  Unsafe shapes fall back to the plain
        # nested-bnode spine rendering (same fallback _list_items uses
        # for impure lists), so no triple is lost.  (The reference
        # writer.rb folds unconditionally; we diverge for fidelity.)
        # ... and rdf:nil as a sibling object is itself rendered with
        # an empty @inlist, so it counts as a second list here.  Under
        # a subject ENTERED VIA @rel, readers reset the list mapping on
        # every child that re-establishes the subject (step 8 compares
        # against parent SUBJECT, reader.rb:1062 — the parent object
        # per the spec text, but the reference implements subject and
        # we match it), so sibling @inlist elements there each start a
        # fresh one-element list: only single-element folds are safe.
        if lists and (len(lists) > 1 or self._ref_count(lists[0][0]) != 1
                      or iri_t(_RDF_NIL) in plain
                      or (in_rel and len(lists[0][1]) > 1)):
            plain.extend(h for h, _ in lists)
            lists = []
        out = []
        if plain:
            out.append(self._render_values(pred, plain, inlist=None))
        for (head, items) in lists:
            # mark the list spine as serialized
            node = head
            while node != iri_t(_RDF_NIL) and node[0] == "bnode":
                self.serialized.add(node)
                node = self.props.get(node, {}).get(_RDF_REST, [iri_t(_RDF_NIL)])[0]
            out.append(self._render_values(pred, items, inlist="true"))
        return " ".join(x for x in out if x)

    def _leaf(self, pred_curie: str, o, inlist, element="span") -> str:
        """One object as a leaf (property_value template branches)."""
        il = ' inlist="%s"' % _esc(inlist) if inlist is not None else ""
        if o[0] == "iri":
            if self.get_curie(o) == "rdf:nil":
                return '<span rel="%s" inlist=""></span>' % _esc(pred_curie)
            return '<a property="%s" href="%s"%s>%s</a>' % (
                _esc(pred_curie), _esc(o[1]), il, _esc(o[1]))
        if o[0] == "bnode":
            c = "_:" + o[1]
            return '<%s property="%s" resource="%s"%s>%s</%s>' % (
                element, _esc(pred_curie), _esc(c), il, _esc(c), element)
        # literal
        if o[3] == RDF_XMLLITERAL:
            # canonicalize at write time (inject in-scope xmlns +
            # xml:lang exactly as the reader's c14n_children will on
            # re-extraction) so write→read is a fixed point even for
            # literals from non-RDFa sources
            lex = c14n_fragment(o[1], language=self.lang)
            return '<%s property="%s" datatype="%s"%s>%s</%s>' % (
                element, _esc(pred_curie), "rdf:XMLLiteral", il, lex,
                element)
        bits = ['property="%s"' % _esc(pred_curie)]
        content = self._content(o)
        text = self._value(o)
        if content is not None and content.strip() != content:
            # readers strip @content (reader.rb:766) — carry the exact
            # lexical form as element text instead of the machine attr
            content, text = None, o[1]
        if content is not None:
            bits.append('content="%s"' % _esc(content))
        lg = self._lang_of(o)
        if lg:
            bits.append('lang="%s"' % _esc(lg))
        dtc = self._dt_curie(o)
        if dtc:
            bits.append('datatype="%s"' % _esc(dtc))
        if inlist is not None:
            bits.append('inlist="%s"' % _esc(inlist))
        return "<%s %s>%s</%s>" % (
            element, " ".join(bits), _escape_entities(text), element)

    def _render_values(self, pred: str, objects: list, inlist) -> str:
        pred_curie = self.get_curie(iri_t(pred))
        multi = len(objects) > 1 or inlist is not None

        def recurse(o):
            if o in self.serialized or o not in self.props:
                return None
            return self._subject(
                o, rel=pred_curie, inlist=inlist,
                element="li" if (len(objects) > 1 or inlist) else "div")

        if len(objects) == 1 and inlist is None:
            o = objects[0]
            # heading predicates → h1 (property_value template)
            if pred in self.heading_predicates and o[0] == "literal":
                return self._leaf(pred_curie, o, None, element="h1")
            res = recurse(o)
            body = res if res else self._leaf(pred_curie, o, None)
            return ('<div class="property"><span class="label">%s</span>'
                    "%s</div>" % (_esc(pred_curie), body))
        if len(objects) == 1:  # single-valued but inlist
            o = objects[0]
            if pred in self.heading_predicates and o[0] == "literal":
                return self._leaf(pred_curie, o, inlist, element="h1")
            res = recurse(o)
            body = res if res else self._leaf(pred_curie, o, inlist)
            return ('<div class="property"><span class="label">%s</span>'
                    "%s</div>" % (_esc(pred_curie), body))
        # multi-valued → ul/li (property_values template)
        items = []
        for o in objects:
            res = recurse(o)
            if res:
                items.append(res)
            elif o[0] == "iri":
                items.append("<li>%s</li>"
                             % self._leaf(pred_curie, o, inlist))
            else:
                items.append(self._leaf(pred_curie, o, inlist,
                                        element="li"))
        return ('<div class="property"><span class="label">%s</span>'
                "<ul>%s</ul></div>" % (_esc(pred_curie), "".join(items)))


def iri_t(v: str):
    return ("iri", v)


def serialize_rdfa(triples, base_uri=None, lang=None, prefixes=None,
                   title=None) -> str:
    """Graph → XHTML+RDFa with the reference's default template shape."""
    return RdfaHtmlWriter(base_uri=base_uri, lang=lang,
                          prefixes=prefixes).serialize(triples, title=title)
