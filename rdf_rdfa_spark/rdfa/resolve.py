"""RFC3986 IRI resolution + RDFa CURIE/SafeCURIE/term machinery.

Pure functions; this is the per-document hot path, called from inside
the vectorized UDF. Semantics mirror the reference:

  - RFC3986-strict join:          /root/reference/lib/rdf/rdfa/reader.rb:1506-1522
    (``urllib.parse.urljoin`` is NOT strict — e.g. it rewrites "http:g"
    to "http://a/bb/ccc/g" — so we hand-roll merge + remove_dot_segments;
    83-case corpus from /root/reference/spec/reader_spec.rb:1931-2100)
  - process_uri / process_uris:   reader.rb:1388-1451
  - process_term:                 reader.rb:1454-1471
  - curie_to_resource_or_bnode:   reader.rb:1474-1504
  - NC / TERM regexes:            reader.rb:52-80
"""

from __future__ import annotations

import re

from .terms import (
    XHV_NS,
    RDFA_UNRESOLVED_CURIE,
    RDFA_UNRESOLVED_TERM,
    iri,
)

# reader.rb:52-80. In the reference's NC_REGEXP the trailing char class
# is a `.`-`/` range (no hyphen); TERM_REGEXP explicitly allows hyphen.
NC_REGEXP = re.compile(r"^[A-Za-z_][0-9A-Za-z_./]*$")
TERM_REGEXP = re.compile(r"^[A-Za-z_][\-0-9A-Za-z_./]*$")

_URI_RE = re.compile(
    r"^(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$",
    re.S,
)


def split_iri(s: str):
    """Split an IRI-reference into (scheme, authority, path, query, fragment).

    authority/query/fragment are None when their delimiters are absent.
    """
    m = _URI_RE.match(s)
    return m.group(1), m.group(2), m.group(3) or "", m.group(4), m.group(5)


def remove_dot_segments(path: str) -> str:
    """RFC3986 §5.2.4."""
    out: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./"):
            path = "/" + path[3:]
        elif path == "/.":
            path = "/"
        elif path.startswith("/../"):
            path = "/" + path[4:]
            if out:
                out.pop()
        elif path == "/..":
            path = "/"
            if out:
                out.pop()
        elif path in (".", ".."):
            path = ""
        else:
            i = path.find("/", 1)
            if i < 0:
                out.append(path)
                path = ""
            else:
                out.append(path[:i])
                path = path[i:]
    return "".join(out)


def _recompose(scheme, authority, path, query, fragment) -> str:
    res = []
    if scheme is not None:
        res.append(scheme + ":")
    if authority is not None:
        res.append("//" + authority)
    res.append(path)
    if query is not None:
        res.append("?" + query)
    if fragment is not None:
        res.append("#" + fragment)
    return "".join(res)


def resolve(base: str | None, ref: str) -> str:
    """RFC3986 §5.2.2 strict transform-references.

    Like the reference (reader.rb:1510-1515), an absolute ``ref`` (one
    carrying a scheme) is returned verbatim — e.g. ``http:g`` → ``http:g``.
    """
    r_scheme, r_auth, r_path, r_query, r_frag = split_iri(ref)
    if r_scheme is not None:
        return ref
    if not base:
        return ref
    b_scheme, b_auth, b_path, b_query, _ = split_iri(base)
    if r_auth is not None:
        t = (b_scheme, r_auth, remove_dot_segments(r_path), r_query, r_frag)
    elif r_path == "":
        t = (b_scheme, b_auth, b_path, r_query if r_query is not None else b_query, r_frag)
    elif r_path.startswith("/"):
        t = (b_scheme, b_auth, remove_dot_segments(r_path), r_query, r_frag)
    else:
        if b_auth is not None and b_path == "":
            merged = "/" + r_path
        else:
            merged = b_path[: b_path.rfind("/") + 1] + r_path
        t = (b_scheme, b_auth, remove_dot_segments(merged), r_query, r_frag)
    return _recompose(*t)


def is_absolute(value: str) -> bool:
    scheme, _, _, _, _ = split_iri(value)
    return scheme is not None


# --- CURIE / term machinery ---------------------------------------------

_SAFE_CURIE_RE = re.compile(r"^\[(.*)\]$", re.S)
_WS_RE = re.compile(r"\s+")

# restriction tokens (reader.rb:36-46)
SAFE_CURIE = "safe_curie"
CURIE = "curie"
URI = "uri"
BNODE_R = "bnode"
TERM = "term"
ABSURI = "absuri"

# content models per version
SAFECURIEorCURIEorIRI = {
    "rdfa1.0": (SAFE_CURIE, URI, BNODE_R),
    "rdfa1.1": (SAFE_CURIE, CURIE, URI, BNODE_R),
}
TERMorCURIEorAbsIRI = {
    "rdfa1.0": (TERM, CURIE),
    "rdfa1.1": (TERM, CURIE, ABSURI),
}


class MalformedIRI(ValueError):
    pass


def curie_to_resource_or_bnode(
    curie: str,
    uri_mappings: dict,
    restrictions,
    bnode_factory,
    version: str = "rdfa1.1",
):
    """reader.rb:1474-1504. Returns a term tuple or None."""
    prefix, _, reference = curie.partition(":")
    if prefix == "_" and _ == ":":
        if BNODE_R not in restrictions:
            raise MalformedIRI("BNode not allowed in this position")
        return bnode_factory(reference)
    if curie.startswith(":"):
        return iri(XHV_NS + reference)
    if _ != ":":
        return None  # no prefix: evaluated as a term elsewhere
    if version != "rdfa1.0":
        prefix = prefix.lower()
    ns = uri_mappings.get(prefix)
    if ns:
        return iri(ns + reference)
    return None


def process_term(value: str, term_mappings, vocab, warn=None):
    """reader.rb:1454-1471. Note local default vocabulary wins over the
    term mappings (matching the reference's order of checks)."""
    if vocab:
        return iri(vocab + value)
    if isinstance(term_mappings, dict):
        if value in term_mappings:
            return iri(term_mappings[value])
        lowered = value.lower()
        for term, u in term_mappings.items():
            if term.lower() == lowered:
                return iri(u)
    if warn is not None:
        warn("Term %s is not defined" % value, RDFA_UNRESOLVED_TERM)
    return None


def process_uri(
    value: str | None,
    base: str | None,
    restrictions,
    uri_mappings=None,
    term_mappings=None,
    vocab=None,
    parent_subject=None,
    bnode_factory=None,
    version: str = "rdfa1.1",
    warn=None,
):
    """reader.rb:1394-1451. Returns a term tuple or None."""
    if value is None:
        return None
    uri_mappings = uri_mappings or {}
    try:
        m = _SAFE_CURIE_RE.match(value)
        if term_mappings is None and SAFE_CURIE in restrictions and m:
            u = curie_to_resource_or_bnode(
                m.group(1), uri_mappings, restrictions, bnode_factory, version
            )
            if u is None and warn is not None:
                warn("%s not matched as a safeCURIE" % value, RDFA_UNRESOLVED_CURIE)
            return u
        if term_mappings is not None and TERM in restrictions and TERM_REGEXP.match(value):
            return process_term(value, term_mappings, vocab, warn)
        u = curie_to_resource_or_bnode(
            value, uri_mappings, restrictions, bnode_factory, version
        )
        if u is not None:
            return u
        if version == "rdfa1.0" and value.lower().startswith("xml"):
            # reference: anything starting with xml is not treated as URI in 1.0
            return None
        if ABSURI in restrictions:
            if is_absolute(value):
                return iri(value)
            if warn is not None:
                warn("Malformed IRI %s" % value)
            return None
        if URI in restrictions:
            return iri(resolve(base, value))
        return None
    except MalformedIRI:
        if warn is not None:
            warn("Malformed IRI %s" % value)
        return None


def process_uris(value: str | None, **kw):
    """Space-separated variant (reader.rb:1388-1392)."""
    if not value:
        return []
    out = []
    for v in _WS_RE.split(value.strip()):
        if not v:
            continue
        u = process_uri(v, **kw)
        if u is not None:
            out.append(u)
    return out
