"""Streaming HTML tree builder + the 13 NodeProxy accessors.

The container has no lxml/html5lib, so this builds a light DOM on
stdlib ``html.parser`` (C-accelerated tokenizer underneath). It
implements the accessor facade the RDFa algorithm needs, mirroring
the reference's NodeProxy:

  - language (xml:lang ≻ lang):  /root/reference/lib/rdf/rdfa/reader/nokogiri.rb:36-45
  - base (xml:base):             nokogiri.rb:49-53
  - text_content? / children:    nokogiri.rb:69-90
  - namespaces (xmlns walk):     nokogiri.rb:78-82 + reader.rb:652-663
  - inner_text (entity-decoded): nokogiri.rb:96-101 (Nokogiri-native decode;
    here ``convert_charrefs=True`` decodes during tokenization)
  - host/version detection:      nokogiri.rb:190-272

Parsing is bounded-memory per document (one DOM per page inside the
Arrow batch loop); the tree is discarded after each row.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# minimal HTML5 implied-end-tag table: starting <key> closes an open <value>
_CLOSES = {
    "li": {"li"},
    "dt": {"dd", "dt"},
    "dd": {"dd", "dt"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "tbody": {"thead", "tbody", "tr", "td", "th"},
    "tfoot": {"thead", "tbody", "tr", "td", "th"},
    "option": {"option"},
    "optgroup": {"option", "optgroup"},
}
_P_CLOSERS = frozenset(
    "address article aside blockquote details div dl fieldset figcaption "
    "figure footer form h1 h2 h3 h4 h5 h6 header hr main menu nav ol p pre "
    "section table ul".split()
)
for _t in _P_CLOSERS:
    _CLOSES.setdefault(_t, set()).add("p")

# elements whose end tag may be implied by the parent closing
_HEAD_ONLY = frozenset("title meta style".split())


class Comment:
    __slots__ = ("data",)

    def __init__(self, data: str):
        self.data = data


class Element:
    __slots__ = ("name", "attrs", "children", "parent", "_ec", "_rel",
                 "_own", "_doc_itemscope")

    def __init__(self, name: str, attrs: dict, parent=None):
        self.name = name
        self.attrs = attrs
        self.children: list = []  # str | Element | Comment
        self.parent = parent
        self._ec = None  # element_children cache (tree is static post-parse)
        # subtree RDFa-relevance: True when this subtree contains any
        # element the walker must visit.  Defaults True (never prune a
        # hand-built tree); the tree builders set it precisely.
        self._rel = True
        # OWN relevance (the walker's _inert criterion, precomputed at
        # build time from the same attribute set).  True default =
        # hand-built trees get full processing.
        self._own = True
        # _doc_itemscope: set by parse_html on the ROOT only (builder-
        # computed microdata flag); deliberately left unassigned here
        # so non-root elements pay no init cost.

    # --- NodeProxy facade -------------------------------------------
    def attribute(self, name: str):
        return self.attrs.get(name)

    @property
    def language(self):
        # HTML5 3.2.3.3: xml:lang wins over lang (nokogiri.rb:36-45)
        v = self.attrs.get("xml:lang")
        if v is None:
            v = self.attrs.get("lang")
        return v

    @property
    def base(self):
        return self.attrs.get("xml:base")

    def element_children(self):
        # cached: the walker visits every element's children at least
        # twice (inert fast path + microdata/subtree scans), and the
        # tree never mutates after parse_html returns
        ec = self._ec
        if ec is None:
            ec = self._ec = [c for c in self.children
                             if c.__class__ is Element]
        return ec

    def text_content(self) -> bool:
        """True if all children are text nodes (nokogiri.rb:69-73)."""
        return all(isinstance(c, str) for c in self.children)

    def namespaces(self) -> dict:
        """xmlns declarations on this element: {prefix-or-None: href}
        (reader.rb:652-663 HTML-parsing fallback)."""
        out = {}
        for k, v in self.attrs.items():
            if k == "xmlns":
                out[None] = v
            elif k.startswith("xmlns:"):
                out[k[6:]] = v
        return out

    @property
    def inner_text(self) -> str:
        parts: list[str] = []
        stack = list(reversed(self.children))
        while stack:
            c = stack.pop()
            if isinstance(c, str):
                parts.append(c)
            elif isinstance(c, Element):
                stack.extend(reversed(c.children))
        return "".join(parts)

    @property
    def inner_html(self) -> str:
        return "".join(serialize_node(c) for c in self.children)

    def path(self) -> str:
        """Rough XPath for diagnostics (processor-graph PTR context)."""
        segs = []
        node = self
        while node is not None:
            parent = node.parent
            if parent is not None:
                idx = 1 + sum(
                    1
                    for s in parent.children
                    if isinstance(s, Element) and s.name == node.name and _precedes(parent, s, node)
                )
                segs.append("%s[%d]" % (node.name, idx))
            else:
                segs.append(node.name)
            node = parent
        return "/" + "/".join(reversed(segs))

    def __repr__(self):  # pragma: no cover
        return "<Element %s %r>" % (self.name, self.attrs)


def _precedes(parent, a, b) -> bool:
    for c in parent.children:
        if c is b:
            return False
        if c is a:
            return True
    return False


_ESC = {"&": "&amp;", "<": "&lt;", ">": "&gt;"}
_ESC_RE = re.compile(r"[&<>]")


def _esc_text(s: str) -> str:
    return _ESC_RE.sub(lambda m: _ESC[m.group()], s)


def _esc_attr(s: str) -> str:
    return _esc_text(s).replace('"', "&quot;")


def serialize_node(node, xmlish: bool = False) -> str:
    """HTML serialization of a node (for rdf:HTML literals and
    <script> raw content reconstruction; reader.rb:1180-1191)."""
    if isinstance(node, str):
        return _esc_text(node)
    if isinstance(node, Comment):
        return "<!--%s-->" % node.data
    parts = ["<", node.name]
    for k, v in node.attrs.items():
        parts.append(' %s="%s"' % (k, _esc_attr(v)))
    if not node.children and node.name in VOID_ELEMENTS and not xmlish:
        parts.append(">")
        return "".join(parts)
    parts.append(">")
    for c in node.children:
        parts.append(serialize_node(c, xmlish))
    parts.append("</%s>" % node.name)
    return "".join(parts)


def c14n_children(element: Element, language, namespaces: dict) -> str:
    """Approximate exclusive-XML-c14n of element children for
    rdf:XMLLiteral (reader.rb:1155-1177): in-scope namespace
    declarations and xml:lang are merged onto top-level child
    elements (child declarations win). The W3C suite's own runs skip
    the strict-c14n cases (suite_spec.rb:17), mirrored in our tests."""
    out = []
    for c in element.children:
        if isinstance(c, Element):
            attrs = dict(c.attrs)
            for prefix, href in namespaces.items():
                key = "xmlns" if prefix in (None, "") else "xmlns:%s" % prefix
                attrs.setdefault(key, href)
            if language is not None:
                attrs.setdefault("xml:lang", language)
            clone = Element(c.name, attrs)
            clone.children = c.children
            out.append(serialize_node(clone, xmlish=True))
        else:
            out.append(serialize_node(c))
    return "".join(out)


def c14n_fragment(lex: str, language=None, namespaces: dict | None = None) -> str:
    """Write-side XMLLiteral canonicalization: run a lexical form
    through the SAME parse → namespace/xml:lang merge → serialize
    pipeline the reader applies at extraction time (c14n_children), so
    write→read is a fixed point — a literal the writer emits re-extracts
    byte-identical.  Literals not already in this form (hand-built
    graphs, Turtle/JSON-LD imports) are normalized once on first write;
    extraction output passes through unchanged."""
    if namespaces is None:
        namespaces = {None: "http://www.w3.org/1999/xhtml"}
    tb = _TreeBuilder()
    # custom wrapper element: no implied-close rules apply, so the
    # fragment's own nesting is preserved exactly as the reader's HTML
    # parse of the written page will see it
    _fast_feed(tb, "<c14n-root>" + lex + "</c14n-root>")
    root = next((n for n in tb.root_children
                 if isinstance(n, Element) and n.name == "c14n-root"), None)
    if root is None:
        return lex
    return c14n_children(root, language, namespaces)


_EOF_CONSTRUCTS = (
    ("<!--", "-->", "-->"),
    ("<![cdata[", "]]>", "]]>"),
    ("<script", "</script", "</script>"),
    ("<style", "</style", "</style>"),
)


def _eof_closer(text: str) -> str:
    """The close marker for whichever comment/CDATA/rawtext construct
    is still open at EOF ('' if none). Scans openers in document order
    so an opener swallowed by an earlier construct is ignored."""
    low = text.lower()
    pos = 0
    while True:
        nxt = None
        for opener, closer, suffix in _EOF_CONSTRUCTS:
            i = low.find(opener, pos)
            if i != -1 and (nxt is None or i < nxt[0]):
                nxt = (i, opener, closer, suffix)
        if nxt is None:
            return ""
        i, opener, closer, suffix = nxt
        end = low.find(closer, i + len(opener))
        if end == -1:
            return suffix
        pos = end + len(closer)


# attributes that force full per-element RDFa processing (the walker's
# _inert criterion).  Relevance is computed at BUILD time — cached per
# unique start-tag string and propagated to ancestors — so the walker
# can skip whole subtrees that contain none of these anywhere.
WALK_RELEVANT_ATTRS = frozenset(
    "about content datatype datetime href id inlist property rel "
    "resource rev role src typeof value vocab prefix lang".split()
) | {"xml:lang", "xml:base", "xmlns"}
_WALK_RELEVANT_NAMES = frozenset(("script", "head", "body"))


def _own_relevance(tag: str, attrd: dict) -> bool:
    if tag in _WALK_RELEVANT_NAMES:
        return True
    for k in attrd:
        if k in WALK_RELEVANT_ATTRS or k.startswith("xmlns:"):
            return True
    return False


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root_children: list = []
        self.stack: list[Element] = []
        self.doctype: str = ""
        # malformed-markup messages, surfaced like Nokogiri doc.errors
        # (reader.rb:346 joins the unique messages into one error row)
        self.errors: list[str] = []
        # any element carries @itemscope (microdata islands present) —
        # computed here so the walker needn't re-scan the whole tree
        self.has_itemscope = False

    # -- helpers --
    def _append(self, node):
        if self.stack:
            self.stack[-1].children.append(node)
        else:
            self.root_children.append(node)

    def handle_decl(self, decl):
        if not self.doctype:
            self.doctype = "<!%s>" % decl

    @staticmethod
    def _mark_relevant(el):
        node = el
        while node is not None and not node._rel:
            node._rel = True
            node = node.parent

    def handle_starttag(self, tag, attrs):
        # implied end tags
        close = _CLOSES.get(tag)
        if close:
            while self.stack and self.stack[-1].name in close:
                self.stack.pop()
        if tag == "body":
            # body start implies head is closed
            while self.stack and self.stack[-1].name != "html":
                self.stack.pop()
        attrd = {}
        for k, v in attrs:
            if k not in attrd:
                attrd[k] = v if v is not None else ""
        parent = self.stack[-1] if self.stack else None
        el = Element(tag, attrd, parent)
        el._rel = False
        if _own_relevance(tag, attrd):
            self._mark_relevant(el)
        else:
            el._own = False
        if "itemscope" in attrd:
            self.has_itemscope = True
        self._append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        attrd = {}
        for k, v in attrs:
            if k not in attrd:
                attrd[k] = v if v is not None else ""
        parent = self.stack[-1] if self.stack else None
        el = Element(tag, attrd, parent)
        el._rel = False
        if _own_relevance(tag, attrd):
            self._mark_relevant(el)
        else:
            el._own = False
        if "itemscope" in attrd:
            self.has_itemscope = True
        self._append(el)

    def handle_endtag(self, tag):
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].name == tag:
                del self.stack[i:]
                return
        # unmatched end tag: ignored (HTML5 parse-error recovery)

    def handle_data(self, data):
        if data:
            top = self.stack[-1] if self.stack else None
            if top is not None and top.children and isinstance(top.children[-1], str):
                top.children[-1] += data
            else:
                self._append(data)

    def handle_comment(self, data):
        self._append(Comment(data))

    def unknown_decl(self, data):
        # <![CDATA[...]]> in foreign content: treat payload as text
        if data.startswith("CDATA["):
            self.handle_data(data[6:])


def _reparent(el: Element, parent: Element | None):
    # iterative — real web pages nest arbitrarily deep
    stack = [(el, parent)]
    while stack:
        node, par = stack.pop()
        node.parent = par
        for c in node.children:
            if isinstance(c, Element):
                stack.append((c, node))


def parse_html(text: str, html_host: bool = True, fast: bool = True):
    """Parse an HTML document → (root Element, doctype string,
    malformed-markup messages).

    For HTML host languages, normalizes to an html/(head)/body
    superstructure the way an HTML5 tree builder does, so the
    head|body subject rules (reader.rb:905-911) and root detection
    behave as with Nokogiri::HTML5. For xml/svg hosts
    (html_host=False) the first element IS the root — no wrapping
    (Nokogiri::XML semantics).

    ``fast`` selects the single-regex scanner (default; equivalence
    with the stdlib html.parser path is test-enforced corpus-wide).
    """
    tb = _TreeBuilder()
    if fast:
        _fast_feed(tb, text)
    else:
        # HTML5 says an unterminated comment/CDATA/rawtext element runs
        # to EOF (the fast path and Nokogiri do this); stdlib
        # html.parser instead re-parses the tail as markup at close().
        # Close the construct that is actually open at EOF — scanned in
        # document order so constructs nested inside an earlier one
        # (e.g. a CDATA opener inside an unterminated comment) don't
        # get spurious closers.
        text += _eof_closer(text)
        tb.feed(text)
        tb.close()

    nodes = tb.root_children
    if not html_host:
        root = next((n for n in nodes if isinstance(n, Element)), None)
        if root is None:
            root = Element("html", {})
        root.parent = None  # builder set all other parents at creation
        root._doc_itemscope = tb.has_itemscope
        return root, tb.doctype, tb.errors
    html = next(
        (n for n in nodes if isinstance(n, Element) and n.name == "html"), None
    )
    restructured = False
    if html is None:
        html = Element("html", {})
        html.children = [
            n for n in nodes if isinstance(n, Element) or (isinstance(n, str) and n.strip())
        ]
        restructured = True
    has_body = any(
        isinstance(c, Element) and c.name in ("body", "frameset")
        for c in html.children
    )
    if not has_body:
        head = next(
            (c for c in html.children if isinstance(c, Element) and c.name == "head"),
            None,
        )
        body = Element("body", {})
        new_children = []
        moved = False
        for c in html.children:
            if c is head:
                new_children.append(c)
            elif isinstance(c, Element) and c.name in _HEAD_ONLY and not moved and head is None:
                new_children.append(c)
            else:
                if isinstance(c, str) and not c.strip() and not moved:
                    new_children.append(c)
                    continue
                body.children.append(c)
                moved = True
        new_children.append(body)
        html.children = new_children
        restructured = True
    if restructured:
        _reparent(html, None)
    else:
        # the builder set every parent at creation time; only the
        # root's parent needs pinning when nothing moved
        html.parent = None
    html._doc_itemscope = tb.has_itemscope
    return html, tb.doctype, tb.errors


# --- host language / version detection (nokogiri.rb:190-272) -----------

_DOCTYPE_RE = re.compile(r"<!DOCTYPE[^>]*>", re.I | re.S)
_ROOT_RE = re.compile(r"<([a-zA-Z][^\s/>]*)[^>]*>")
_VERSION_RE = re.compile(r'version\s*=\s*"([^"]+)"', re.S)
_META_CHARSET_RE = re.compile(r'<meta[^>]+charset\s*=\s*["\']?([A-Za-z0-9_\-]+)', re.I)


def detect_host_language_version(
    head_bytes: bytes | str,
    host_language: str | None = None,
    version: str | None = None,
):
    """Sniff (host_language, version) from the first ~1KB, mirroring
    nokogiri.rb:190-272. Returns (host_language, version)."""
    if host_language and version:
        return host_language, version
    if isinstance(head_bytes, bytes):
        head = head_bytes[:1000].decode("utf-8", "replace")
    else:
        head = head_bytes[:1000]

    m = _DOCTYPE_RE.search(head)
    doc_type_string = m.group(0) if m else ""
    root_m = None
    for rm in _ROOT_RE.finditer(head):
        if not rm.group(1).startswith(("!", "?")):
            root_m = rm
            break
    root = root_m.group(0) if root_m else ""
    root_element = root_m.group(1).lower() if root_m else ""
    vm = _VERSION_RE.search(root)
    version_attr = vm.group(1) if vm else ""

    # <meta http-equiv="content-type" content="..."> in the head sets
    # the effective content type (nokogiri.rb:225-237)
    meta_ct = None
    for mm in re.finditer(r"<meta\b[^>]*>", head, re.I):
        tag = mm.group(0)
        if re.search(r"""http-equiv\s*=\s*["']?content-type["']?""", tag, re.I):
            cm = re.search(r"""content\s*=\s*["']([^"';]+)""", tag, re.I)
            if cm:
                meta_ct = cm.group(1).strip().lower()
            break

    if version is None:
        if "RDFa 1.0" in doc_type_string or "RDFa 1.0" in version_attr:
            version = "rdfa1.0"
        elif "RDFa 1.1" in version_attr:
            version = "rdfa1.1"
        else:
            version = "rdfa1.1"

    if host_language is None:
        if version == "rdfa1.0" and re.search(r"html", doc_type_string, re.I):
            host_language = "xhtml1"
        elif meta_ct == "application/xhtml+xml":
            # nokogiri.rb:260-266
            if re.search(r"html 4", doc_type_string, re.I):
                host_language = "html4"
            elif re.search(r"xhtml", doc_type_string, re.I):
                host_language = "xhtml1"
            else:
                host_language = "xhtml5"
        elif meta_ct == "application/xml":
            host_language = "xml"
        elif meta_ct == "image/svg+xml":
            host_language = "svg"
        elif re.search(r"html 4", doc_type_string, re.I):
            host_language = "html4"
        elif re.search(r"xhtml", doc_type_string, re.I):
            host_language = "xhtml1"
        elif root_element == "svg":
            host_language = "svg"
        else:
            host_language = "html5"
    return host_language, version


def sniff_charset(head_bytes: bytes) -> str:
    m = _META_CHARSET_RE.search(head_bytes[:1024].decode("latin-1", "replace"))
    return m.group(1).lower() if m else "utf-8"


def decode_html(raw: bytes) -> str:
    charset = sniff_charset(raw)
    try:
        return raw.decode(charset, "replace")
    except LookupError:
        return raw.decode("utf-8", "replace")


# --- format detection (S1; /root/reference/lib/rdf/rdfa/format.rb:38-42) --

_RDFA_MARKER_RE = re.compile(
    r'<[^>]*(about|resource|prefix|typeof|property|vocab)\s*="[^>]*>', re.S)
_DOCTYPE_XMLNS_RE = re.compile(r"<[^>]*DOCTYPE\s+html[^>]*>.*xmlns:", re.I | re.S)
_RDFXML_RE = re.compile(r"<(\w+:)?(RDF)")


def looks_like_rdfa(sample) -> bool:
    """Sniff ~1KB for RDFa markers vs RDF/XML, mirroring the
    reference's Format.detect. Used as a cheap JVM-side-prefilterable
    predicate when the corpus is not a declared-RDFa crawl."""
    if isinstance(sample, bytes):
        sample = sample[:1024].decode("utf-8", "replace")
    else:
        sample = sample[:1024]
    return bool(
        (_RDFA_MARKER_RE.search(sample) or _DOCTYPE_XMLNS_RE.search(sample))
        and not _RDFXML_RE.search(sample)
    )


# --- fast scanner: single-regex HTML tokenizer -------------------------
# Drives the same _TreeBuilder handlers as html.parser but with one
# compiled scanner pass; ~2x faster on real pages. Equivalence with
# the stdlib path is enforced corpus-wide in tests (identical triples
# AND extracted text); parse_html(fast=False) keeps the stdlib path.

import html as _html_mod

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
# dispatch-split variants of _FAST_TOKEN (same token grammar; the
# scanner picks one by the character after '<' instead of running the
# 6-way alternation per token)
_FAST_START_TOK = re.compile(
    r"<([A-Za-z][^\t\n\r\f />]*)"
    r"((?:\"[^\"]*\"|'[^']*'|[^>])*?)(/?)>", re.S)
_FAST_END_TOK = re.compile(r"</([A-Za-z][^\s>]*)\s*>")
_FAST_BANG_TOK = re.compile(
    r"<!--(.*?)(?:-->|$)"
    r"|<!\[CDATA\[(.*?)(?:\]\]>|$)"
    r"|<!([^>]*)>", re.S)
_FAST_PI_TOK = re.compile(r"<\?[^>]*>")
_FAST_ATTR = re.compile(
    r"([^\s=/>]+)(?:\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?",
    re.S,
)
_RAWTEXT_CLOSE = {
    "script": re.compile(r"</script", re.I),
    "style": re.compile(r"</style", re.I),
}
_unescape = _html_mod.unescape

# worker-lifetime token caches shared across _fast_feed calls (see the
# comment inside); each is cleared wholesale when an insert would
# exceed the cap — ~64k distinct raw tokens bounds memory to tens of
# MB while a real template crawl stays far below it
_TOKEN_CACHE_MAX = 1 << 16
_TAG_CACHE: dict = {}
_END_CACHE: dict = {}


def _fast_feed(tb: "_TreeBuilder", text: str) -> None:
    # The _TreeBuilder handler methods are inlined here (same handler
    # semantics, enforced by the fast≡stdlib equivalence fuzz): on real
    # pages the per-token method dispatch and the attrs list→dict
    # double pass were ~25% of tokenizer time.
    pos, n = 0, len(text)
    stack = tb.stack
    root_children = tb.root_children
    find = text.find
    start_match = _FAST_START_TOK.match
    end_match = _FAST_END_TOK.match
    bang_match = _FAST_BANG_TOK.match
    pi_match = _FAST_PI_TOK.match
    attr_finditer = _FAST_ATTR.finditer
    closes_get = _CLOSES.get
    rawtext_get = _RAWTEXT_CLOSE.get
    # WORKER-LIFETIME token caches (module-level, size-capped on insert):
    # template-heavy pages repeat identical start-tag strings ~3x
    # WITHIN a page (measured on the reference example corpus) and far
    # more often ACROSS pages of one crawl (one template serves
    # thousands of pages), so the memo of parsed
    # (tag, attrs, selfclose, relevance, itemscope) per raw token now
    # survives the call: a reused Spark Python worker amortizes one
    # attribute-regex parse per distinct template tag over the whole
    # task (guide-§4.5 posture — heavyweight state once per worker).
    # Tokenization of a start/end token is context-free, nothing
    # mutates the cached attrs dicts (the walker's own per-attrs memo
    # relies on exactly that aliasing), so cross-page sharing is safe.
    tag_cache = _TAG_CACHE
    tag_cache_get = tag_cache.get
    # end-tag token cache: slice-to-first-'>' → lowercased tag name,
    # or None for a remembered no-match (stray '</ …' text)
    end_cache = _END_CACHE
    end_cache_get = end_cache.get
    while pos < n:
        lt = find("<", pos)
        if lt != pos:
            data = text[pos:] if lt < 0 else text[pos:lt]
            if data:
                if "&" in data:
                    data = _unescape(data)
                # inline handle_data: coalesce adjacent text nodes
                if stack:
                    ch = stack[-1].children
                    if ch and ch[-1].__class__ is str:
                        ch[-1] += data
                    else:
                        ch.append(data)
                else:
                    root_children.append(data)
            if lt < 0:
                break
        # dispatch on the character after '<' — each token class runs
        # its own small regex instead of the 6-way alternation
        c = text[lt + 1 : lt + 2]
        m = None
        kind = 0
        gt = -1
        cached = None
        tag_hit = None
        # every token kind except unterminated comments/CDATA (whose
        # regexes end with an $ fallback) needs a '>' ahead; probing
        # with memchr FIRST keeps a hostile no-'>' tail from feeding
        # the tag regexes — the start-tag name class admits '<', so
        # '<div<div<div…' with no '>' is a catastrophic-backtracking
        # bomb (measured minutes for 80 KB) without this guard.
        # The probe's gt also powers two regex-free fast paths:
        #  - start tags: a QUOTE-FREE slice up to the first '>' is a
        #    whole token (only a quoted value can carry a '>'), so it
        #    keys the parsed-token cache directly.  A slice holding a
        #    quote does not decide where its token ends — the same
        #    slice ends at its '>' on a truncated page and crosses it
        #    on a well-formed one — so those tokens always run the
        #    regex and are memoized under the FULL token string only.
        #  - end tags: an end-tag token is fully determined by the
        #    slice up to the first '>' (its grammar admits no quoting
        #    and cannot cross a '>'), so parse-or-fail is cached.
        if c:
            if c.isalpha():
                gt = find(">", lt + 1)
                if gt != -1:
                    nraw = text[lt:gt + 1]
                    if '"' not in nraw and "'" not in nraw:
                        cached = tag_cache_get(nraw)
                    if cached is not None:
                        m = True
                    else:
                        m = start_match(text, lt)
                kind = 1
            elif c == "/":
                gt = find(">", lt + 1)
                if gt != -1:
                    tag_hit = end_cache_get(text[lt:gt + 1], 0)
                    if tag_hit == 0:
                        em = end_match(text, lt)
                        tag_hit = (em.group(1).lower()
                                   if em is not None else None)
                        if len(end_cache) >= _TOKEN_CACHE_MAX:
                            end_cache.clear()
                        end_cache[text[lt:gt + 1]] = tag_hit
                    if tag_hit is not None:
                        m = True
                kind = 2
            elif c == "!":
                if (find(">", lt + 1) != -1
                        or text.startswith("<!--", lt)
                        or text.startswith("<![CDATA[", lt)):
                    m = bang_match(text, lt)
                kind = 3
            elif c == "?":
                if find(">", lt + 1) != -1:
                    m = pi_match(text, lt)
                kind = 4
        if m is None:
            # stray '<' that opens no token: emit as text. A '<' that
            # LOOKS like a tag opener but never terminates is the
            # malformed-markup signal Nokogiri reports as a doc error
            # (error list capped: a hostile page can carry millions).
            if c and (c.isalpha() or c in "/!"):
                if len(tb.errors) < 1000:
                    tb.errors.append(
                        "malformed tag at offset %d: %r"
                        % (lt, text[lt : lt + 24]))
            if c and find(">", lt + 1) < 0:
                # no '>' remains, so no start/end/PI token can ever
                # terminate — without this bulk path each of the
                # (possibly 10⁵) remaining stray '<'s would rescan to
                # EOF inside a failing regex: O(n²) on hostile input.
                # Only unterminated comments/CDATA are still matchable
                # (their regexes have an $ fallback); jump straight to
                # the next candidate, emitting everything before it as
                # one text node (text nodes coalesce, so this is
                # byte-identical to the char-at-a-time path).
                nc = find("<!--", lt + 1)
                ncd = find("<![CDATA[", lt + 1)
                cands = [x for x in (nc, ncd) if x >= 0]
                stop = min(cands) if cands else n
                data = text[lt:stop]
                if "&" in data:
                    data = _unescape(data)
                if stack:
                    ch = stack[-1].children
                    if ch and ch[-1].__class__ is str:
                        ch[-1] += data
                    else:
                        ch.append(data)
                else:
                    root_children.append(data)
                pos = stop
                continue
            if stack:
                ch = stack[-1].children
                if ch and ch[-1].__class__ is str:
                    ch[-1] += "<"
                else:
                    ch.append("<")
            else:
                root_children.append("<")
            pos = lt + 1
            continue
        if kind == 1:
            if m is True:  # slice-keyed cache hit: token ends at gt
                pos = gt + 1
            else:
                pos = m.end()
                raw = text[lt:pos]
                cached = tag_cache_get(raw)
            if cached is None:
                start_tag, raw_attrs, selfclose = m.groups()
                tag = start_tag.lower()
                # attrs dict built directly (first declaration wins)
                tmpl: dict = {}
                if raw_attrs:
                    for am in attr_finditer(raw_attrs):
                        name, _q, v1, v2, v3 = am.groups()
                        val = v1 if v1 is not None else (
                            v2 if v2 is not None else v3)
                        if val is None:
                            val = ""
                        elif "&" in val:
                            val = _unescape(val)
                        name = name.lower()
                        if name not in tmpl:
                            tmpl[name] = val
                rel = _own_relevance(tag, tmpl)
                iscope = "itemscope" in tmpl
                if len(tag_cache) >= _TOKEN_CACHE_MAX:
                    tag_cache.clear()
                tag_cache[raw] = (tag, tmpl, selfclose, rel, iscope)
            else:
                tag, tmpl, selfclose, rel, iscope = cached
            if iscope:
                tb.has_itemscope = True
            # SHARED attrs dict across identical start tags: nothing
            # mutates Element.attrs after the build (c14n_children
            # copies before it merges), so identical tags can alias
            # one dict — keep it that way
            attrd = tmpl
            if selfclose:
                # handle_startendtag semantics: no implied end tags,
                # never pushed
                parent = stack[-1] if stack else None
                el = Element(tag, attrd, parent)
                if parent is not None:
                    parent.children.append(el)
                else:
                    root_children.append(el)
                el._rel = False
                if rel:
                    node = el
                    while node is not None and not node._rel:
                        node._rel = True
                        node = node.parent
                else:
                    el._own = False
                continue
            # handle_starttag semantics: implied end tags first
            close = closes_get(tag)
            if close:
                while stack and stack[-1].name in close:
                    stack.pop()
            if tag == "body":
                # body start implies head is closed
                while stack and stack[-1].name != "html":
                    stack.pop()
            parent = stack[-1] if stack else None
            el = Element(tag, attrd, parent)
            if parent is not None:
                parent.children.append(el)
            else:
                root_children.append(el)
            el._rel = False
            if rel:
                # propagate subtree relevance to ancestors (stops at
                # the first already-marked one — amortized O(1))
                node = el
                while node is not None and not node._rel:
                    node._rel = True
                    node = node.parent
            else:
                el._own = False
            if tag not in VOID_ELEMENTS:
                stack.append(el)
                closer = rawtext_get(tag)
                if closer is not None:
                    cm = closer.search(text, pos)
                    end = cm.start() if cm else n
                    if end > pos:
                        el.children.append(text[pos:end])  # raw, no unescape
                    pos = end
        elif kind == 2:
            # a matched end token always ends at the first '>'
            pos = gt + 1
            tag = tag_hit
            if tag not in VOID_ELEMENTS:
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i].name == tag:
                        del stack[i:]
                        break
                # unmatched end tag: ignored (HTML5 recovery)
        elif kind == 3:
            pos = m.end()
            comment, cdata, decl = m.groups()
            if comment is not None:
                node = Comment(comment)
                if stack:
                    stack[-1].children.append(node)
                else:
                    root_children.append(node)
            elif cdata is not None:
                # CDATA payload is raw text (never unescaped)
                if cdata:
                    if stack:
                        ch = stack[-1].children
                        if ch and ch[-1].__class__ is str:
                            ch[-1] += cdata
                        else:
                            ch.append(cdata)
                    else:
                        root_children.append(cdata)
            else:
                tb.handle_decl(decl)
        else:
            # kind 4 (processing instruction): dropped, as html.parser
            # does
            pos = m.end()
