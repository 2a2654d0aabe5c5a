"""Seeded Common-Crawl-style corpus generator with its own oracle.

Everything here is a pure function of the seed: the same seed gives
byte-identical WARC files, the same expected triples and the same
held-out append batches.

Page model
  * hosts are Zipf-popular; each host has one template (inline
    ``<style>``/``<script>``, a class-heavy nav list, wrapper divs and a
    footer), so pages of one host share most of their bytes;
  * page sizes are heavy-tailed (log-normal body, capped), ~30 KB mean;
  * about half the pages carry no structured data;
  * the rest mix RDFa islands (``@vocab http://example.org/vocab#``,
    ``@rel`` links, ``@inlist`` lists, ``rdfa:copy`` patterns) with
    microdata, JSON-LD and Turtle scripts;
  * a seeded subset of entities forms ``sameAs`` components with a
    heavy-tailed size distribution: mostly pairs and small trees, some
    long chains and a few hubs.

The oracle is built from the same model that renders the HTML, never
from the parser: ``expected[url]`` is the multiset of output-graph rows
``(subj, pred, obj, obj_kind, lang, datatype)`` with every blank node
written as ``_:`` (labels are skolem hashes in the store).
"""

from __future__ import annotations

import bisect
import datetime
import gzip
import io
import json
import math
import random
from dataclasses import dataclass, field

VOCAB = "http://example.org/vocab#"
SCHEMA = "http://schema.org/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF + "type"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
SCHEMA_SAMEAS = SCHEMA + "sameAs"
USES_VOCAB = "http://www.w3.org/ns/rdfa#usesVocabulary"
BNODE = "_:"

# class/property names the offline vocabulary registry knows about
# (Person/Persone, name/namee expand to foaf) next to ones it does not
RDFA_TYPES = ("Person", "Persone", "Organization", "Product")
RDFA_NAME_PROPS = ("name", "namee", "label")
MD_TYPES = ("Person", "Product", "Organization")
_WORDS = (
    "data graph page crawl store index query vocab entity link triple "
    "node edge host record parse token buffer stream batch shard cache "
    "alpha beta gamma delta omega river stone cloud field north south "
    "market price order item list table value frame layer model route "
    "spark arrow parquet column merge split join group count limit"
).split()
_NAMES = ("Ada", "Bo", "Chen", "Dana", "Eli", "Fay", "Gus", "Hana",
          "Ivo", "Jo", "Kai", "Lea", "Mo", "Nia", "Oto", "Zoë", "Łukasz",
          "René", "Sam", "Tao")


@dataclass
class Page:
    url: str
    host: int
    html: bytes
    triples: list            # expected output rows (see module docstring)
    structured: bool


@dataclass
class Corpus:
    seed: int
    pages: list                              # ingested by ingest/refine
    heldout: list                            # list of page batches
    components: dict                         # entity -> canonical (min)
    warc_files: dict = field(default_factory=dict)   # name -> bytes

    @property
    def expected(self) -> dict:
        return {p.url: p.triples for p in self.pages}

    @property
    def html_bytes(self) -> int:
        return sum(len(p.html) for p in self.pages)


def _zipf_sampler(rng: random.Random, n: int, s: float):
    cum, tot = [], 0.0
    for k in range(1, n + 1):
        tot += 1.0 / k ** s
        cum.append(tot)
    return lambda: bisect.bisect_left(cum, rng.random() * tot)


def entity_iri(i: int) -> str:
    return "http://data%d.example.org/id/%d" % (i % 7, i)


def _lit(value: str):
    return (value, "literal", None, None)


def _iri(value: str):
    return (value, "iri", None, None)


def _row(s: str, p: str, o) -> tuple:
    return (s, p) + tuple(o)


def _esc(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;")


# --- sameAs components -------------------------------------------------

# link.connected_components stops after max_iter=20 rounds and returns
# the labels it has, converged or not; its min-label propagation needs
# up to 24 rounds on a 32-long chain.  Chains stay short enough to
# converge in well under 20 rounds for every seed, so the workload
# never asks the library for an answer it cannot give.
MAX_CHAIN = 16

def _components(rng: random.Random, shape: random.Random,
                n_entities: int, share: float):
    """Partition ``share`` of the entities into sameAs components.
    Returns (edges, member -> canonical).  Sizes (2 + a capped Pareto
    draw) and shapes come from ``shape``, so every seed links the same
    structure; ``rng`` picks the members.  Large components alternate
    between chains and hubs, small ones are random trees."""
    budget = int(n_entities * share)
    sizes, total = [], 0
    while total < budget:
        size = min(1 + int(shape.paretovariate(1.2)), 80, budget - total)
        if size < 2:
            break
        sizes.append(size)
        total += size
    pool = list(range(n_entities))
    rng.shuffle(pool)
    edges, canon = [], {}
    pos, large = 0, 0
    for size in sizes:
        # the rank order of the members along the chain/tree also comes
        # from ``shape``: how many fixpoint rounds linking needs depends
        # on where the smallest IRI sits, and that must not vary by seed
        ranked = sorted(entity_iri(i) for i in pool[pos:pos + size])
        order = list(range(size))
        shape.shuffle(order)
        members = [ranked[j] for j in order]
        pos += size
        kind = "tree"
        if size >= 12:
            kind = ("chain", "hub")[large % 2]
            large += 1
        if kind == "chain":
            members = members[:MAX_CHAIN]
            size = len(members)
        for k in range(1, size):
            if kind == "chain":
                a, b = members[k - 1], members[k]
            elif kind == "hub":
                a, b = members[0], members[k]
            else:
                a, b = members[shape.randrange(k)], members[k]
            edges.append((a, b) if rng.random() < 0.5 else (b, a))
        low = min(members)
        for m in members:
            canon[m] = low
    return edges, canon


# --- host templates ------------------------------------------------------

def _template(rng: random.Random, host: int):
    classes = ["c%d-%s" % (host, rng.choice(_WORDS)) for _ in range(40)]
    style = "\n".join(
        ".%s{margin:%dpx;padding:%dpx;color:#%06x;font-size:%dpx}" % (
            c, rng.randrange(20), rng.randrange(20),
            rng.randrange(1 << 24), 10 + rng.randrange(8))
        for c in classes for _ in range(1 + rng.randrange(3)))
    script = "\n".join(
        "var cfg_%d_%d = {\"key\": \"%s\", \"n\": %d, \"on\": %s};" % (
            host, k, rng.choice(_WORDS), rng.randrange(10 ** 6),
            rng.choice(("true", "false")))
        for k in range(20 + rng.randrange(150)))
    nav = "".join(
        '<li class="nav-item %s"><a class="nav-link %s" href="/%s/%d.html">'
        "%s</a></li>" % (rng.choice(classes), rng.choice(classes),
                         rng.choice(_WORDS), k, rng.choice(_WORDS).title())
        for k in range(15 + rng.randrange(70)))
    footer = "".join(
        '<div class="%s"><a href="/about/%d">%s</a></div>'
        % (rng.choice(classes), k, rng.choice(_WORDS))
        for k in range(10 + rng.randrange(30)))
    head = ('<!DOCTYPE html>\n<html><head><meta charset="utf-8">'
            '<title>%%s</title><link rel="stylesheet" href="/s%d.css">'
            "<style>\n%s\n</style><script>\n%s\n</script></head>\n"
            '<body><div class="%s"><div class="%s"><nav class="%s"><ul>'
            "%s</ul></nav>" % (host, style, script, classes[0], classes[1],
                               classes[2], nav))
    tail = ('<footer class="%s">%s</footer></div></div></body></html>\n'
            % (classes[3], footer))
    return head, tail, classes


def _paragraphs(rng: random.Random, n: int):
    out = []
    for _ in range(n):
        words = " ".join(rng.choice(_WORDS) for _ in range(40 + rng.randrange(200)))
        out.append(words)
    return out


# --- structured-data islands -------------------------------------------

class _Builder:
    """Renders one page's structured-data islands and records the
    output rows the parser must emit for them."""

    def __init__(self, rng: random.Random, url: str):
        self.rng, self.url = rng, url
        self.html: list = []
        self.rows: list = []
        self.uses_vocab = False

    def name(self) -> str:
        n = "%s %s" % (self.rng.choice(_NAMES), self.rng.choice(_WORDS).title())
        return n + " & Co" if self.rng.random() < 0.1 else n

    def rdfa(self, subj: str, knows: list, same: list):
        rng = self.rng
        typ = rng.choice(RDFA_TYPES)
        prop = rng.choice(RDFA_NAME_PROPS)
        name = self.name()
        self.uses_vocab = True
        parts = ['<div class="card" vocab="%s" resource="%s" typeof="%s">'
                 % (VOCAB, subj, typ),
                 '<h2 property="%s">%s</h2>' % (prop, _esc(name))]
        self.rows += [_row(subj, RDF_TYPE, _iri(VOCAB + typ)),
                      _row(subj, VOCAB + prop, _lit(name))]
        for o in knows:
            parts.append('<a class="rel" rel="knows" href="%s">friend</a>' % o)
            self.rows.append(_row(subj, VOCAB + "knows", _iri(o)))
        for o in same:
            parts.append('<a rel="owl:sameAs" href="%s">same</a>' % o)
            self.rows.append(_row(subj, OWL_SAMEAS, _iri(o)))
        if rng.random() < 0.3:
            tags = [rng.choice(_WORDS) for _ in range(2 + rng.randrange(3))]
            parts.append("<ol>" + "".join(
                '<li property="tag" inlist="">%s</li>' % t for t in tags)
                + "</ol>")
            self.rows.append(_row(subj, VOCAB + "tag", (BNODE, "bnode", None, None)))
            for k, t in enumerate(tags):
                self.rows.append(_row(BNODE, RDF + "first", _lit(t)))
                self.rows.append(_row(
                    BNODE, RDF + "rest",
                    _iri(RDF + "nil") if k == len(tags) - 1
                    else (BNODE, "bnode", None, None)))
        pattern = None
        if rng.random() < 0.2:
            pattern = "#pat-%d" % rng.randrange(10 ** 6)
            parts.append('<link property="rdfa:copy" href="%s">' % pattern)
        parts.append("</div>")
        if pattern:
            org = rng.choice(_WORDS).title() + " Inc"
            parts.append('<div vocab="%s" resource="%s" typeof="rdfa:Pattern">'
                         '<span property="org">%s</span></div>'
                         % (VOCAB, pattern, org))
            self.rows.append(_row(subj, VOCAB + "org", _lit(org)))
        self.html.append("".join(parts))

    def microdata(self, subj: str | None, same: list):
        typ = self.rng.choice(MD_TYPES)
        name = self.name()
        s = subj if subj else BNODE
        itemid = ' itemid="%s"' % subj if subj else ""
        parts = ['<div class="md" itemscope itemtype="%s%s"%s>'
                 % (SCHEMA, typ, itemid),
                 '<span itemprop="name">%s</span>' % _esc(name)]
        self.rows += [_row(s, RDF_TYPE, _iri(SCHEMA + typ)),
                      _row(s, SCHEMA + "name", _lit(name))]
        for o in same:
            parts.append('<a itemprop="sameAs" href="%s">x</a>' % o)
            self.rows.append(_row(s, SCHEMA_SAMEAS, _iri(o)))
        parts.append("</div>")
        self.html.append("".join(parts))

    def jsonld(self, subj: str, same: list):
        typ = self.rng.choice(MD_TYPES)
        name = self.name()
        doc = {"@context": {"@vocab": SCHEMA}, "@id": subj, "@type": typ,
               "name": name}
        self.rows += [_row(subj, RDF_TYPE, _iri(SCHEMA + typ)),
                      _row(subj, SCHEMA + "name", _lit(name))]
        if same:
            doc["sameAs"] = [{"@id": o} for o in same]
            self.rows += [_row(subj, SCHEMA_SAMEAS, _iri(o)) for o in same]
        self.html.append('<script type="application/ld+json">%s</script>'
                         % json.dumps(doc, ensure_ascii=False))

    def turtle(self, subj: str, knows: list):
        price = "%d.%02d" % (self.rng.randrange(1000), self.rng.randrange(100))
        body = ["<%s> ex:price \"%s\"" % (subj, price)]
        self.rows.append(_row(subj, VOCAB + "price", _lit(price)))
        for o in knows:
            body.append("ex:knows <%s>" % o)
            self.rows.append(_row(subj, VOCAB + "knows", _iri(o)))
        self.html.append('<script type="text/turtle">@prefix ex: <%s> .\n%s .'
                         "</script>" % (VOCAB, " ;\n  ".join(body)))

    def finish(self):
        if self.uses_vocab:
            self.rows.append(_row(self.url, USES_VOCAB, _iri(VOCAB)))
        # the parser emits a graph: ground duplicates collapse, while
        # rows naming blank nodes are distinct nodes in the document
        seen, rows = set(), []
        for r in self.rows:
            if BNODE not in (r[0], r[2]):
                if r in seen:
                    continue
                seen.add(r)
            rows.append(r)
        return "\n".join(self.html), rows


# --- corpus --------------------------------------------------------------

def generate(seed: int, n_pages: int = 2000, n_heldout_batches: int = 8,
             heldout_batch_pages: int = 24, n_hosts: int = 60,
             mean_page_kb: float = 30.0, n_warc_files: int = 8) -> Corpus:
    rng = random.Random(seed)
    # the corpus' statistics (component sizes, page sizes, structured
    # share) are the same for every seed; the seed decides which page,
    # host and entity gets what
    shape = random.Random(n_pages)
    n_entities = max(20, n_pages)
    edges, canon = _components(rng, shape, n_entities, share=0.3)
    host_of = _zipf_sampler(rng, n_hosts, 1.1)
    entity_of = _zipf_sampler(rng, n_entities, 0.8)
    templates = [_template(rng, h) for h in range(n_hosts)]
    paras = _paragraphs(rng, 300)
    total = n_pages + n_heldout_batches * heldout_batch_pages
    structured = [k % 2 == 0 for k in range(total)]
    rng.shuffle(structured)
    # every sameAs edge lands on one main-corpus structured page
    sd_main = [i for i in range(n_pages) if structured[i]]
    edge_pages: dict = {}
    if not sd_main:
        edges, canon = [], {}
    for e in edges:
        edge_pages.setdefault(rng.choice(sd_main), []).append(e)
    # boilerplate is ~40% of a page on average; the content share is
    # log-normal so sizes are heavy-tailed around the mean
    body_mean = mean_page_kb * 1024 * 0.6
    sigma = 1.0
    mu = math.log(body_mean) - sigma * sigma / 2
    body_lens = [min(int(shape.lognormvariate(mu, sigma)), 300 * 1024)
                 for _ in range(total)]
    rng.shuffle(body_lens)
    pages = []
    for i in range(total):
        host = host_of()
        head, tail, classes = templates[host]
        url = "http://www.site%d.example.com/%s/%s-%d.html" % (
            host, rng.choice(_WORDS), rng.choice(_WORDS), i)
        body_len = body_lens[i]
        content, size = [], 0
        while size < body_len:
            p = paras[rng.randrange(len(paras))]
            content.append('<div class="%s"><p class="%s">%s</p></div>'
                           % (rng.choice(classes), rng.choice(classes), p))
            size += len(content[-1])
        sd_html, rows = "", []
        if structured[i]:
            b = _Builder(rng, url)
            subj = entity_iri(entity_of())
            same_by_subj: dict = {}
            for a, o in edge_pages.get(i, ()):
                same_by_subj.setdefault(a, []).append(o)
            knows = [entity_iri(entity_of())
                     for _ in range(rng.randrange(4))]
            # listing-style pages carry several cards (geometric count)
            while rng.random() < 0.7:
                b.rdfa(subj, knows, same_by_subj.pop(subj, []))
                subj = entity_iri(entity_of())
                knows = [entity_iri(entity_of())
                         for _ in range(rng.randrange(4))]
            if rng.random() < 0.3:
                md_subj = (entity_iri(entity_of())
                           if rng.random() < 0.8 else None)
                b.microdata(md_subj, same_by_subj.pop(md_subj, [])
                            if md_subj else [])
            if rng.random() < 0.3:
                js_subj = entity_iri(entity_of())
                b.jsonld(js_subj, same_by_subj.pop(js_subj, []))
            if rng.random() < 0.15:
                b.turtle(entity_iri(entity_of()),
                         [entity_iri(entity_of())
                          for _ in range(rng.randrange(3))])
            if not b.html and not same_by_subj:
                b.rdfa(subj, knows, [])
            # remaining sameAs edges: one carrier island per subject,
            # alternating RDFa and JSON-LD
            for k, (a, objs) in enumerate(sorted(same_by_subj.items())):
                if k % 2 == 0:
                    b.html.append('<div resource="%s">%s</div>' % (a, "".join(
                        '<a rel="owl:sameAs" href="%s">s</a>' % o
                        for o in objs)))
                    b.rows += [_row(a, OWL_SAMEAS, _iri(o)) for o in objs]
                else:
                    b.jsonld(a, objs)
            sd_html, rows = b.finish()
        cut = rng.randrange(len(content) + 1)
        html = "%s\n<main>%s\n%s\n%s</main>%s" % (
            head % ("page %d" % i), "\n".join(content[:cut]), sd_html,
            "\n".join(content[cut:]), tail)
        pages.append(Page(url, host, html.encode("utf-8"), rows, structured[i]))
    main = pages[:n_pages]
    held = [pages[n_pages + k * heldout_batch_pages:
                  n_pages + (k + 1) * heldout_batch_pages]
            for k in range(n_heldout_batches)]
    corpus = Corpus(seed, main, held, canon)
    corpus.warc_files = write_warcs(main, n_warc_files, seed)
    return corpus


# --- WARC serialization ------------------------------------------------

_EPOCH = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)


def _gz_member(data: bytes) -> bytes:
    # mtime=0 keeps the bytes a pure function of the input
    return gzip.compress(data, compresslevel=6, mtime=0)


def _record(rtype: str, uri: str | None, date: str, rid: str,
            payload: bytes, ctype: str, extra: str = "") -> bytes:
    hdr = "WARC/1.0\r\nWARC-Type: %s\r\nWARC-Date: %s\r\nWARC-Record-ID: <urn:uuid:%s>\r\n" % (
        rtype, date, rid)
    if uri:
        hdr += "WARC-Target-URI: %s\r\n" % uri
    hdr += "%sContent-Type: %s\r\nContent-Length: %d\r\n\r\n" % (
        extra, ctype, len(payload))
    return hdr.encode("utf-8") + payload + b"\r\n\r\n"


def _uuid(seed: int, n: int) -> str:
    h = "%032x" % (random.Random((seed << 24) ^ n).getrandbits(128))
    return "%s-%s-%s-%s-%s" % (h[:8], h[8:12], h[12:16], h[16:20], h[20:])


def write_warcs(pages, n_files: int, seed: int) -> dict:
    """Pages → {file name: gzip WARC bytes} in the Common Crawl layout:
    a warcinfo record, then request / response / metadata records per
    page, each record its own gzip member."""
    files = {}
    per = max(1, math.ceil(len(pages) / n_files))
    rid = 0
    for f in range(n_files):
        chunk = pages[f * per:(f + 1) * per]
        if not chunk:
            break
        out = io.BytesIO()
        date = _EPOCH.strftime("%Y-%m-%dT%H:%M:%SZ")
        info = b"software: perfbench-gen\r\nformat: WARC File Format 1.0\r\n"
        out.write(_gz_member(_record("warcinfo", None, date, _uuid(seed, rid),
                                     info, "application/warc-fields")))
        for k, p in enumerate(chunk):
            rid += 1
            ts = _EPOCH + datetime.timedelta(seconds=rid)
            date = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            host = p.url.split("/")[2]
            path = "/" + p.url.split("/", 3)[3]
            req = ("GET %s HTTP/1.1\r\nHost: %s\r\nUser-Agent: perfbench\r\n"
                   "Accept: text/html\r\n\r\n" % (path, host)).encode()
            out.write(_gz_member(_record(
                "request", p.url, date, _uuid(seed, 3 * rid), req,
                "application/http; msgtype=request")))
            http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
                    "\r\nContent-Length: %d\r\n\r\n" % len(p.html)).encode()
            out.write(_gz_member(_record(
                "response", p.url, date, _uuid(seed, 3 * rid + 1),
                http + p.html, "application/http; msgtype=response")))
            meta = b"fetchTimeMs: %d\r\n" % (100 + k % 900)
            out.write(_gz_member(_record(
                "metadata", p.url, date, _uuid(seed, 3 * rid + 2), meta,
                "application/warc-fields")))
        files["CC-BENCH-%05d-%03d.warc.gz" % (seed % 100000, f)] = out.getvalue()
    return files
