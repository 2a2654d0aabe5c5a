"""Triple extraction: the vectorized Arrow/pandas UDF stage.

One ``mapInPandas`` over the pages table (SURVEY.md §3.1; WARC
decoding and the export writer are the other two JVM→Python
boundaries). Each Arrow batch of page rows explodes into N triple
rows (a UDTF shape); there is no per-row Python API and no shuffle
in this stage: Catalyst plans it as
scan → project → MapInPandas, embarrassingly parallel across
partitions, so it scales linearly with executors at 100 TB.

Blank-node skolemization makes labels globally unique and stable
under task retry: ``_:md5(url ∥ local-label)`` — the reference's
per-reader bnode cache (reader.rb:495-498) is exactly a per-document
scope, so hashing the (url, label) pair preserves its semantics
across executors.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from ..rdfa.walk import parse_rdfa
from .schema import TRIPLES_SCHEMA

_COLS = ["url", "subj", "pred", "obj", "obj_kind", "lang", "datatype", "graph"]


def skolemize_label(url: str, label: str) -> str:
    return "_:" + hashlib.md5(("%s|%s" % (url, label)).encode("utf-8")).hexdigest()


def _term_str(t, url: str, skolemize: bool) -> tuple:
    """term tuple → (value, kind, lang, datatype) column cells."""
    kind = t[0]
    if kind == "iri":
        return t[1], "iri", None, None
    if kind == "bnode":
        v = skolemize_label(url, t[1]) if skolemize else "_:" + t[1]
        return v, "bnode", None, None
    return t[1], "literal", t[2], t[3]


def rows_for_document(html, url: str, skolemize: bool = True,
                      include_processor: bool = False) -> list:
    out, proc, _root = parse_rdfa(
        html, url=url,
        rdfagraph=("output", "processor") if include_processor else ("output",),
    )
    rows = []
    for (s, p, o) in out:
        sv, _sk, _, _ = _term_str(s, url, skolemize)
        ov, ok, lang, dt = _term_str(o, url, skolemize)
        rows.append((url, sv, p[1], ov, ok, lang, dt, None))
    if include_processor:
        for (s, p, o) in proc:
            sv, _sk, _, _ = _term_str(s, url, skolemize)
            ov, ok, lang, dt = _term_str(o, url, skolemize)
            rows.append((url, sv, p[1], ov, ok, lang, dt, "processor"))
    return rows


def extract_triples(pages_df, include_processor: bool = False):
    """pages(url, html[, ...]) → triples DataFrame (TRIPLES_SCHEMA).

    Column pruning: only url+html are shipped through Arrow, whatever
    else the pages table carries.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list = []
            for url, html in zip(pdf["url"].values, pdf["html"].values):
                try:
                    rows.extend(rows_for_document(
                        html, url, include_processor=include_processor))
                except Exception as e:  # never kill the task on one page
                    rows.append((url, "_:doc_error",
                                 "http://www.w3.org/ns/rdfa#context",
                                 "parse failure: %s" % e, "literal",
                                 None, None, "processor"))
            # columnar construction: 2-3x cheaper than row-tuple
            # inference, and this conversion is on the hot path
            if rows:
                yield pd.DataFrame(dict(zip(_COLS, zip(*rows))))
            else:
                yield pd.DataFrame({c: [] for c in _COLS})

    return pages_df.select("url", "html").mapInPandas(fn, TRIPLES_SCHEMA)
