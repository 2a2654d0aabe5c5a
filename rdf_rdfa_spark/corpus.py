"""Deterministic CC-style page corpus for the value oracles.

The driver's `documents.parquet` (doc_id, text, lang, source, n_chars)
is turned into the BASELINE.json input_hint shape
``pages(url, warc_ts, html, text, lang)`` **with pure SQL string
expressions** that are valid in BOTH Spark SQL and DuckDB. Because
page HTML is a deterministic SQL function of the document row, the
expected RDFa triples are themselves expressible as SQL over the same
table — giving the extraction pipeline a value-level DuckDB oracle
(tests/reference_oracles.py, checked in tests/test_oracles.py), not
just a row count.

Page anatomy (every construct exercises a distinct part of the RDFa
state machine; citations are to the reference semantics):
  - @about/@typeof subject + typed literal @content/@datatype
  - plain literals with inherited xml lang (reader.rb:812-815)
  - @rel/@href object resolution against the page URL (RFC3986)
  - @inlist list → rdf:first/rest/nil with skolemized cons bnode
    (reader.rb:1343-1364; skolem = md5(url|label))
  - rdfa:copy/rdfa:Pattern folding (expansion.rb:172-190)
  - embedded <script type=text/turtle> (reader.rb:818-824)

Host skew: url host = floor((doc_id%50)²/50) — ~16% of pages land on
host0 (template-heavy-host skew per north_rule), 1 page in 50 on the
tail hosts.
"""

from __future__ import annotations

# --- shared SQL fragments (valid in Spark SQL AND DuckDB) ---------------

HOST_EXPR = "CAST(FLOOR((doc_id % 50) * (doc_id % 50) / 50.0) AS INT)"
URL_EXPR = "'http://host' || %s || '.example.org/page/' || doc_id" % HOST_EXPR
DOC_IRI_EXPR = "'http://kg.example.org/doc/' || doc_id"
MIRROR_IRI_EXPR = "'http://mirror.example.net/doc/' || doc_id"
ESC_TEXT_EXPR = (
    "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
)
SCRIPT_TTL_EXPR = (
    "'<' || {d} || '> <http://schema.org/sameAs> <' || {m} || '> .'"
    .format(d=DOC_IRI_EXPR, m=MIRROR_IRI_EXPR)
)

HTML_EXPR = (
    "'<!DOCTYPE html><html lang=\"' || lang || '\">'"
    " || '<head><title>Doc ' || doc_id || '</title></head><body>'"
    " || '<article about=\"' || {d} || '\" typeof=\"schema:Article\">'"
    " || '<span property=\"schema:identifier\" datatype=\"xsd:integer\" content=\"' || doc_id || '\"></span>'"
    " || '<span property=\"schema:inLanguage\" content=\"' || lang || '\"></span>'"
    " || '<span property=\"schema:genre\" content=\"' || source || '\"></span>'"
    " || '<span property=\"schema:wordCount\" datatype=\"xsd:integer\" content=\"' || n_chars || '\"></span>'"
    " || CASE WHEN doc_id > 0 THEN '<a rel=\"schema:isBasedOn\" href=\"/doc/' || (doc_id - 1) || '\"></a>' ELSE '' END"
    " || '<p property=\"schema:text\">' || {esc} || '</p>'"
    " || CASE WHEN doc_id % 5 = 0 THEN '<p property=\"schema:keywords\" inlist=\"\">kw' || doc_id || '</p>' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN"
    " '<link property=\"rdfa:copy\" resource=\"_:pat\">'"
    " || '<span resource=\"_:pat\" typeof=\"rdfa:Pattern\"><span property=\"schema:publisher\">Publisher ' || (doc_id % 3) || '</span></span>'"
    " ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN '<script type=\"text/turtle\">' || {ttl} || '</script>' ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN '<span about=\"\" property=\"unknownterm\">term</span>' ELSE '' END"
    # microdata item (S9 reader; itemid keeps it bnode-free so the
    # inlist/copy skolem labels stay stable)
    " || CASE WHEN doc_id % 17 = 0 THEN"
    " '<div itemscope itemtype=\"http://schema.org/Thing\" itemid=\"' || {d} || '/md\">'"
    " || '<span itemprop=\"name\">md' || doc_id || '</span></div>' ELSE '' END"
    # embedded RDF/XML island (S8 reader; rdf:about keeps it bnode-free)
    " || CASE WHEN doc_id % 19 = 0 THEN"
    " '<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\""
    " xmlns:dcx=\"http://purl.org/dc/terms/\">'"
    " || '<rdf:Description rdf:about=\"' || {d} || '\">'"
    " || '<dcx:source>src' || doc_id || '</dcx:source>'"
    " || '</rdf:Description></rdf:RDF>' ELSE '' END"
    # JSON-LD script (S7 jsonld reader; absolute @id, native integer)
    " || CASE WHEN doc_id % 23 = 0 THEN"
    " '<script type=\"application/ld+json\">{{\"@context\":\"https://schema.org\",\"@id\":\"'"
    " || {d} || '\",\"@type\":\"Dataset\",\"version\":' || doc_id || '}}</script>' ELSE '' END"
    " || '</article></body></html>'"
).format(d=DOC_IRI_EXPR, esc=ESC_TEXT_EXPR, ttl=SCRIPT_TTL_EXPR)

# inner_text of the page, exactly as the streaming tokenizer extracts it
TEXT_EXPR = (
    "'Doc ' || doc_id || text"
    " || CASE WHEN doc_id % 5 = 0 THEN 'kw' || doc_id ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN 'Publisher ' || (doc_id % 3) ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN {ttl} ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN 'term' ELSE '' END"
    " || CASE WHEN doc_id % 17 = 0 THEN 'md' || doc_id ELSE '' END"
    " || CASE WHEN doc_id % 19 = 0 THEN 'src' || doc_id ELSE '' END"
    " || CASE WHEN doc_id % 23 = 0 THEN"
    " '{{\"@context\":\"https://schema.org\",\"@id\":\"' || {d}"
    " || '\",\"@type\":\"Dataset\",\"version\":' || doc_id || '}}' ELSE '' END"
).format(ttl=SCRIPT_TTL_EXPR, d=DOC_IRI_EXPR)

def pages_sql() -> str:
    """The pages-table query over the ``documents`` view."""
    # .replace, not .format: HTML_EXPR/TEXT_EXPR contain literal JSON
    # braces (the JSON-LD snippet) that str.format would eat
    return (
        "SELECT {u} AS url, "
        "CAST('2026-01-01 00:00:00' AS TIMESTAMP) AS warc_ts, "
        "CAST(({h}) AS BINARY) AS html, {t} AS text, lang FROM documents"
    ).replace("{h}", HTML_EXPR).replace("{u}", URL_EXPR).replace(
        "{t}", TEXT_EXPR)


def pages_df(spark, sf_dir: str):
    """documents.parquet → pages DataFrame (input_hint shape)."""
    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    parallelism = spark.sparkContext.defaultParallelism * 2
    if docs.rdd.getNumPartitions() < parallelism:
        # the test parquet is a single tiny file → one input split; at
        # 100 TB the scan has thousands of splits, but a small upstream
        # must not starve the parse stage
        docs = docs.repartition(parallelism)
    docs.createOrReplaceTempView("documents")
    return spark.sql(pages_sql())
