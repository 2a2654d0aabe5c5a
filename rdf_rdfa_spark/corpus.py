"""Deterministic CC-style page corpus + its triple/text oracle.

The driver's `documents.parquet` (doc_id, text, lang, source, n_chars)
is turned into the BASELINE.json input_hint shape
``pages(url, warc_ts, html, text, lang)`` **with pure SQL string
expressions** that are valid in BOTH Spark SQL and DuckDB. Because
page HTML is a deterministic SQL function of the document row, the
expected RDFa triples are themselves expressible as SQL over the same
table — giving the extraction pipeline a value-level DuckDB oracle
(tests/test_oracles.py), not just a row count.

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
PREV_IRI_EXPR = ("'http://host' || %s || '.example.org/doc/' || (doc_id - 1)"
                 % HOST_EXPR)
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

SCHEMA = "http://schema.org/"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"

# cons-cell bnode label: the rdfa:copy page allocates _:pat => b0 first
_CONS_LABEL = "CASE WHEN doc_id % 7 = 0 THEN 'b1' ELSE 'b0' END"
_CONS_SK = "'_:' || md5(({u}) || '|' || {l})".format(u=URL_EXPR, l=_CONS_LABEL)


def _select(subj, pred, obj, kind="'iri'", lang="NULL", datatype="NULL",
            where=None):
    q = (
        "SELECT {u} AS url, {s} AS subj, '{p}' AS pred, {o} AS obj, "
        "{k} AS obj_kind, {lg} AS lang, {dt} AS datatype, "
        "CAST(NULL AS VARCHAR) AS graph FROM documents"
    ).format(u=URL_EXPR, s=subj, p=pred, o=obj, k=kind, lg=lang, dt=datatype)
    if where:
        q += " WHERE " + where
    return q


def triples_oracle_sql() -> str:
    """Expected extraction output as one dialect-common SQL query."""
    d = DOC_IRI_EXPR
    lit = "'literal'"
    parts = [
        _select(d, RDF_NS + "type", "'%sArticle'" % SCHEMA),
        _select(d, SCHEMA + "identifier", "'' || doc_id", lit,
                datatype="'%sinteger'" % XSD_NS),
        _select(d, SCHEMA + "inLanguage", "lang", lit, lang="lang"),
        _select(d, SCHEMA + "genre", "source", lit, lang="lang"),
        _select(d, SCHEMA + "wordCount", "'' || n_chars", lit,
                datatype="'%sinteger'" % XSD_NS),
        _select(d, SCHEMA + "isBasedOn", PREV_IRI_EXPR, where="doc_id > 0"),
        _select(d, SCHEMA + "text", "text", lit, lang="lang"),
        # @inlist list: (doc keywords cons) (cons first "kwN"@lang) (cons rest nil)
        _select(d, SCHEMA + "keywords", _CONS_SK, "'bnode'",
                where="doc_id % 5 = 0"),
        _select(_CONS_SK, RDF_NS + "first", "'kw' || doc_id", lit,
                lang="lang", where="doc_id % 5 = 0"),
        _select(_CONS_SK, RDF_NS + "rest", "'%snil'" % RDF_NS,
                where="doc_id % 5 = 0"),
        # folded rdfa:copy pattern
        _select(d, SCHEMA + "publisher", "'Publisher ' || (doc_id % 3)", lit,
                lang="lang", where="doc_id % 7 = 0"),
        # embedded turtle
        _select(d, SCHEMA + "sameAs", MIRROR_IRI_EXPR,
                where="doc_id % 11 = 0"),
        # microdata item (schema.org vocab derivation; value language
        # DOM-inherited from <html lang>)
        _select("%s || '/md'" % d, RDF_NS + "type", "'%sThing'" % SCHEMA,
                where="doc_id % 17 = 0"),
        _select("%s || '/md'" % d, SCHEMA + "name", "'md' || doc_id",
                "'literal'", lang="lang", where="doc_id % 17 = 0"),
        # embedded RDF/XML island (no xml:lang in scope → NULL lang)
        _select(d, "http://purl.org/dc/terms/source", "'src' || doc_id",
                "'literal'", where="doc_id % 19 = 0"),
        # JSON-LD script (absolute @id, JSON-native integer datatype)
        _select(d, RDF_NS + "type", "'%sDataset'" % SCHEMA,
                where="doc_id % 23 = 0"),
        _select(d, SCHEMA + "version", "'' || doc_id", "'literal'",
                datatype="'%sinteger'" % XSD_NS, where="doc_id % 23 = 0"),
    ]
    return "\nUNION ALL\n".join(parts)


PAGES_SQL = (
    "SELECT {u} AS url, "
    "CAST('2026-01-01 00:00:00' AS TIMESTAMP) AS warc_ts, "
    "CAST(({h}) AS BINARY) AS html, "
    "{t} AS text, lang "
    "FROM documents"
)


def pages_sql(dialect: str = "spark") -> str:
    """The pages-table query; `html` is BINARY on Spark, BLOB on DuckDB."""
    # .replace, not .format: HTML_EXPR/TEXT_EXPR contain literal JSON
    # braces (the JSON-LD snippet) that str.format would eat
    cast = "CAST(({h}) AS BINARY)" if dialect == "spark" else "encode({h})"
    return (
        "SELECT {u} AS url, "
        "CAST('2026-01-01 00:00:00' AS TIMESTAMP) AS warc_ts, "
        + cast.replace("{h}", HTML_EXPR)
        + " AS html, {t} AS text, lang FROM documents"
    ).replace("{u}", URL_EXPR).replace("{t}", TEXT_EXPR)


def pages_df(spark, sf_dir: str, repeat: int = 1):
    """documents.parquet → pages DataFrame (input_hint shape).

    ``repeat`` deterministically amplifies the corpus for throughput
    benchmarking (doc_ids shifted per replica so urls stay unique);
    correctness paths use repeat=1."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    parallelism = spark.sparkContext.defaultParallelism * 2
    if repeat > 1:
        # shuffle-free amplification: a pre-partitioned range drives
        # (replica, slice) pairs; the small docs table is broadcast and
        # equi-joined on slice. Every partition synthesizes its pages
        # locally — zero exchanges before the parse UDF, so the Python
        # workers get the whole machine.
        n = 10 ** 8  # shift well past any real doc_id
        g = max(1, -(-parallelism // repeat))  # slices per replica
        reps = spark.range(0, repeat * g, 1, repeat * g).select(
            (F.col("id") % g).alias("_slice"),
            (F.col("id") / g).cast("long").alias("_r"),
        )
        sliced = docs.withColumn("_slice", F.pmod(F.xxhash64("doc_id"), F.lit(g)))
        docs = (
            reps.join(F.broadcast(sliced), "_slice")
            .withColumn("doc_id", F.col("doc_id") + F.col("_r") * n)
            .drop("_r", "_slice")
        )
    elif docs.rdd.getNumPartitions() < parallelism:
        # the test parquet is a single tiny file → one input split; at
        # 100 TB the scan has thousands of splits, but a small upstream
        # must not starve the parse stage
        docs = docs.repartition(parallelism)
    docs.createOrReplaceTempView("documents")
    return spark.sql(pages_sql("spark"))
