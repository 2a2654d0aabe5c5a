"""Reference implementations the pipeline is checked against.

- `triples_oracle_sql`: the expected extraction output of the
  synthesized corpus (rdf_rdfa_spark/corpus.py) as one SQL query valid
  in Spark SQL and DuckDB.
- `entail_fixpoint`: a literal port of the reference's entailment
  fixpoint loop (expansion.rb:219-232), the parity oracle for the
  one-pass `pipeline.expand.entail`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdf_rdfa_spark.corpus import (
    DOC_IRI_EXPR, HOST_EXPR, MIRROR_IRI_EXPR, URL_EXPR)
from rdf_rdfa_spark.rdfa.terms import (
    OWL_EQUIVCLASS,
    OWL_EQUIVPROP,
    RDFS_SUBCLASSOF,
    RDFS_SUBPROPERTYOF,
    RDF_NS,
    RDF_TYPE,
    XSD_NS,
)

PREV_IRI_EXPR = ("'http://host' || %s || '.example.org/doc/' || (doc_id - 1)"
                 % HOST_EXPR)

SCHEMA = "http://schema.org/"

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



def entail_fixpoint(triples: DataFrame, tbox: DataFrame,
                    max_iters: int = 20) -> DataFrame:
    """Literal port of the reference's fixpoint loop (expansion.rb:219-232)
    for verification against `entail` — one distributed join per
    iteration until no growth (ValueError if still growing after
    ``max_iters``). `entail` is the production path."""
    rows = [(r["sub"], r["rel"], r["sup"]) for r in tbox.collect()]
    prop, cls = set(), set()
    for sub, rel, sup in rows:
        if rel == RDFS_SUBPROPERTYOF:
            prop.add((sub, sup))
        elif rel == OWL_EQUIVPROP:
            prop.update([(sub, sup), (sup, sub)])
        elif rel == RDFS_SUBCLASSOF:
            cls.add((sub, sup))
        elif rel == OWL_EQUIVCLASS:
            cls.update([(sub, sup), (sup, sub)])
    spark = triples.sparkSession
    pm = spark.createDataFrame(list(prop) or [("", "")], "p1 string, p2 string")
    cm = spark.createDataFrame(list(cls) or [("", "")], "c1 string, c2 string")

    current = triples.distinct().localCheckpoint()
    count = current.count()
    for _ in range(max_iters):
        inf_p = (
            current.join(F.broadcast(pm), current["pred"] == pm["p1"])
            .drop("pred", "p1").withColumnRenamed("p2", "pred")
            .select(*current.columns)
        )
        typed = current.filter(F.col("pred") == RDF_TYPE)
        inf_c = (
            typed.join(F.broadcast(cm), typed["obj"] == cm["c1"])
            .drop("obj", "c1").withColumnRenamed("c2", "obj")
            .select(*current.columns)
        )
        nxt = current.unionByName(inf_p).unionByName(inf_c).distinct().localCheckpoint()
        nxt_count = nxt.count()
        if nxt_count == count:
            return nxt
        current, count = nxt, nxt_count
    raise ValueError(
        "entailment fixpoint did not converge within %d rounds (still "
        "growing) — raise max_iters" % max_iters)
