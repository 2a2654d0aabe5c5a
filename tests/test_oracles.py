"""Value oracles: every query here is built from library calls in
Spark and re-derived independently as DuckDB SQL over the same
``documents.parquet``; the two answers must be the same multiset of
rows with the same columns.

The RDFa corpus is synthesized deterministically from
documents.parquet with SQL expressions shared verbatim between Spark
and DuckDB (rdf_rdfa_spark/corpus.py), so even the HTML→triples
extraction path has a full value-level oracle.

``QUERIES`` maps a query name to ``(builder, oracle_sql)``; the
builders are ``(spark, sf_dir) → DataFrame`` and test_plans.py checks
their physical plans.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import DataFrame, SparkSession, functions as F

from rdf_rdfa_spark import corpus
from rdf_rdfa_spark.pipeline.bgpq import bgp_select, one_or_more, var
from rdf_rdfa_spark.pipeline.expand import entail
from rdf_rdfa_spark.pipeline.export import export_rdfa_pages
from rdf_rdfa_spark.pipeline.extract import extract_triples
from rdf_rdfa_spark.pipeline.link import sameas_clusters
from rdf_rdfa_spark.pipeline.materialize import read_triples, stream_materialize
from rdf_rdfa_spark.pipeline.sparql import sparql, sparql_update
from rdf_rdfa_spark.rdfa.terms import RDF_TYPE

from reference_oracles import triples_oracle_sql

CLASS_NS = "http://kg.example.org/class/"
PROP_NS = "http://kg.example.org/prop/"
DOC_NS = "http://kg.example.org/doc/"

_TRIPLE_COLS = ["url", "subj", "pred", "obj", "obj_kind", "lang", "datatype", "graph"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


# --- RDFa extraction ------------------------------------------------------

def q_rdfa_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = corpus.pages_df(spark, sf_dir)
    return extract_triples(pages).select(*_TRIPLE_COLS)


def _kg_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extracted triples behind a LAZY materialization barrier, for the
    BGP/SPARQL queries: the query compilers reference the store once
    per triple pattern, and without the barrier every pattern scan
    re-runs the whole page-parse pipeline.  Results are identical (a
    barrier, not a transform)."""
    return q_rdfa_extract(spark, sf_dir).localCheckpoint(eager=False)


def q_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed writer closure: extract → export RDFa pages
    (applyInPandas per url) → RE-extract → per-url triple counts.
    Counts match the corpus oracle iff the writer loses/merges
    nothing; per-page graph isomorphism is checked separately
    (test_writer_spec.py)."""
    triples = extract_triples(corpus.pages_df(spark, sf_dir))
    pages2 = export_rdfa_pages(triples)
    return (
        extract_triples(pages2)
        .groupBy("url")
        .agg(F.count("*").alias("n_triples"))
    )


def q_stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ingest under the value oracle: the same pages, written
    as page files, go through stream_materialize → extraction → store
    (several commits of up to 3 files), and the store must hold exactly
    the batch oracle's rows — batch ≡ stream."""
    work = tempfile.mkdtemp(prefix="stream_extract_")
    atexit.register(shutil.rmtree, work, True)
    in_dir = os.path.join(work, "pages")
    root = os.path.join(work, "store")
    corpus.pages_df(spark, sf_dir).repartition(8).write.parquet(in_dir)
    stream_materialize(spark, in_dir, root, os.path.join(work, "ckpt"),
                       max_files_per_trigger=3).awaitTermination()
    # the store names the extractor's NULL default graph "output"
    return (read_triples(spark, root)
            .withColumn("graph", F.expr("nullif(graph, 'output')"))
            .select(*_TRIPLE_COLS))


def q_rdfa_pred_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q_rdfa_extract(spark, sf_dir)
        .groupBy("pred")
        .agg(F.count("*").alias("n"))
    )


def q_rdfa_processor_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = corpus.pages_df(spark, sf_dir)
    triples = extract_triples(pages, include_processor=True)
    return (
        triples.filter(F.col("graph") == "processor")
        .groupBy("pred")
        .agg(F.count("*").alias("n"))
    )


# --- BGP / SPARQL over the extracted KG -------------------------------------

def _based_on_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``doc_n basedOn doc_{n-1}``, broken at every 10th doc, so each
    decade is its own 9-edge chain."""
    return (
        _docs(spark, sf_dir)
        .filter("doc_id % 10 != 0 AND doc_id > 0")
        .selectExpr(
            "'%s' || doc_id AS subj" % DOC_NS,
            "'%sbasedOn' AS pred" % PROP_NS,
            "'%s' || (doc_id - 1) AS obj" % DOC_NS,
        )
    )


def q_kg_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Articles with their genre, OPTIONALly joined with a sameAs
    mirror: required patterns compile to inner joins on the shared
    subject variable, the OPTIONAL group to a left join (NULL m where
    the page has no Turtle script)."""
    return bgp_select(
        _kg_store(spark, sf_dir),
        [(var("d"), RDF_TYPE, "http://schema.org/Article"),
         (var("d"), "http://schema.org/genre", var("g"))],
        optional=[[(var("d"), "http://schema.org/sameAs", var("m"))]],
    )


def q_kg_bgp_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Articles with a genre that have NO sameAs mirror (MINUS →
    left-anti join), first 100 by (d, g) (ORDER BY + LIMIT →
    TakeOrderedAndProject, never a global sort)."""
    return bgp_select(
        _kg_store(spark, sf_dir),
        [(var("d"), RDF_TYPE, "http://schema.org/Article"),
         (var("d"), "http://schema.org/genre", var("g"))],
        minus=[[(var("d"), "http://schema.org/sameAs", var("m"))]],
    ).orderBy("d", "g").limit(100)


def q_kg_bgp_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``x basedOn+ y`` — transitive closure with both endpoints free:
    the semi-naive frontier loop starts from the whole edge relation
    and takes one round per chain hop; the output scales linearly with
    the corpus (45 pairs per decade).  Oracle: a DuckDB recursive
    CTE."""
    return bgp_select(
        _based_on_chain(spark, sf_dir),
        [(var("x"), one_or_more(PROP_NS + "basedOn"), var("y"))])


def q_kg_bgp_path_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``<doc19> basedOn+ ?y`` — a frontier seeded from the bound
    subject, iterated to fixpoint (work ∝ the reachable chain, 9 docs)
    instead of the full closure.  Oracle: a seeded recursive CTE."""
    return bgp_select(
        _based_on_chain(spark, sf_dir),
        [(DOC_NS + "19", one_or_more(PROP_NS + "basedOn"), var("y"))])


def q_kg_bgp_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Articles per genre (GROUP BY + COUNT over the distinct solution
    set; the groupBy partial-aggregates map-side)."""
    return bgp_select(
        _kg_store(spark, sf_dir),
        [(var("d"), RDF_TYPE, "http://schema.org/Article"),
         (var("d"), "http://schema.org/genre", var("g"))],
    ).groupBy("g").agg(F.count("*").alias("n_docs"))


def q_kg_sparql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kg_bgp_minus authored as SPARQL text, so the parser sits under
    the same oracle."""
    return sparql(_kg_store(spark, sf_dir), """
        PREFIX schema: <http://schema.org/>
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        SELECT ?d ?g WHERE {
          ?d rdf:type schema:Article ; schema:genre ?g .
          FILTER NOT EXISTS { ?d schema:sameAs ?m }
        } ORDER BY ?d ?g LIMIT 100""")


def q_kg_sparql_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERs over the store's lang/datatype columns: every
    integer-typed or English-tagged object in the KG."""
    return sparql(q_rdfa_extract(spark, sf_dir), """
        SELECT ?d ?p ?v WHERE {
          ?d ?p ?v .
          FILTER (DATATYPE(?v) =
                    <http://www.w3.org/2001/XMLSchema#integer>
                  || LANG(?v) = "en")
        }""")


def q_kg_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH-scoped SPARQL: per-predicate counts of the processor
    graph."""
    pages = corpus.pages_df(spark, sf_dir)
    triples = extract_triples(pages, include_processor=True)
    return sparql(triples, """
        SELECT ?p (COUNT(*) AS ?n) WHERE {
          GRAPH <processor> { ?s ?p ?w }
        } GROUP BY ?p""")


def q_kg_sparql_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery + HAVING: genres with ≥ 3 mirrored articles, then every
    article of those genres."""
    return sparql(_kg_store(spark, sf_dir), """
        PREFIX schema: <http://schema.org/>
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        SELECT ?d ?g WHERE {
          ?d rdf:type schema:Article ; schema:genre ?g .
          { SELECT ?g WHERE { ?x schema:genre ?g ; schema:sameAs ?m }
            GROUP BY ?g HAVING (COUNT(*) >= 3) }
        } ORDER BY ?d ?g LIMIT 120""")


def q_kg_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE: every store triple about the articles of one genre."""
    return sparql(_kg_store(spark, sf_dir), """
        PREFIX schema: <http://schema.org/>
        DESCRIBE ?d WHERE { ?d schema:genre "src0" }
    """).select("subj", "pred", "obj")


def q_kg_sparql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional UPDATE: rename every schema:genre edge to
    schema:category; the update returns the new triples DataFrame."""
    updated = sparql_update(_kg_store(spark, sf_dir), """
        PREFIX schema: <http://schema.org/>
        DELETE { ?d schema:genre ?g }
        INSERT { ?d schema:category ?g }
        WHERE { ?d schema:genre ?g }""")
    return updated.select("subj", "pred", "obj")


# --- entailment and entity linking -------------------------------------------

def _class_tbox(spark):
    rows = [(CLASS_NS + "src%d" % i, "http://www.w3.org/2000/01/rdf-schema#subClassOf",
             CLASS_NS + "group%d" % (i % 4)) for i in range(20)]
    rows += [(CLASS_NS + "group%d" % g, "http://www.w3.org/2000/01/rdf-schema#subClassOf",
              CLASS_NS + "Document") for g in range(4)]
    rows.append((CLASS_NS + "group0", "http://www.w3.org/2002/07/owl#equivalentClass",
                 CLASS_NS + "primary"))
    return spark.createDataFrame(rows, "sub string, rel string, sup string")


def _prop_tbox(spark):
    rows = [
        (PROP_NS + "basedOn", "http://www.w3.org/2000/01/rdf-schema#subPropertyOf",
         PROP_NS + "cites"),
        (PROP_NS + "cites", "http://www.w3.org/2000/01/rdf-schema#subPropertyOf",
         PROP_NS + "refs"),
        (PROP_NS + "cites", "http://www.w3.org/2002/07/owl#equivalentProperty",
         PROP_NS + "quotes"),
    ]
    return spark.createDataFrame(rows, "sub string, rel string, sup string")


def q_entail_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    abox = _docs(spark, sf_dir).selectExpr(
        "'%s' || doc_id AS subj" % DOC_NS,
        "'%s' AS pred" % RDF_TYPE,
        "'%s' || source AS obj" % CLASS_NS,
    )
    return entail(abox, _class_tbox(spark))


def q_entail_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    abox = (
        _docs(spark, sf_dir)
        .filter("doc_id > 0")
        .selectExpr(
            "'%s' || doc_id AS subj" % DOC_NS,
            "'%sbasedOn' AS pred" % PROP_NS,
            "'%s' || (doc_id - 1) AS obj" % DOC_NS,
        )
    )
    return entail(abox, _prop_tbox(spark))


def q_entity_link_sameas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sameas_clusters(q_rdfa_extract(spark, sf_dir))


# --- DuckDB oracles ---------------------------------------------------------

_ENTAIL_CLASSES_SQL = """
WITH abox AS (
  SELECT '{doc}' || doc_id AS subj,
         '{cls}' || source AS src_class,
         CAST(substr(source, 4) AS INT) % 4 AS grp
  FROM documents
)
SELECT subj, '{t}' AS pred, src_class AS obj FROM abox
UNION
SELECT subj, '{t}', '{cls}group' || grp FROM abox
UNION
SELECT subj, '{t}', '{cls}Document' FROM abox
UNION
SELECT subj, '{t}', '{cls}primary' FROM abox WHERE grp = 0
""".format(doc=DOC_NS, cls=CLASS_NS, t=RDF_TYPE)

_ENTAIL_PROPS_SQL = """
WITH abox AS (
  SELECT '{doc}' || doc_id AS subj, '{doc}' || (doc_id - 1) AS obj
  FROM documents WHERE doc_id > 0
)
SELECT subj, '{p}basedOn' AS pred, obj FROM abox
UNION ALL SELECT subj, '{p}cites', obj FROM abox
UNION ALL SELECT subj, '{p}refs', obj FROM abox
UNION ALL SELECT subj, '{p}quotes', obj FROM abox
""".format(doc=DOC_NS, p=PROP_NS)

_ENTITY_LINK_SQL = """
SELECT '{doc}' || doc_id AS entity, '{doc}' || doc_id AS canonical
FROM documents WHERE doc_id % 11 = 0
UNION ALL
SELECT 'http://mirror.example.net/doc/' || doc_id, '{doc}' || doc_id
FROM documents WHERE doc_id % 11 = 0
""".format(doc=DOC_NS)

_KG_BGP_PATH_SQL = """
WITH RECURSIVE e AS (
  SELECT '{doc}' || doc_id AS s, '{doc}' || (doc_id - 1) AS o
  FROM documents WHERE doc_id % 10 <> 0 AND doc_id > 0
), p AS (
  SELECT s, o FROM e
  UNION
  SELECT p.s, e.o FROM p JOIN e ON p.o = e.s
)
SELECT s AS x, o AS y FROM p
""".format(doc=DOC_NS)

_KG_BGP_PATH_SEEDED_SQL = """
WITH RECURSIVE e AS (
  SELECT doc_id AS s, doc_id - 1 AS o
  FROM documents WHERE doc_id % 10 <> 0 AND doc_id > 0
), r AS (
  SELECT o FROM e WHERE s = 19
  UNION
  SELECT e.o FROM r JOIN e ON r.o = e.s
)
SELECT '{doc}' || o AS y FROM r
""".format(doc=DOC_NS)

_ARTICLE_GENRE_SQL = """
  FROM t p1
  JOIN t p3 ON p3.subj = p1.subj AND p3.pred = 'http://schema.org/genre'
  WHERE p1.pred = '{rdf_type}' AND p1.obj = 'http://schema.org/Article'
""".format(rdf_type=RDF_TYPE)

_KG_BGP_SQL = """
WITH t AS ({t})
SELECT DISTINCT p1.subj AS d, p3.obj AS g, p2.obj AS m
FROM t p1
JOIN t p3 ON p3.subj = p1.subj AND p3.pred = 'http://schema.org/genre'
LEFT JOIN t p2 ON p2.subj = p1.subj
              AND p2.pred = 'http://schema.org/sameAs'
WHERE p1.pred = '{rdf_type}' AND p1.obj = 'http://schema.org/Article'
"""

_KG_BGP_MINUS_SQL = """
WITH t AS ({t})
SELECT DISTINCT p1.subj AS d, p3.obj AS g
{article_genre}
  AND NOT EXISTS (SELECT 1 FROM t p2 WHERE p2.subj = p1.subj
                  AND p2.pred = 'http://schema.org/sameAs')
ORDER BY d, g LIMIT 100
"""

_KG_BGP_AGG_SQL = """
WITH t AS ({t})
SELECT g, COUNT(*) AS n_docs FROM (
  SELECT DISTINCT p1.subj AS d, p3.obj AS g
  {article_genre}
) GROUP BY g
"""

_KG_SPARQL_SUB_SQL = """
WITH t AS ({t}),
sol AS (
  SELECT DISTINCT p1.subj AS d, p3.obj AS g
  {article_genre}
),
mg AS (
  -- the subquery counts over its DISTINCT (x, g, m) solution set
  SELECT g FROM (
    SELECT DISTINCT p1.subj AS x, p1.obj AS g, p2.obj AS m
    FROM t p1
    JOIN t p2 ON p2.subj = p1.subj
             AND p2.pred = 'http://schema.org/sameAs'
    WHERE p1.pred = 'http://schema.org/genre'
  ) GROUP BY g HAVING COUNT(*) >= 3
)
SELECT d, g FROM sol JOIN mg USING (g) ORDER BY d, g LIMIT 120
"""

_PROCESSOR_COUNTS_SQL = """
SELECT pred, n FROM (
  SELECT '{t}' AS pred, COUNT(*) AS n FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT 'http://purl.org/dc/terms/description', COUNT(*) FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT 'http://www.w3.org/ns/rdfa#context', COUNT(*) FROM documents WHERE doc_id % 13 = 0
) WHERE n > 0
""".format(t=RDF_TYPE)

def _queries() -> dict:
    """name → (builder, DuckDB SQL)."""
    triples = triples_oracle_sql()
    kg = {"t": triples, "rdf_type": RDF_TYPE,
          "article_genre": _ARTICLE_GENRE_SQL}
    return {
        "rdfa_extract": (q_rdfa_extract, triples),
        # batch ≡ stream: the streamed store matches the same oracle
        "stream_extract": (q_stream_extract, triples),
        "writer_roundtrip": (
            q_writer_roundtrip,
            "SELECT url, COUNT(*) AS n_triples FROM (%s) GROUP BY url"
            % triples),
        "rdfa_pred_counts": (
            q_rdfa_pred_counts,
            "SELECT pred, COUNT(*) AS n FROM (%s) GROUP BY pred" % triples),
        "rdfa_processor_counts": (q_rdfa_processor_counts,
                                  _PROCESSOR_COUNTS_SQL),
        "kg_bgp": (q_kg_bgp, _KG_BGP_SQL.format(**kg)),
        "kg_bgp_minus": (q_kg_bgp_minus, _KG_BGP_MINUS_SQL.format(**kg)),
        "kg_bgp_path": (q_kg_bgp_path, _KG_BGP_PATH_SQL),
        "kg_bgp_path_seeded": (q_kg_bgp_path_seeded,
                               _KG_BGP_PATH_SEEDED_SQL),
        "kg_bgp_agg": (q_kg_bgp_agg, _KG_BGP_AGG_SQL.format(**kg)),
        # the SPARQL-text path has kg_bgp_minus's solution set
        "kg_sparql": (q_kg_sparql, _KG_BGP_MINUS_SQL.format(**kg)),
        "kg_sparql_meta": (
            q_kg_sparql_meta,
            "SELECT subj AS d, pred AS p, obj AS v FROM (%s) "
            "WHERE datatype = 'http://www.w3.org/2001/XMLSchema#integer'"
            " OR lang = 'en'" % triples),
        # GRAPH <processor> scoping ≡ the processor-counts oracle
        # (processor bnodes are skolemized per document, so distinct
        # (s, p, o) rows equal raw rows)
        "kg_sparql_graph": (
            q_kg_sparql_graph,
            _PROCESSOR_COUNTS_SQL.replace("SELECT pred, n FROM",
                                          "SELECT pred AS p, n FROM")),
        "kg_sparql_sub": (q_kg_sparql_sub, _KG_SPARQL_SUB_SQL.format(**kg)),
        # with per-document unique subjects, DELETE (d, genre, g) +
        # INSERT (d, category, g) is exactly a predicate rewrite
        "kg_sparql_update": (
            q_kg_sparql_update,
            "SELECT subj, CASE WHEN pred = 'http://schema.org/genre' "
            "THEN 'http://schema.org/category' ELSE pred END AS pred, "
            "obj FROM (%s)" % triples),
        "kg_sparql_describe": (
            q_kg_sparql_describe,
            "SELECT subj, pred, obj FROM (%s) WHERE subj IN ("
            "SELECT DISTINCT subj FROM (%s) WHERE "
            "pred = 'http://schema.org/genre' AND obj = 'src0')"
            % (triples, triples)),
        "entail_classes": (q_entail_classes, _ENTAIL_CLASSES_SQL),
        "entail_props": (q_entail_props, _ENTAIL_PROPS_SQL),
        "entity_link_sameas": (q_entity_link_sameas, _ENTITY_LINK_SQL),
    }


QUERIES = _queries()


def _rows(df) -> Counter:
    """pandas frame → multiset of rows, columns in name order."""
    df = df[sorted(df.columns)]
    return Counter(
        tuple(None if v is None or v != v else v for v in row)
        for row in df.astype(object).itertuples(index=False, name=None))


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM '%s'"
            % os.path.join(sf_dir, "documents.parquet"))
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_matches_duckdb(spark, sf_dir, duck, name):
    build, sql = QUERIES[name]
    got = build(spark, sf_dir).toPandas()
    want = duck.sql(sql).df()
    assert sorted(got.columns) == sorted(want.columns), name
    got_rows, want_rows = _rows(got), _rows(want)
    assert got_rows == want_rows, (
        "%s: spark-only %s, oracle-only %s" % (
            name, sorted(got_rows - want_rows, key=str)[:3],
            sorted(want_rows - got_rows, key=str)[:3]))
