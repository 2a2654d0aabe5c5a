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
from rdf_rdfa_spark.pipeline.bgpq import (
    bgp_aggregate, bgp_select, one_or_more, var)
from rdf_rdfa_spark.pipeline.canonicalize import (
    _PRIME, canonical_clusters, jaccard_verify, lsh_candidate_pairs,
    minhash_signatures, permutation_params)
from rdf_rdfa_spark.pipeline.expand import entail
from rdf_rdfa_spark.pipeline.export import export_rdfa_pages
from rdf_rdfa_spark.pipeline.extract import extract_text, extract_triples
from rdf_rdfa_spark.pipeline.link import sameas_clusters
from rdf_rdfa_spark.pipeline.materialize import read_triples, stream_materialize
from rdf_rdfa_spark.pipeline.sparql import sparql, sparql_update
from rdf_rdfa_spark.rdfa.terms import RDF_TYPE

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


def q_rdfa_text_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical extracted text invariant: mismatches (MUST be empty)."""
    pages = corpus.pages_df(spark, sf_dir)
    extracted = extract_text(pages).withColumnRenamed("text", "extracted")
    return (
        extracted.join(pages.select("url", "text"), "url")
        .filter((F.col("extracted") != F.col("text"))
                | F.col("extracted").isNull())
        .select("url")
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
        order_by=["d", "g"], limit=100,
    )


def q_kg_bgp_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``x basedOn+ y`` — transitive closure by distributed iterative
    doubling; the output scales linearly with the corpus (45 pairs per
    decade).  Oracle: a DuckDB recursive CTE."""
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
    set)."""
    return bgp_aggregate(
        _kg_store(spark, sf_dir),
        [(var("d"), RDF_TYPE, "http://schema.org/Article"),
         (var("d"), "http://schema.org/genre", var("g"))],
        group_by=["g"], aggs={"n_docs": F.count("*")})


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


# --- MinHash canonicalization -------------------------------------------------

def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of every 10th doc under shifted ids, as
    ONE scan plus a per-row id-shift generator (a union would read the
    ``text`` column twice)."""
    return _docs(spark, sf_dir).select(
        F.explode(
            F.when(F.expr("doc_id % 10 = 0"),
                   F.array(F.col("doc_id"), F.col("doc_id") + 1000000))
            .otherwise(F.array(F.col("doc_id")))
        ).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )


def _md5_60bit(t):
    """Token hash DuckDB can replay: the top 15 hex chars of md5 as a
    60-bit int (16^15 < 2^63, ANSI-safe).  The library default is the
    faster JVM xxhash64."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def _verified_pairs(docs: DataFrame, bands: int, max_bucket: int,
                    hash_fn=None) -> DataFrame:
    """Signatures → LSH candidates → exact verify at threshold 0.9."""
    sigs = minhash_signatures(docs, hash_fn=hash_fn)
    pairs = lsh_candidate_pairs(sigs, bands=bands, max_bucket=max_bucket,
                                num_hashes=64)
    # lazy barrier: gives AQE size stats for the pair side of the join
    pairs = pairs.localCheckpoint(eager=False)
    return jaccard_verify(pairs, docs, threshold=0.9)


def _jaccard_bp(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        "a", "b",
        F.floor(F.col("jaccard") * 10000).cast("long").alias("jaccard_bp"))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bands=16 (r=4) with uncapped buckets gives P(miss) ~ 4e-8 per
    pair at threshold 0.9, so the output equals the exact-Jaccard pair
    set."""
    return _jaccard_bp(_verified_pairs(_dup_corpus(spark, sf_dir),
                                       bands=16, max_bucket=1 << 40))


def q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production banding for threshold 0.9 (b=8/r=8) AND the
    max_bucket=64 skew cap, with the md5-60bit token hash so DuckDB can
    replay the exact signatures, band keys, bucket-size drops and
    verify join."""
    return _jaccard_bp(_verified_pairs(_dup_corpus(spark, sf_dir), bands=8,
                                       max_bucket=64, hash_fn=_md5_60bit))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over q_dedup_minhash's exhaustive pair set,
    i.e. over the exact-Jaccard graph."""
    verified = _verified_pairs(_dup_corpus(spark, sf_dir), bands=16,
                               max_bucket=1 << 40)
    return canonical_clusters(verified).select(
        F.col("id").cast("long").alias("id"),
        F.col("canonical").cast("long").alias("canonical"))


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

# documents ∪ copies of every 10th doc, as _dup_corpus builds it
_DUP_CORPUS_SQL = """
SELECT * FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
FROM documents WHERE doc_id % 10 = 0
"""

# exact token-set Jaccard over all pairs: the uncapped b=16/r=4 LSH
# banding at threshold 0.9 misses no pair, and the verify step uses the
# same tokenization
_DEDUP_MINHASH_SQL = """
WITH toks AS (
  SELECT doc_id AS id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
  FROM ({dup})
)
SELECT a.id AS a, b.id AS b,
       -- same float op order as the Spark side ((inter/union)*10000)
       -- so FLOOR never disagrees by one ulp
       CAST(FLOOR((len(list_intersect(a.t, b.t)) * 1.0
            / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))))
            * 10000) AS BIGINT) AS jaccard_bp
FROM toks a JOIN toks b ON a.id < b.id
WHERE len(list_intersect(a.t, b.t)) * 1.0
      / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.9
""".format(dup=_DUP_CORPUS_SQL)


def _dedup_minhash_capped_sql(bands: int = 8, num_hashes: int = 64,
                              max_bucket: int = 64,
                              threshold: float = 0.9) -> str:
    """Exact SQL replay of the PRODUCTION LSH path: md5-60bit token
    hashes mod the Mersenne prime, the 64 SplitMix64 permutations
    (a*h+b mod p — a,h < 2^31 so products stay in BIGINT), r-row band
    keys, bucket-size window [2, max_bucket], in-bucket pair
    generation, and the exact-Jaccard verify with the Spark float op
    order.  Band grouping uses the raw r-tuple string where Spark
    groups on xxhash64 of it — identical partitions (a Spark-side hash
    collision could only merge two buckets, P ~ 2^-64)."""
    r = num_hashes // bands
    params = permutation_params(num_hashes)
    mins = ",\n    ".join(
        "list_min(list_transform(h, x -> (%d * x + %d) %% %d))"
        % (a, b, _PRIME) for a, b in params)
    band_keys = ",\n    ".join(
        "array_to_string(list_slice(sig, %d, %d), ',')"
        % (j * r + 1, j * r + r) for j in range(bands))
    return """
WITH toks AS (
  SELECT doc_id AS id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
  FROM ({dup})
),
hashed AS (
  SELECT id, t,
    list_transform(t, tok ->
      list_sum(list_transform(range(1, 16), i ->
        CAST(strpos('0123456789abcdef', substring(md5(tok), i, 1)) - 1
             AS BIGINT) << ((15 - i) * 4))) % {prime}) AS h
  FROM toks
),
sigs AS (
  SELECT id, t, [
    {mins}
  ] AS sig FROM hashed
),
banded AS (
  SELECT id, t, b.b AS band,
         [{band_keys}][b.b + 1] AS key
  FROM sigs, (SELECT unnest(range(0, {bands})) AS b) b
),
buckets AS (
  SELECT band, key, list_sort(list(id)) AS ids
  FROM banded GROUP BY band, key
  HAVING len(list(id)) BETWEEN 2 AND {max_bucket}
),
cand AS (
  SELECT DISTINCT ids[i.i] AS a, ids[j.j] AS b
  FROM buckets,
       (SELECT unnest(range(1, {cap})) AS i) i,
       (SELECT unnest(range(2, {cap1})) AS j) j
  WHERE i.i < j.j AND j.j <= len(ids)
)
SELECT c.a, c.b,
       CAST(FLOOR((len(list_intersect(ta.t, tb.t)) * 1.0
            / (len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t))))
            * 10000) AS BIGINT) AS jaccard_bp
FROM cand c JOIN toks ta ON ta.id = c.a JOIN toks tb ON tb.id = c.b
WHERE len(list_intersect(ta.t, tb.t)) * 1.0
      / (len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t)))
      >= {thr}
""".format(dup=_DUP_CORPUS_SQL, prime=_PRIME, mins=mins,
           band_keys=band_keys, bands=bands, max_bucket=max_bucket,
           cap=max_bucket + 1, cap1=max_bucket + 2, thr=threshold)


# connected components over the exact near-dup graph as a recursive
# CTE: labels propagate along edges; the `comp < d` prune is safe
# because the component minimum is smaller than every intermediate
# node, so it always survives to reach the whole component. canonical
# matches Spark's connected_components (LEXICOGRAPHIC min over the
# stringified ids — both sides compare as VARCHAR).
_DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE
pairs AS (SELECT a, b FROM ({mh})),
e AS (SELECT CAST(a AS VARCHAR) AS s, CAST(b AS VARCHAR) AS d FROM pairs
      UNION SELECT CAST(b AS VARCHAR), CAST(a AS VARCHAR) FROM pairs),
n AS (SELECT DISTINCT s AS node FROM e),
cc AS (
  SELECT node, node AS comp FROM n
  UNION
  SELECT e.d AS node, cc.comp FROM cc JOIN e ON cc.node = e.s
  WHERE cc.comp < e.d
)
SELECT CAST(node AS BIGINT) AS id, CAST(MIN(comp) AS BIGINT) AS canonical
FROM cc GROUP BY node
""".format(mh=_DEDUP_MINHASH_SQL)


def _queries() -> dict:
    """name → (builder, DuckDB SQL)."""
    triples = corpus.triples_oracle_sql()
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
        "rdfa_text_identity": (
            q_rdfa_text_identity,
            "SELECT CAST(NULL AS VARCHAR) AS url WHERE 1=0"),
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
        "dedup_minhash": (q_dedup_minhash, _DEDUP_MINHASH_SQL),
        "dedup_minhash_capped": (q_dedup_minhash_capped,
                                 _dedup_minhash_capped_sql()),
        "dedup_clusters": (q_dedup_clusters, _DEDUP_CLUSTERS_SQL),
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
