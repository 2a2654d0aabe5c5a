"""Distributed entity linking (SURVEY.md J3; north_rule stage 2) —
absent from the single-document reference, which never sees two
documents at once.

One mechanism: **sameAs clustering**, semantic co-reference over
owl:sameAs/schema:sameAs edges.  An edge relation that fits on the
driver (``bgpq._DRIVER_EDGES`` rows) is collected once and labelled by
union-find, with no Spark round — SparkER and MinoanER (EDBT 2019)
likewise cluster on the driver once the graph fits.  A larger one runs
``bgpq._semi_naive``, the library's one distributed fixpoint loop.
`link_entities` rewrites subj/obj to each cluster's canonical
(lexicographic-min) IRI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import bgpq

SAMEAS_PREDICATES = (
    "http://www.w3.org/2002/07/owl#sameAs",
    "http://schema.org/sameAs",
)

# sameAs read in both directions: its closure is the undirected component
_BOTH_WAYS = bgpq.alt(*SAMEAS_PREDICATES, *map(bgpq.inv, SAMEAS_PREDICATES))

#: cluster-map rows above which the rewrite joins shuffle instead of
#: broadcasting: ~400 MB of IRI pairs, the practical executor-memory
#: ceiling long before spark.sql.autoBroadcastJoinThreshold matters
_MAX_BROADCAST_ROWS = 10_000_000


def _min_labels(edges) -> dict:
    """Undirected ``edges`` → {node: the min node of its component}, by
    union-find whose root is always its set's minimum."""
    parent: dict = {}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for s, o in edges:
        parent.setdefault(s, s)
        parent.setdefault(o, o)
        low, high = sorted((root(s), root(o)))
        parent[high] = low
    return {n: root(n) for n in parent}


def sameas_clusters(triples: DataFrame) -> DataFrame:
    """The IRI sameAs edges of a triples DF → (entity, canonical):
    every node of an undirected sameAs component, labelled with its
    lexicographic-min member.

    At most ``bgpq._DRIVER_EDGES`` edges are collected once and labelled
    on the driver by union-find.  Above that bound ``bgpq._semi_naive``
    (``bgpq._closure``'s distributed loop) steps over sameAs in both
    directions and each node takes the min it reaches: Σ|component|²
    reach rows and diameter + 1 rounds (cap 64, then ValueError), where
    min-label propagation with pointer jumping needs O(edges) rows and
    O(log diameter) rounds — the price of one fixpoint loop, paid only
    on a relation too big for the driver."""
    rows = triples.filter(F.col("pred").isin(*SAMEAS_PREDICATES)
                          & (F.col("obj_kind") == "iri"))
    edges = bgpq._fits(rows.select("subj", "obj").distinct())
    if edges is None:
        # checkpointed: every round steps over the rows again
        return (bgpq._semi_naive(rows.localCheckpoint(), _BOTH_WAYS, None,
                                 max_iters=64)
                .groupBy(F.col("seed").alias("entity"))
                .agg(F.min("n").alias("canonical")))
    return triples.sparkSession.createDataFrame(
        list(_min_labels(edges).items()), "entity string, canonical string")


def link_entities(triples: DataFrame) -> DataFrame:
    """Rewrite subj/obj to canonical entity IRIs.

    The cluster map (only entities in sameAs edges) is usually tiny
    next to the corpus, so two broadcast hash joins never shuffle the
    triples table.  Above ``_MAX_BROADCAST_ROWS`` they fall back to
    shuffle hash joins — slower, but they can't OOM an executor."""
    cmap = sameas_clusters(triples)
    side = F.broadcast
    if cmap.count() > _MAX_BROADCAST_ROWS:
        side = lambda df: df.hint("shuffle_hash")  # noqa: E731
    out = (triples.join(side(cmap), triples["subj"] == cmap["entity"], "left")
           .withColumn("subj", F.coalesce("canonical", "subj"))
           .drop("entity", "canonical"))
    obj = cmap.toDF("entity2", "canonical2")
    return (out.join(side(obj), (out["obj"] == obj["entity2"])
                     & (out["obj_kind"] == "iri"), "left")
            .withColumn("obj", F.coalesce("canonical2", "obj"))
            .drop("entity2", "canonical2"))
