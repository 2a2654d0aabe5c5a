"""Distributed entity linking (SURVEY.md J3; north_rule stage 2).

Two mechanisms, both absent from the single-document reference (it
never sees two documents at once):

1. **IRI canonicalization** — syntactic co-reference: scheme/host
   case, default ports, empty-path vs '/'. Pure JVM-side column
   expressions (whole-stage codegen; no Python).

2. **sameAs clustering** — semantic co-reference over
   owl:sameAs/schema:sameAs edges, via alternating small-star /
   large-star connected components (Kiveris et al., "Connected
   Components in MapReduce and Beyond", SoCC'14). Each iteration is a
   groupBy-min + join; converges in O(log n) rounds. Skewed hub
   entities are handled by AQE skew-join splitting (enabled in
   session.py) — the min-label tree never funnels through a single
   reducer key thanks to the star-splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SAMEAS_PREDICATES = (
    "http://www.w3.org/2002/07/owl#sameAs",
    "http://schema.org/sameAs",
)


def canonical_iri_col(col):
    """Syntactic IRI canonicalization as JVM expressions: lowercase
    scheme+authority, strip default http/https ports, add the root
    slash to authority-only URLs. Non-absolute identifiers (bnodes,
    urns without //) pass through unchanged."""
    c = F.concat(
        F.lower(F.regexp_extract(col, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1)),
        F.regexp_replace(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", ""),
    )
    c = F.regexp_replace(c, r"^(https?://[^/?#:]+):(?:80|443)($|[/?#])", r"$1$2")
    c = F.regexp_replace(c, r"^(https?://[^/?#]+)$", r"$1/")
    return F.when(col.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"), c).otherwise(col)


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node id
    (lexicographic). Alternating large-star/small-star; O(log n)
    rounds, every round a shuffle on node id.  Raises ValueError when
    labels still change after ``max_iter`` rounds."""
    # symmetrize + self-loops establish initial labels.
    # localCheckpoint (not just cache) truncates the logical plan each
    # round — iterative joins otherwise grow the lineage exponentially
    # and analysis time dominates. On a cluster with a checkpoint dir,
    # swap for df.checkpoint() to also survive executor loss.
    # symmetrize in ONE pass over the input (explode, not
    # union-with-swap: a union references `edges` twice and recomputes
    # the entire upstream plan — e.g. a fused minhash+LSH+verify
    # pipeline — twice before the checkpoint)
    e = (
        edges.select(F.explode(F.array(
            F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
            F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
        )).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        e.select(F.col("src").alias("node"), F.col("dst"))
        .groupBy("node")
        .agg(F.min("dst").alias("component"))
        .withColumn("component", F.least("node", "component"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # propagate: node adopts min(component of neighbors ∪ self).
        # The node's own previous label rides along in the same
        # aggregation (min over own-flagged rows), so convergence is a
        # cheap filter on the checkpointed result — no per-round
        # labels⋈labels shuffle join just to detect change.
        nbr = (
            e.join(labels, e["dst"] == labels["node"])
            .select(e["src"].alias("node"), "component",
                    F.lit(False).alias("own"))
        )
        merged = (
            labels.select("node", "component", F.lit(True).alias("own"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("own"), F.col("component"))).alias("old"),
            )
            .localCheckpoint(eager=False)
        )
        # pointer jump: follow the fresh label one more hop
        # (component := min(component, label(component))).  Pure
        # neighbor-min needs O(diameter) rounds — measured 15 rounds
        # (5s) on the near-dup chain graph at bench scale; the jump
        # halves every label chain per round, so convergence is
        # O(log diameter).  Every component value is itself a node id
        # (min over seen labels), so the left lookup always hits;
        # labels still only ever decrease toward the component min —
        # the fixpoint (and the min-id result) is unchanged.
        ptr = merged.select(F.col("node").alias("pnode"),
                            F.col("component").alias("pcomp"))
        jumped = (
            merged.join(ptr, merged["component"] == ptr["pnode"], "left")
            .select("node",
                    F.least(F.col("component"),
                            F.coalesce("pcomp", "component"))
                    .alias("component"),
                    "old")
            .localCheckpoint()
        )
        changed = jumped.filter(F.col("component") < F.col("old")).limit(1).count()
        labels = jumped.select("node", "component")
        if changed == 0:
            return labels
    raise ValueError(
        "connected components did not converge within %d rounds "
        "(labels still changing) — raise max_iter" % max_iter)


def sameas_clusters(triples: DataFrame) -> DataFrame:
    """Extract sameAs edges from a triples DF and cluster them.
    Returns (entity, canonical)."""
    edges = (
        triples.filter(F.col("pred").isin(*SAMEAS_PREDICATES))
        .filter(F.col("obj_kind") == "iri")
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )
    cc = connected_components(edges)
    return cc.select(F.col("node").alias("entity"),
                     F.col("component").alias("canonical"))


def link_entities(triples: DataFrame, use_sameas: bool = True,
                  max_broadcast_rows: int | None = 10_000_000) -> DataFrame:
    """Rewrite subj/obj to canonical entity IRIs.

    The cluster map is usually tiny relative to the corpus (only
    entities participating in sameAs edges); broadcast it so the
    100 TB triples table is never shuffled — two broadcast hash joins,
    zero exchanges on the big side.

    ``max_broadcast_rows`` guards the broadcast: above it (~400 MB of
    IRI pairs, the practical executor-memory ceiling long before
    spark.sql.autoBroadcastJoinThreshold matters) the joins fall back
    to shuffle hash joins — slower, but they can't OOM an executor.
    Pass None to force the broadcast unconditionally.
    """
    out = triples
    if use_sameas:
        cmap = sameas_clusters(triples)
        side = F.broadcast
        if max_broadcast_rows is not None:
            # the CC fixpoint materialized `cmap` via localCheckpoint,
            # so this count reuses that work rather than recomputing
            if cmap.count() > max_broadcast_rows:
                side = lambda df: df.hint("shuffle_hash")  # noqa: E731
        out = (
            out.join(side(cmap), out["subj"] == cmap["entity"], "left")
            .withColumn("subj", F.coalesce("canonical", "subj"))
            .drop("entity", "canonical")
        )
        cmap2 = cmap.withColumnRenamed("entity", "entity2").withColumnRenamed(
            "canonical", "canonical2")
        out = (
            out.join(side(cmap2),
                     (out["obj"] == cmap2["entity2"]) & (out["obj_kind"] == "iri"),
                     "left")
            .withColumn("obj", F.coalesce("canonical2", "obj"))
            .drop("entity2", "canonical2")
        )
    return out
