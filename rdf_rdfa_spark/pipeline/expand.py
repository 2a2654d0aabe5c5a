"""Vocabulary-expansion entailment as distributed joins (SURVEY.md J1).

The reference applies six OWL-RL-ish rules by fixpoint-looping
RDF::Query conjunctions over the in-memory repository
(/root/reference/lib/rdf/rdfa/expansion.rb:139-170, 196-233):

    prp-spo1   p1 subPropertyOf p2      ∧ x p1 y      ⇒ x p2 y
    prp-eqp1/2 p1 equivalentProperty p2 ∧ x p1|p2 y   ⇒ x p2|p1 y
    cax-sco    c1 subClassOf c2         ∧ x type c1   ⇒ x type c2
    cax-eqc1/2 c1 equivalentClass c2    ∧ x type c1|c2 ⇒ x type c2|c1

Spark-first design: these rules are LINEAR in the A-box — chains only
grow through the T-box. So instead of fixpoint-scanning the 100 TB
A-box (the reference's `while old_count < count` loop, expansion.rb:219),
we transitively close the **T-box on the driver** (it is KB-sized; the
reference itself pre-filters it to 4 schema predicates,
expansion.rb:200-211) and do ONE broadcast hash join per rule family.
A-box passes: exactly one. No shuffle except the final distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..rdfa.terms import RDF_TYPE
from ..rdfa.vocab import VOCAB_REGISTRY, tbox_closures


def entail(triples: DataFrame, tbox: DataFrame) -> DataFrame:
    """A-box closure under the 6 rules. ``triples`` has at least
    (subj, pred, obj); extra columns are preserved on inferred rows.

    tbox: DataFrame(sub, rel, sup) — collected to the driver (tiny by
    construction; the reference holds it in memory too) and closed
    there; the A-box is joined ONCE per rule family against the
    broadcast closed T-box.
    """
    rows = [(r["sub"], r["rel"], r["sup"]) for r in tbox.collect()]
    prop_pairs, class_pairs = tbox_closures(rows)
    spark = triples.sparkSession

    out = triples
    if prop_pairs:
        pm = spark.createDataFrame(prop_pairs, "p1 string, p2 string")
        inferred_p = (
            triples.join(F.broadcast(pm), triples["pred"] == pm["p1"])
            .drop("pred", "p1")
            .withColumnRenamed("p2", "pred")
            .select(*triples.columns)
        )
        out = out.unionByName(inferred_p)
    if class_pairs:
        cm = spark.createDataFrame(class_pairs, "c1 string, c2 string")
        typed = triples.filter(F.col("pred") == RDF_TYPE)
        inferred_c = (
            typed.join(F.broadcast(cm), typed["obj"] == cm["c1"])
            .drop("obj", "c1")
            .withColumnRenamed("c2", "obj")
            .select(*triples.columns)
        )
        out = out.unionByName(inferred_c)
    return out.distinct()


# --- vocabulary-driven expansion (reference `expand`, expansion.rb:16-38) --

RDFA_USESVOCABULARY = "http://www.w3.org/ns/rdfa#usesVocabulary"


def expand(triples: DataFrame, registry: dict | None = None) -> DataFrame:
    """Vocabulary expansion: collect the distinct rdfa:usesVocabulary
    objects (a tiny set — one row per distinct vocab in the corpus),
    assemble their T-boxes from the offline registry, and run the
    single-pass closure entailment. Unknown vocabularies are skipped
    (the reference records rdfa:UnresolvedVocabulary warnings —
    surfaced here via the returned DataFrame's unchanged rows)."""
    registry = VOCAB_REGISTRY if registry is None else registry
    vocabs = [
        r["obj"]
        for r in triples.filter(F.col("pred") == RDFA_USESVOCABULARY)
        .select("obj").distinct().collect()
    ]
    rows = []
    for v in vocabs:
        rows.extend(registry.get(v, ()))
    if not rows:
        return triples
    tbox = triples.sparkSession.createDataFrame(
        rows, "sub string, rel string, sup string")
    return entail(triples, tbox)
