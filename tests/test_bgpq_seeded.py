"""Seed-restricted property-path evaluation (pipeline/bgpq.py):
a closure path with a CONSTANT endpoint iterates a frontier from the
seed instead of materializing the full closure — work proportional to
the reachable component, never the whole edge relation.  A closure
whose edge relation fits ``bgpq._DRIVER_EDGES`` is solved on the
driver; tests set it to 0 to cover the distributed loop too.  Reference
semantics: SPARQL 1.1 §9.3 (ALP evaluation is defined seed-first);
the reference gem delegates paths to the sparql gem
(suite_spec.rb:51-53)."""

import pytest
from pyspark.sql import functions as F

from rdf_rdfa_spark.pipeline import bgpq
from rdf_rdfa_spark.pipeline.bgpq import (
    alt, bgp_select, inv, one_or_more, seq, var,
    zero_or_more, zero_or_one)


@pytest.fixture(scope="module")
def two_components(spark):
    """One 3-node chain (a→b→c via p) plus a 60-node dense component
    on the SAME predicate — a seeded query from the chain must never
    touch the dense side."""
    rows = [("a", "p", "b"), ("b", "p", "c")]
    # dense: complete-ish digraph on h0..h59 (i → (i+k) mod 60)
    for i in range(60):
        for k in (1, 2, 3, 7, 11):
            rows.append(("h%d" % i, "p", "h%d" % ((i + k) % 60)))
    rows += [("a", "q", "x"), ("x", "r", "y"), ("c", "q", "z")]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string")


def _distributed_rounds(monkeypatch):
    """Force the distributed closure loop and record, per round, the
    (seed, n) rows it steps to — what a seeded closure explores."""
    monkeypatch.setattr(bgpq, "_DRIVER_EDGES", 0)
    rounds, real = [], bgpq._step

    def step(triples, path, frontier, fitted=None):
        out = real(triples, path, frontier, fitted)
        closure = isinstance(path, bgpq.Path) and path.op in ("plus", "star")
        if frontier is not None and not closure:
            rounds.append({tuple(r) for r in out.collect()})
        return out

    monkeypatch.setattr(bgpq, "_step", step)
    return rounds


def test_seeded_plus_bound_subject(spark, two_components, monkeypatch):
    def reach():
        return {r["y"] for r in bgp_select(
            two_components,
            [("a", one_or_more("p"), var("y"))]).collect()}

    assert reach() == {"b", "c"}
    rounds = _distributed_rounds(monkeypatch)
    assert reach() == {"b", "c"}
    # the BFS never left the 3-node chain for the dense side: 2
    # reachable nodes, and one extra empty round to detect the fixpoint
    assert set().union(*rounds) == {("a", "b"), ("a", "c")}
    assert len(rounds) <= 3


def test_seeded_plus_bound_object(spark, two_components, monkeypatch):
    # bound OBJECT seeds the inverted path: who reaches c via p+?
    def reach():
        return {r["x"] for r in bgp_select(
            two_components,
            [(var("x"), one_or_more("p"), "c")]).collect()}

    assert reach() == {"a", "b"}
    rounds = _distributed_rounds(monkeypatch)
    assert reach() == {"a", "b"}
    assert set().union(*rounds) == {("c", "b"), ("c", "a")}


def test_seeded_star_includes_seed_identity(spark, two_components,
                                            monkeypatch):
    def reach(seed):
        return {r["y"] for r in bgp_select(
            two_components,
            [(seed, zero_or_more("p"), var("y"))]).collect()}

    for bound in (bgpq._DRIVER_EDGES, 0):
        monkeypatch.setattr(bgpq, "_DRIVER_EDGES", bound)
        assert reach("a") == {"a", "b", "c"}
        # a term with NO edges still relates to itself over p* (SPARQL
        # zero-length-path semantics for a bound term)
        assert reach("nowhere") == {"nowhere"}


def test_seeded_zero_or_one(spark, two_components):
    got = {r["y"] for r in bgp_select(
        two_components, [("a", zero_or_one("q"), var("y"))]).collect()}
    assert got == {"a", "x"}


def test_seeded_seq_and_alt_and_inv(spark, two_components):
    # seq from a bound subject composes frontier joins step by step
    got = {r["y"] for r in bgp_select(
        two_components, [("a", seq("q", "r"), var("y"))]).collect()}
    assert got == {"y"}
    # alt unions the frontier steps
    got = {r["y"] for r in bgp_select(
        two_components, [("a", alt("p", "q"), var("y"))]).collect()}
    assert got == {"b", "x"}
    # inverse with bound subject: ^p from b = predecessors of b
    got = {r["y"] for r in bgp_select(
        two_components, [("b", inv("p"), var("y"))]).collect()}
    assert got == {"a"}
    # inverse pushed through a closure: b (^p)+ ?y walks backwards
    got = {r["y"] for r in bgp_select(
        two_components,
        [("c", one_or_more(inv("p")), var("y"))]).collect()}
    assert got == {"a", "b"}


def test_seeded_seq_of_closures(spark, two_components):
    # p+ then q: reach {b, c} then q-edges from there → {z}
    got = {r["y"] for r in bgp_select(
        two_components,
        [("a", seq(one_or_more("p"), "q"), var("y"))]).collect()}
    assert got == {"z"}


def _counting(monkeypatch, name):
    """Wrap ``bgpq.<name>`` so the test sees how often it is called."""
    calls, real = [], getattr(bgpq, name)

    def wrapped(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(bgpq, name, wrapped)
    return calls


def test_dense_closure_falls_back_to_distributed_loop(spark, monkeypatch):
    """A few edges can reach quadratically many pairs: a 6-cycle's 6
    edges fit a bound of 10, its 36 closure rows do not, so the driver
    BFS gives up and the distributed loop answers instead."""
    nodes = ["c%d" % i for i in range(6)]
    cycle = spark.createDataFrame(
        [(n, "p", nodes[(i + 1) % 6]) for i, n in enumerate(nodes)],
        "subj string, pred string, obj string")
    monkeypatch.setattr(bgpq, "_DRIVER_EDGES", 10)
    loops = _counting(monkeypatch, "_semi_naive")
    got = {(r["x"], r["y"]) for r in bgp_select(
        cycle, [(var("x"), one_or_more("p"), var("y"))]).collect()}
    assert got == {(a, b) for a in nodes for b in nodes}
    assert len(loops) == 1
    # seeded, the 6 rows it reaches fit: solved on the driver
    got = {r["y"] for r in bgp_select(
        cycle, [("c0", one_or_more("p"), var("y"))]).collect()}
    assert got == set(nodes)
    assert len(loops) == 1


@pytest.mark.parametrize("bound", ["default", 0])
def test_nested_closure_sized_once(spark, monkeypatch, bound):
    """(p+/q)+ runs one outer round per q hop; its nested p+ decides
    whether its edges fit once, not once per outer round."""
    chain = ["x%d" % i for i in range(7)]
    triples = spark.createDataFrame(
        [(a, "pq"[i % 2], b) for i, (a, b) in enumerate(zip(chain,
                                                              chain[1:]))],
        "subj string, pred string, obj string")
    if bound == 0:
        monkeypatch.setattr(bgpq, "_DRIVER_EDGES", 0)
    probes = _counting(monkeypatch, "_fits")
    got = {(r["x"], r["y"]) for r in bgp_select(
        triples,
        [(var("x"), one_or_more(seq(one_or_more("p"), "q")),
          var("y"))]).collect()}
    evens = chain[::2]
    assert got == {(a, b) for i, a in enumerate(evens) for b in evens[i + 1:]}
    # one probe for the nested p+, one for the outer closure's edges
    assert len(probes) == 2


def _ask(triples, patterns) -> bool:
    """SPARQL ASK: does the group have at least one solution?"""
    return bool(bgp_select(triples, patterns).limit(1).take(1))


def test_seeded_both_endpoints_constant_ask(spark, two_components):
    assert _ask(two_components, [("a", one_or_more("p"), "c")])
    assert not _ask(two_components, [("a", one_or_more("p"), "h0")])
    # x p* x is always true for a bound term
    assert _ask(two_components,
                [("nowhere", zero_or_more("p"), "nowhere")])


def test_seeded_matches_unseeded(spark, two_components):
    """The seeded evaluation agrees with filtering the full closure
    on every constant endpoint of the dense component."""
    full = {(r["x"], r["y"]) for r in bgp_select(
        two_components,
        [(var("x"), one_or_more("p"), var("y"))]).collect()}
    for seed_node in ("a", "h0"):
        seeded = {r["y"] for r in bgp_select(
            two_components,
            [(seed_node, one_or_more("p"), var("y"))]).collect()}
        assert seeded == {o for s, o in full if s == seed_node}


def test_path_rejects_tagged_literal_endpoint(spark, two_components):
    from rdf_rdfa_spark.pipeline.bgpq import lit

    with pytest.raises(ValueError, match="tagged-literal"):
        bgp_select(two_components,
                   [(var("x"), one_or_more("p"), lit("b", "en", None))])


def test_user_var_with_double_underscore(spark, two_components):
    # ?a__b is an ordinary variable (only the reserved suffixes are
    # metadata); reserved-suffix names raise
    got = {r["a__b"] for r in bgp_select(
        two_components, [("a", "p", var("a__b"))]).collect()}
    assert got == {"b"}
    with pytest.raises(ValueError, match="reserved metadata suffix"):
        bgp_select(two_components, [("a", "p", var("x__lang"))])


def test_group_level_filters(spark, two_components):
    # dict-shaped sub-groups carry group-scoped filters (the SPARQL
    # front end compiles OPTIONAL { ... FILTER ... } to this)
    rows = bgp_select(
        two_components,
        [(var("s"), "q", var("o"))],
        optional=[{"patterns": [(var("o"), "r", var("m"))],
                   "filters": [F.col("m") != "y"]}],
    ).collect()
    by_s = {r["s"]: r["m"] for r in rows}
    assert by_s["a"] is None  # x r y filtered away inside the group
    assert by_s["c"] is None  # z has no r edge at all
    # MINUS with a group filter that matches nothing removes nothing
    rows = bgp_select(
        two_components,
        [(var("s"), "q", var("o"))],
        minus=[{"patterns": [(var("s"), "p", var("t"))],
                "filters": ["t = 'never'"]}],
    ).collect()
    assert {r["s"] for r in rows} == {"a", "c"}


def test_values_seeded_closure(spark, two_components, monkeypatch):
    """VALUES fixing one endpoint of a closure path seeds the frontier
    from the literal set — the constant-endpoint optimization
    generalized to bound sets; the BFS never explores the dense
    component."""
    def reach(var_name, cells):
        return {(r["x"], r["y"]) for r in bgp_select(
            two_components,
            [(var("x"), one_or_more("p"), var("y"))],
            values=([var_name], [(c,) for c in cells]),
        ).collect()}

    want = {"a": {("a", "b"), ("a", "c")},
            # object-side VALUES runs the inverted path
            "c": {("a", "c"), ("b", "c")},
            # multi-value seed set
            "ab": {("a", "b"), ("a", "c"), ("b", "c")}}
    assert reach("x", "a") == want["a"]
    assert reach("y", "c") == want["c"]
    assert reach("x", "ab") == want["ab"]
    rounds = _distributed_rounds(monkeypatch)
    assert reach("x", "a") == want["a"]
    assert set().union(*rounds) == {("a", "b"), ("a", "c")}
    rounds.clear()
    assert reach("y", "c") == want["c"]
    assert set().union(*rounds) == {("c", "b"), ("c", "a")}


def test_sparql_values_seeded_path(spark, two_components, monkeypatch):
    from rdf_rdfa_spark.pipeline.sparql import sparql

    def reach():
        return {(r["x"], r["y"]) for r in sparql(two_components, """
            SELECT ?x ?y WHERE {
              ?x <p>+ ?y . VALUES ?x { "a" }
            }""").collect()}

    assert reach() == {("a", "b"), ("a", "c")}
    rounds = _distributed_rounds(monkeypatch)
    assert reach() == {("a", "b"), ("a", "c")}
    assert set().union(*rounds) == {("a", "b"), ("a", "c")}
