"""Basic-graph-pattern matching + graph isomorphism over term tuples —
the tests' per-document graph oracle (the library's distributed BGP
engine is pipeline/bgpq.py).

The W3C RDFa suite verifies each case by running a SPARQL ASK against
the parsed graph (/root/reference/spec/suite_spec.rb:51-53,
matchers.rb:42-65); every results file is a conjunctive ASK, i.e. a
BGP. This module gives us the same check without a SPARQL engine:

  - ``ask(graph, patterns)``: conjunctive match with variables
    (('var', name)) bound consistently via backtracking.
  - ``isomorphic(g1, g2)``: blank-node-bijective equality (the
    be_equivalent_graph matcher; rdf-isomorphic equivalent) via
    signature-guided backtracking — handles larger graphs than the
    factorial search used for tiny unit goldens.
"""

from __future__ import annotations

from collections import defaultdict

VAR = "var"


def v(name: str):
    return (VAR, name)


def _match_term(pattern_t, data_t, binding: dict):
    if pattern_t is None:
        return binding
    if pattern_t[0] == VAR:
        name = pattern_t[1]
        bound = binding.get(name)
        if bound is None:
            b2 = dict(binding)
            b2[name] = data_t
            return b2
        return binding if bound == data_t else None
    return binding if pattern_t == data_t else None


def ask(graph, patterns) -> bool:
    """True iff the conjunction of triple patterns has a solution.
    graph: iterable of (s, p, o) term tuples; patterns: list of
    (s, p, o) where each position is a term tuple, ('var', name), or
    None (wildcard)."""
    triples = list(graph)

    def solve(i: int, binding: dict) -> bool:
        if i == len(patterns):
            return True
        ps, pp, po = patterns[i]
        for (s, p, o) in triples:
            b = _match_term(ps, s, binding)
            if b is None:
                continue
            b = _match_term(pp, p, b)
            if b is None:
                continue
            b = _match_term(po, o, b)
            if b is None:
                continue
            if solve(i + 1, b):
                return True
        return False

    return solve(0, {})


def _signature(graph):
    """Per-bnode structural signature: multiset of grounded contexts."""
    sig = defaultdict(list)
    for (s, p, o) in graph:
        s_b, o_b = s[0] == "bnode", o[0] == "bnode"
        if s_b:
            sig[s[1]].append(("out", p, o if not o_b else ("bnode", "*")))
        if o_b:
            sig[o[1]].append(("in", p, s if not s_b else ("bnode", "*")))
    # key=repr: literal terms mix None and str in the same position,
    # which plain tuple comparison cannot order
    return {b: tuple(sorted(ctx, key=repr)) for b, ctx in sig.items()}


def isomorphic(g1, g2) -> bool:
    """Blank-node-bijection graph equality."""
    g1, g2 = set(g1), set(g2)
    if len(g1) != len(g2):
        return False

    def grounded(g):
        return {t for t in g
                if t[0][0] != "bnode" and t[2][0] != "bnode"}

    if grounded(g1) != grounded(g2):
        return False
    s1, s2 = _signature(g1), _signature(g2)
    if len(s1) != len(s2):
        return False
    # group candidate images by signature
    by_sig = defaultdict(list)
    for b, sg in s2.items():
        by_sig[sg].append(b)
    order = sorted(s1, key=lambda b: len(by_sig.get(s1[b], ())))

    def remap(t, m):
        return tuple(("bnode", m[x[1]]) if x[0] == "bnode" else x for x in t)

    def backtrack(i: int, mapping: dict, used: set) -> bool:
        if i == len(order):
            return {remap(t, mapping) for t in g1} == g2
        b = order[i]
        for cand in by_sig.get(s1[b], ()):
            if cand in used:
                continue
            mapping[b] = cand
            used.add(cand)
            # prune: all fully-mapped triples touching b must exist in g2
            ok = True
            for t in g1:
                names = [x[1] for x in (t[0], t[2]) if x[0] == "bnode"]
                if b in names and all(n in mapping for n in names):
                    if remap(t, mapping) not in g2:
                        ok = False
                        break
            if ok and backtrack(i + 1, mapping, used):
                return True
            del mapping[b]
            used.discard(cand)
        return False

    return backtrack(0, {}, set())
