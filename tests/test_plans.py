"""Physical-plan shape assertions — the scale properties the code
comments promise, enforced by CI:

- column pruning reaches the parquet scan (only the page synthesizer
  reads every documents column),
- no CartesianProduct anywhere in production query plans (broadcast
  nested-loop against a broadcast-small side is allowed; an
  unbroadcast cartesian of two big sides never is).

The queries are the oracle-checked builders of test_oracles.py.  Plan
construction only — nothing executes."""

from __future__ import annotations

import re

import pytest

from test_oracles import QUERIES

# the A-box predicate is a literal constant, so Catalyst constant-folds
# it out of the equi-join against the tiny broadcast T-box closure —
# BNLJ with a pushed condition is the resulting (and fine) physical shape
_BNLJ_OK = {"entail_props"}

# queries whose page-synthesis step genuinely consumes every
# documents.parquet column (HTML_EXPR references all five)
_FULL_DOC_OK = {"rdfa_extract", "writer_roundtrip", "kg_bgp", "kg_bgp_minus",
                "kg_bgp_agg", "kg_sparql", "kg_sparql_meta",
                "kg_sparql_graph", "kg_sparql_sub", "kg_sparql_update",
                "kg_sparql_describe", "rdfa_pred_counts",
                "rdfa_processor_counts", "entity_link_sameas"}

_DOC_FULL = {"doc_id", "text", "lang", "source", "n_chars"}

# plan nodes a builder's docstring promises: ORDER BY + LIMIT as a
# top-k merge (never a global sort), GROUP BY with map-side partials
_PROMISED_NODE = {"kg_bgp_minus": "TakeOrderedAndProject",
                  "kg_sparql": "TakeOrderedAndProject",
                  "kg_bgp_agg": "partial_count"}


def _scans(plan: str):
    for ln in plan.splitlines():
        m = re.search(r"FileScan parquet \[([^\]]*)\].*?/(\w+)\.parquet", ln)
        if m:
            cols = {c.split("#")[0] for c in m.group(1).split(",") if c.strip()}
            yield m.group(2), cols


def _plan(spark, sf_dir, name):
    df = QUERIES[name][0](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_shape(spark, sf_dir, name):
    """Per-query physical-plan contract: no unbroadcast cartesian, a
    nested-loop join only where the documented broadcast-small cross
    join is the intended plan, the top-k / partial-aggregate nodes a
    builder promises, and column pruning reaching every
    documents scan (full-width reads only for the page synthesizer
    that needs all five columns)."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert _PROMISED_NODE.get(name, "") in plan, plan
    if "BroadcastNestedLoopJoin" in plan:
        assert name in _BNLJ_OK, \
            "%s: unexpected BroadcastNestedLoopJoin:\n%s" % (name, plan)
        assert "BroadcastExchange" in plan, \
            "%s: nested-loop join without a broadcast side" % name
    for table, cols in _scans(plan):
        if table == "documents" and name not in _FULL_DOC_OK:
            assert cols < _DOC_FULL, \
                "%s: unpruned documents scan reads %s" % (name, sorted(cols))

