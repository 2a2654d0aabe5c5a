"""rdf_rdfa_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
ruby-rdf/rdf-rdfa (RDFa 1.1 Core + HTML5 host language).

Layout:
  rdfa/      pure-Python RDFa 1.1 parser (runs inside Arrow/pandas UDFs)
  pipeline/  distributed stages: extract, expand (entailment), fold,
             link (entity linking), canonicalize (MinHash), materialize

Reference parity is cited per-module as /root/reference/<file>:<line>.
"""

__version__ = "0.1.0"

# convenience top-level API
from .rdfa.walk import parse_rdfa  # noqa: E402,F401
from .rdfa.vocab import register_vocabulary  # noqa: E402,F401


def _lazy(module, name):
    """Spark-touching entry points import lazily so that plain
    `import rdf_rdfa_spark` stays Spark-free for pure-parser users."""
    def call(*a, **kw):
        import importlib

        return getattr(importlib.import_module(module, __name__), name)(*a, **kw)
    call.__name__ = name
    call.__doc__ = "Lazy wrapper for %s.%s" % (module, name)
    return call


extract_triples = _lazy(".pipeline.extract", "extract_triples")
extract_text = _lazy(".pipeline.extract", "extract_text")
serialize_rdfa = _lazy(".writer", "serialize_rdfa")
read_warc_pages = _lazy(".sources.warc", "read_warc_pages")
read_jsonl_pages = _lazy(".sources.jsonl", "read_jsonl_pages")
materialize_resumable = _lazy(".pipeline.materialize", "materialize_resumable")
read_triples = _lazy(".pipeline.materialize", "read_triples")
bgp_select = _lazy(".pipeline.bgpq", "bgp_select")
bgp_ask = _lazy(".pipeline.bgpq", "bgp_ask")
bgp_aggregate = _lazy(".pipeline.bgpq", "bgp_aggregate")
bgp_construct = _lazy(".pipeline.bgpq", "bgp_construct")
bgp_union = _lazy(".pipeline.bgpq", "bgp_union")
sparql = _lazy(".pipeline.sparql", "sparql")
sparql_update = _lazy(".pipeline.sparql", "sparql_update")
