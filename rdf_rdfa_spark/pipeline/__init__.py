"""Distributed pipeline stages (Spark-side).

extract → materialize → link → (expand) → export, and SPARQL over the
store, per SURVEY.md §3.1's Spark lifecycle: the JVM→Python
boundaries are three ``mapInPandas`` Arrow batch exchanges (WARC
decoding in ``sources.warc``, extraction in ``extract`` and the writer
in ``export``); everything else is built-in DataFrame ops
(joins/aggregations) that Catalyst plans.
"""
