"""Distributed pipeline stages (Spark-side).

extract → materialize → link → (expand) → export, and SPARQL over the
store, per SURVEY.md §3.1's Spark lifecycle: the only JVM→Python
boundary is the Arrow batch exchange inside ``extract`` (and the
writer inside ``export``); everything else is built-in DataFrame ops
(joins/aggregations) that Catalyst plans.
"""
