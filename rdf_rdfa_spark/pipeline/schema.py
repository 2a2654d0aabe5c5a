"""Spark schemas for the pipeline (SURVEY.md §1.1-1.2).

Input (BASELINE.json input_hint): ``pages(url string, warc_ts
timestamp, html binary, text string, lang string)``.

Output triple rows: only nullable strings — columnar-friendly, no
nested types in the public schema.
"""

from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# one row per emitted statement; graph NULL = output graph,
# 'processor' = diagnostics (reader.rb:459-466 routing)
TRIPLES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("obj_kind", StringType(), False),  # iri|bnode|literal
        StructField("lang", StringType(), True),
        StructField("datatype", StringType(), True),
        StructField("graph", StringType(), True),
    ]
)
