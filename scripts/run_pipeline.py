#!/usr/bin/env python3
"""spark-submit entry point for the full KG-construction pipeline.

    spark-submit --py-files dist/rdf_rdfa_spark.zip scripts/run_pipeline.py \
        --input /path/to/pages_parquet --output /path/to/store \
        --chunks 64 [--expand] [--link]

Runs extraction → (optional entailment expansion) → (optional entity
linking) → resumable materialization: one snapshot commit per run,
whose manifest lists the url-hash chunk keys it ingested.  Re-running
with the same --output resumes: chunks the store's HEAD manifest lists
in its ``inputs`` are skipped.  --link/--expand commit the refined
triples as a store of their own under ``<output>/refined``, which
--export-pages then reads.

With --sf-dir instead of --input, synthesizes the deterministic
CC-style corpus from documents.parquet (testing/bench path).

Package the library for executors with:
    scripts/package.sh        # → dist/rdf_rdfa_spark.zip
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet dir of pages(url, warc_ts, html, text, lang)")
    src.add_argument("--input-warc", help="WARC file glob (Common Crawl layout)")
    src.add_argument("--input-jsonl", help="jsonl crawl dump glob")
    src.add_argument("--sf-dir", help="testdata sf dir (synthesize pages)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--chunks", type=int, default=16,
                    help="url-hash chunks that name the resume keys: a run "
                         "ingests every chunk HEAD lacks in one commit; "
                         "resume a store with its original count")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--expand", action="store_true",
                    help="apply vocabulary-expansion entailment to the store")
    ap.add_argument("--link", action="store_true",
                    help="rewrite subj/obj to canonical sameAs-cluster IRIs")
    ap.add_argument("--compact", action="store_true",
                    help="compact small store files after materialization "
                         "(rewritten as one snapshot)")
    ap.add_argument("--export-pages", action="store_true",
                    help="re-emit the (refined) store as RDFa pages "
                         "(distributed writer, one doc per url)")
    ap.add_argument("--sparql", metavar="QUERY",
                    help="after materialization, run a SPARQL query "
                         "(SELECT/ASK/CONSTRUCT subset) against the "
                         "store and print the result")
    ap.add_argument("--sparql-limit", type=int, default=20,
                    help="max rows printed for --sparql (default 20)")
    ap.add_argument("--sparql-update", metavar="UPDATE",
                    help="after materialization, apply a SPARQL UPDATE "
                         "(INSERT/DELETE DATA, DELETE WHERE, "
                         "DELETE{}INSERT{}WHERE{}) and commit the "
                         "result as a NEW STORE SNAPSHOT")
    ap.add_argument("--cores", type=int,
                    help="local task threads (default: $SPARK_GRAFT_CPUS, "
                         "else every CPU)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from rdf_rdfa_spark import corpus
    from rdf_rdfa_spark.pipeline import materialize
    from rdf_rdfa_spark.pipeline.expand import expand
    from rdf_rdfa_spark.pipeline.link import link_entities

    # under spark-submit the session/master comes from the submit args;
    # standalone (python scripts/run_pipeline.py) builds a local one
    active = SparkSession.getActiveSession()
    if active is None:
        from rdf_rdfa_spark.pipeline.session import get_spark

        spark = get_spark(app_name="rdfa-kg-pipeline", cores=args.cores)
    else:
        spark = active

    if args.input:
        pages = spark.read.parquet(args.input)
    elif args.input_warc:
        from rdf_rdfa_spark.sources import read_warc_pages

        pages = read_warc_pages(spark, args.input_warc)
    elif args.input_jsonl:
        from rdf_rdfa_spark.sources import read_jsonl_pages

        pages = read_jsonl_pages(spark, args.input_jsonl)
    else:
        pages = corpus.pages_df(spark, args.sf_dir)

    manifest = materialize.materialize_resumable(
        pages, args.output, chunks=args.chunks, buckets=args.buckets)

    if args.compact:
        manifest["compaction"] = materialize.compact_store(spark, args.output)

    # the refined triples are a store of their own, committed like an
    # update: a crash mid-refine leaves the previous refined snapshot whole
    refined = os.path.join(args.output, "refined")
    if args.expand or args.link:
        triples = materialize.read_triples(spark, args.output)
        if args.link:
            triples = link_entities(triples)
        if args.expand:
            triples = expand(triples)
        materialize.write_triples(
            triples, refined, buckets=materialize.store_buckets(args.output),
            mode="overwrite", kind="refine")
        manifest["refined"] = refined

    if args.export_pages:
        from rdf_rdfa_spark.pipeline.export import export_rdfa_pages

        src = materialize.read_triples(
            spark, refined if args.expand or args.link else args.output)
        out3 = os.path.join(args.output, "pages_rdfa")
        export_rdfa_pages(src).write.mode("overwrite").parquet(out3)
        manifest["exported_pages"] = out3

    if args.sparql_update:
        from rdf_rdfa_spark.pipeline.sparql import sparql_update

        store = materialize.read_triples(spark, args.output)
        updated = sparql_update(store, args.sparql_update)
        # the update is functional: commit it as a NEW bucketed store
        # root (the original store and its snapshots stay intact)
        out_u = os.path.join(args.output, "updated")
        materialize.write_triples(
            updated, out_u, buckets=materialize.store_buckets(args.output),
            mode="overwrite", kind="update")
        manifest["updated_store"] = out_u

    if args.sparql:
        from rdf_rdfa_spark.pipeline.sparql import sparql as run_sparql

        store = materialize.read_triples(spark, args.output)
        result = run_sparql(store, args.sparql,
                            buckets=materialize.store_buckets(args.output))
        if isinstance(result, bool):
            print(json.dumps({"ask": result}))
        else:
            result.show(args.sparql_limit, truncate=60)

    summary = materialize.lineage_summary(args.output)
    print(json.dumps({"manifest": manifest, "lineage": {
        "pages": summary["pages"], "triples": summary["triples"],
        "commits": len(summary["chunks"])}}))
    spark.stop()


if __name__ == "__main__":
    main()
