"""Full 4-stage KG-construction job — the ``spark-submit --py-files``
entry point the north rule names.

    python scripts/make_pyfiles_zip.py /tmp/parser_rdf_spark.zip
    spark-submit --master 'local[32]' --py-files /tmp/parser_rdf_spark.zip \
        scripts/run_pipeline.py --pages /path/pages.parquet \
        --out /path/kg --run-id run1 [--entities dict.parquet] \
        [--url-buckets 8] [--fail-after N]

Stages (SURVEY.md §1.3 / BASELINE.json north_star):
  1+2  HTML→text + detect/validate/parse (fused mapInArrow), bucket-by-
       bucket with snapshot-commit resume, edges partitioned by
       (url_bucket, pred_bucket), per-partition lineage metrics
       — all inside :class:`parser_rdf_spark.materialize.GraphWriter`.
  2.5  ontology extraction: classes/properties/shapes/prefixes tables.
  3    entity linking: optional salted broadcast dictionary
       canonicalization of edge endpoints, then connected components
       over owl:sameAs/rdfs:seeAlso equivalence edges.
  4    vertices table labelled with component ids.

``--fail-after N`` simulates a mid-job kill after N buckets; re-running
the same command resumes from the last bucket snapshot commit (the
summary line counts the buckets skipped). Exit code 0 only when every
bucket is processed.

Prints ONE JSON line with the run summary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="input pages parquet dir")
    ap.add_argument("--out", required=True, help="output root for the KG tables")
    ap.add_argument("--run-id", default=f"run-{int(time.time())}")
    ap.add_argument("--entities", default=None, help="optional entities(surface, canonical_iri) parquet")
    ap.add_argument("--url-buckets", type=int, default=8)
    ap.add_argument("--pred-buckets", type=int, default=64)
    ap.add_argument("--fail-after", type=int, default=None,
                    help="test hook: simulate a kill after N buckets")
    ap.add_argument("--no-maintenance", action="store_true",
                    help="skip post-run compaction + snapshot expiry")
    ap.add_argument("--keep-snapshots", type=int, default=2,
                    help="snapshots kept by post-run expiry (default 2)")
    ap.add_argument("--master", default="submit",
                    help="'submit' (default) inherits spark-submit's --master")
    args = ap.parse_args()

    from parser_rdf_spark.extract import extract_all
    from parser_rdf_spark.linking import canonicalize_triples, connected_components
    from parser_rdf_spark.materialize import GraphWriter, build_vertices, partition_metrics
    from parser_rdf_spark.session import build_session

    spark = build_session(app_name=f"kg-pipeline-{args.run_id}", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    pages = spark.read.parquet(args.pages)

    # stages 1+2+4a: resumable bucket loop → edges + lineage metrics
    writer = GraphWriter(args.out, url_buckets=args.url_buckets,
                         pred_buckets=args.pred_buckets)
    result = writer.run(spark, pages, args.run_id, fail_after_buckets=args.fail_after)

    # stage 2.5: ontology extraction reads the triples/docmeta tables the
    # bucket loop just materialized — the corpus is parsed exactly ONCE,
    # and a resumed run re-parses only the unfinished buckets
    triples = writer.triples(spark)
    docmeta = writer.docmeta(spark)
    if args.entities:
        entities = spark.read.parquet(args.entities)
        triples = canonicalize_triples(triples, entities).select(
            "doc_url", "graph",
            F.col("subj_canonical").alias("subj"), "pred", "obj_kind",
            F.col("obj_canonical").alias("obj_value"), "obj_lang",
            "obj_datatype", "line_no",
        )
    tables = extract_all(triples, docmeta=docmeta)
    for name, df in tables.items():
        if name.startswith("_"):
            continue  # shared resource aggregate, internal
        df.write.mode("overwrite").parquet(os.path.join(args.out, name))
    tables["_res"].unpersist()
    (
        docmeta.filter(F.col("prefixes").isNotNull())
        .select("doc_url", F.explode("prefixes").alias("prefix", "namespace"))
        .write.mode("overwrite")
        .parquet(os.path.join(args.out, "prefixes"))
    )

    # stage 3: cross-document IRI resolution — connected components over
    # equivalence edges (owl:sameAs + rdfs:seeAlso)
    edges = writer.edges(spark)
    equiv = edges.filter(
        F.col("pred").isin(
            "http://www.w3.org/2002/07/owl#sameAs",
            "http://www.w3.org/2000/01/rdf-schema#seeAlso",
        )
    ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    components = connected_components(equiv)

    # stage 4b: vertices labelled with component ids + their metrics
    vertices = build_vertices(edges, components=components)
    vertices.write.mode("overwrite").parquet(os.path.join(args.out, "vertices"))
    # url_bucket=-1: vertices are corpus-global; keeps the metrics table's
    # partition layout uniform with the per-bucket edge metrics
    (
        partition_metrics(vertices, "vertices", "iri", args.run_id)
        .withColumn("url_bucket", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("url_bucket")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(args.out, "metrics"))
    )

    # the corpus-global vertices metrics above were written OUTSIDE the
    # bucket loop's snapshot protocol — commit them so time travel /
    # compaction / expiry see the complete table state
    writer.snapshots.commit(
        writer._table_files(), "append-global-metrics", {"run_id": args.run_id}
    )

    # VoID dataset descriptor, riding the predicate-statistics pass the
    # deployment schedules after each merge (no extra full scan for the
    # per-predicate partitions)
    from parser_rdf_spark.graphops import predicate_statistics, void_description

    stats = predicate_statistics(
        triples.select("subj", "pred", F.col("obj_value").alias("obj"))
    ).persist()
    stats.write.mode("overwrite").parquet(os.path.join(args.out, "predicate_stats"))
    void_description(
        triples, f"urn:kg:{args.run_id}", stats=stats
    ).write.mode("overwrite").parquet(os.path.join(args.out, "void"))
    stats.unpersist()

    summary = {
        "run_id": args.run_id,
        "buckets_total": result.buckets_total,
        "buckets_processed": result.buckets_processed,
        "buckets_skipped_resume": result.buckets_skipped,
        "edges_written_this_run": result.triples_written,
        "edges": edges.count(),
        "vertices": vertices.count(),
        "components": components.select("component").distinct().count(),
        "classes": tables["classes"].count(),
        "properties": tables["properties"].count(),
        "shapes": tables["shapes"].count(),
    }

    # maintenance LAST (every count above has already scanned): compact
    # the per-bucket small files (one file per partition dir) and vacuum
    # everything only expired snapshots reference — the scheduled job
    # that keeps file counts bounded. Any DataFrame resolved against the
    # pre-compaction listing is stale after this, hence the ordering.
    compaction = {}
    if not args.no_maintenance:
        for table in writer.TABLES:
            sid = writer.compact(spark, table)
            s = writer.snapshots.manifest(sid)["summary"]
            compaction[table] = {
                "files_before": s["files_before"], "files_after": s["files_after"],
            }
        compaction["expired_snapshots"] = len(
            writer.expire_snapshots(keep_last=args.keep_snapshots)
        )
    summary["maintenance"] = compaction
    print("SUMMARY " + json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
