"""The layer sweep of a traced run.

Every traced run, whatever its workload, ends with the same sweep over
inputs generated from its seed, so each workload reports the same
per-layer metrics:

1. the per-document parse profile, without Spark, over the crawl corpus:
   ``html_text``, ``formats.detect_format``, ``formats.parse_rdf_document``
   by format, ``htmldata.parse_document`` and ``formats.scope_bnodes``,
   plus the wasted work of failed first attempts;
2. the Spark-side split of one parse pass over the same pages:
   ``parse_pages(...).count()`` (UDF), ``triples_of(...).count()``
   (UDF + explode) and an identity ``mapInArrow`` over the same columns
   (the Python<->JVM boundary alone);
3. the ``scripts/run_pipeline.py`` job over the KG corpus, step by step
   through the same public calls, except connected components (see
   README.md: on this KG's equivalence chains it does not converge
   within its 50 rounds);
4. every ``kg_query`` shape over that job's KG, split into parse, plan
   and execution.

A check that fails here marks the run incorrect, like a failed op.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

import gen
import queries

TABLES = ("triples", "edges", "docmeta", "metrics", "terms")
FORMAT_KEY = {
    "n-triples": "ntriples", "turtle": "turtle", "json-ld": "jsonld", "rdf/xml": "rdfxml",
    "n-quads": "nquads", "trig": "trig", "ntriples-star": "ntriples_star",
}
RETRY_KINDS = ("nquads", "trig", "ntriples-star")

PER_LAYER: dict[str, str] = {
    "session.build_session_s": "s",
    "html_text.s": "s",
    "formats.detect_s": "s",
    **{f"formats.parse_s.{k}": "s" for k in FORMAT_KEY.values()},
    "htmldata.s": "s",
    "formats.scope_bnodes_s": "s",
    "formats.first_try_ok_share": "share",
    "formats.retry_wasted_s": "s",
    "parse.udf_s": "s",
    "parse.explode_s": "s",
    "parse.boundary_s": "s",
    "parse.body_per_core_s": "s",
    "parse.unattributed_s": "s",
    "parse.spark_tasks": "count",
    "pipeline.job_s": "s",
    "materialize.run_s": "s",
    "materialize.spark_jobs": "count",
    "extract.extract_all_s": "s",
    "materialize.build_vertices_s": "s",
    "materialize.partition_metrics_s": "s",
    "graphops.predicate_statistics_s": "s",
    "materialize.compact_s": "s",
    "materialize.expire_snapshots_s": "s",
    "materialize.bytes_per_triple": "B",
    **{f"materialize.bytes.{t}": "B" for t in TABLES},
    **{f"materialize.files_before.{t}": "count" for t in TABLES},
    **{f"materialize.files_after.{t}": "count" for t in TABLES},
    "snapshots.commits": "count",
    **{f"sparql.{m}.{q}": u for q in queries.SHAPES
       for m, u in (("parse_ms", "ms"), ("plan_ms", "ms"), ("exec_ms", "ms"),
                    ("spark_jobs", "count"), ("rows", "count"))},
    "trace.coverage_share": "share",
    "trace.op_p50_ms": "ms",
    "host.load1_before": "load",
    "host.load1_after": "load",
    "host.nproc": "count",
    "host.mem_available_mb": "MB",
    "host.probe_ms": "ms",
}


def run(b) -> None:
    """Run the sweep; results land in ``b.layers``."""
    b.layers["trace.coverage_share"] = _coverage(b)
    b.layers["trace.op_p50_ms"] = statistics.median(b.samples) * 1000.0
    crawl = gen.crawl_corpus(b.seed, b.crawl_pages)
    body_s = _profile(b, crawl)
    _spark_split(b, crawl, body_s)
    kg = gen.kg_corpus(b.seed, b.kg_entities)
    rels = _pipeline(b, kg)
    _sparql(b, kg, rels)


def per_layer(b) -> dict[str, tuple[float, str]]:
    sb = b.tracer.by_name("session.build_session")
    L = dict(b.layers)
    L["session.build_session_s"] = sb[0].seconds
    h = b.host.as_dict()
    L["host.load1_before"] = h["load1_before"]
    L["host.load1_after"] = h["load1_after"]
    L["host.nproc"] = h["nproc"]
    L["host.mem_available_mb"] = h["mem_available_mb"]
    L["host.probe_ms"] = h["probe_ms_median"]
    return {k: (L[k], u) for k, u in PER_LAYER.items()}


def _coverage(b) -> float:
    """Share of the workload phase's wall time (process start to the end
    of the loop) that top-level named spans cover."""
    wall = time.perf_counter() - b.proc_start
    top = sum(s.seconds for s in b.tracer.spans if s.parent is None)
    return top / wall


def _profile(b, corpus: gen.Corpus) -> float:
    """Per-document parse layers in this process, one thread, no Spark.
    The true format of a retry-path page comes from the generator; the
    retry chain of ``parse._parse_batch`` is not copied. Returns the
    summed per-document time."""
    from parser_rdf_spark import formats, html_text, htmldata
    from parser_rdf_spark.parse import doc_hash

    acc: dict[str, float] = defaultdict(float)
    first_ok = mismatches = 0
    clock = time.perf_counter
    t_all = clock()
    pages = corpus.pages
    for url, html, text, kind, want in zip(
            pages.column("url").to_pylist(), pages.column("html").to_pylist(),
            pages.column("text").to_pylist(), corpus.kinds, corpus.n_triples):
        if text is None:
            t = clock()
            text = html_text.html_bytes_to_text(html)
            acc["html_text.s"] += clock() - t
        t = clock()
        fmt = formats.detect_format(text)
        acc["formats.detect_s"] += clock() - t
        triples = []
        if fmt is None or fmt == "html":
            raw = html.decode("utf-8", errors="replace")
            t = clock()
            triples, _ = htmldata.parse_document(raw)
            acc["htmldata.s"] += clock() - t
            first_ok += fmt == "html"
        else:
            t = clock()
            res = formats.parse_rdf_document(text, fmt)
            dt = clock() - t
            if res.ok:
                first_ok += 1
                acc[f"formats.parse_s.{FORMAT_KEY[fmt]}"] += dt
            elif kind in RETRY_KINDS:
                acc["formats.retry_wasted_s"] += dt
                true = gen.EXPECTED_FORMAT[kind]
                t = clock()
                res = formats.parse_rdf_document(text, true)
                acc[f"formats.parse_s.{FORMAT_KEY[true]}"] += clock() - t
            else:
                acc[f"formats.parse_s.{FORMAT_KEY[fmt]}"] += dt
            triples = res.triples if res.ok else []
        if triples:
            t = clock()
            formats.scope_bnodes(triples, doc_hash(url))
            acc["formats.scope_bnodes_s"] += clock() - t
        mismatches += len(triples) != want
    body_s = clock() - t_all
    for k in ("html_text.s", "formats.detect_s", "htmldata.s", "formats.scope_bnodes_s",
              "formats.retry_wasted_s", *(f"formats.parse_s.{f}" for f in FORMAT_KEY.values())):
        b.layers[k] = acc[k]
    b.layers["formats.first_try_ok_share"] = first_ok / len(corpus.kinds)
    b.info["profile_mismatches"] = mismatches
    b.checks["profile"] = mismatches == 0
    return body_s


def _spark_split(b, corpus: gen.Corpus, body_s: float) -> None:
    from parser_rdf_spark.parse import parse_pages, triples_of

    pages = b.write_pages(corpus, "sweep-crawl")
    cols = pages.select("url", "text", "html")

    def identity(batches):  # nested: pickled by value for the workers
        yield from batches

    tr = b.tracer
    with tr.span("split.udf") as sp_udf:
        n_docs = parse_pages(pages).count()
    with tr.span("split.pass") as sp_pass:
        n = triples_of(parse_pages(pages)).count()
    with tr.span("split.boundary") as sp_bnd:
        cols.mapInArrow(identity, schema=cols.schema).count()
    b.checks["split"] = n_docs == corpus.pages.num_rows and n == corpus.total_triples
    per_core = body_s / b.cores
    L = b.layers
    L["parse.udf_s"] = sp_udf.seconds
    L["parse.explode_s"] = sp_pass.seconds - sp_udf.seconds
    L["parse.boundary_s"] = sp_bnd.seconds
    L["parse.body_per_core_s"] = per_core
    L["parse.unattributed_s"] = sp_udf.seconds - sp_bnd.seconds - per_core
    L["parse.spark_tasks"] = sp_udf.tasks


def _parquet_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n))
                     for n in names if n.endswith(".parquet"))
    return total


def _pipeline(b, corpus: gen.Corpus) -> dict:
    """The run_pipeline.py job, step by step; returns the query relations
    over its KG."""
    from pyspark.sql import functions as F

    from parser_rdf_spark.bgp import triples_spo
    from parser_rdf_spark.extract import extract_all
    from parser_rdf_spark.graphops import predicate_statistics, void_description
    from parser_rdf_spark.materialize import build_vertices, partition_metrics

    spark, tr, L = b.spark, b.tracer, b.layers
    with tr.span("pipeline.job") as job:
        w, _ = b.build_kg(corpus, "sweep-kg")
        out = w.root
        triples, docmeta = w.triples(spark), w.docmeta(spark)
        with tr.span("extract.extract_all"):
            tables = extract_all(triples, docmeta=docmeta)
            for name, df in tables.items():
                if not name.startswith("_"):
                    df.write.mode("overwrite").parquet(os.path.join(out, name))
            tables["_res"].unpersist()
            (docmeta.filter(F.col("prefixes").isNotNull())
             .select("doc_url", F.explode("prefixes").alias("prefix", "namespace"))
             .write.mode("overwrite").parquet(os.path.join(out, "prefixes")))
        edges = w.edges(spark)
        with tr.span("materialize.build_vertices"):
            vertices = build_vertices(edges)
            vertices.write.mode("overwrite").parquet(os.path.join(out, "vertices"))
        with tr.span("materialize.partition_metrics"):
            (partition_metrics(vertices, "vertices", "iri", "sweep")
             .withColumn("url_bucket", F.lit(-1))
             .write.mode("overwrite").partitionBy("url_bucket")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(os.path.join(out, "metrics")))
            w.snapshots.commit(w._table_files(), "append-global-metrics", {"run_id": "sweep"})
        with tr.span("graphops.predicate_statistics"):
            stats = predicate_statistics(
                triples.select("subj", "pred", F.col("obj_value").alias("obj"))).persist()
            stats.write.mode("overwrite").parquet(os.path.join(out, "predicate_stats"))
            void_description(triples, "urn:kg:sweep", stats=stats).write.mode(
                "overwrite").parquet(os.path.join(out, "void"))
            stats.unpersist()
        with tr.span("materialize.compact"):
            for t in TABLES:
                summary = w.snapshots.manifest(w.compact(spark, t))["summary"]
                L[f"materialize.files_before.{t}"] = summary["files_before"]
                L[f"materialize.files_after.{t}"] = summary["files_after"]
        with tr.span("materialize.expire_snapshots"):
            w.expire_snapshots(keep_last=2)
    n_rows = w.triples(spark).count()
    b.checks["kg_rows"] = n_rows == len(corpus.triples)
    for t in TABLES:
        L[f"materialize.bytes.{t}"] = _parquet_bytes(os.path.join(out, t))
    L["materialize.bytes_per_triple"] = _parquet_bytes(out) / n_rows
    L["snapshots.commits"] = w.snapshots.current_id()
    L["pipeline.job_s"] = job.seconds
    for name, key in (("materialize.run", "materialize.run_s"),
                      ("extract.extract_all", "extract.extract_all_s"),
                      ("materialize.build_vertices", "materialize.build_vertices_s"),
                      ("materialize.partition_metrics", "materialize.partition_metrics_s"),
                      ("graphops.predicate_statistics", "graphops.predicate_statistics_s"),
                      ("materialize.compact", "materialize.compact_s"),
                      ("materialize.expire_snapshots", "materialize.expire_snapshots_s")):
        L[key] = tr.by_name(name)[-1].seconds
    L["materialize.spark_jobs"] = tr.by_name("materialize.run")[-1].jobs
    return {False: triples_spo(w.triples(spark)), True: w.terms(spark)}


def _sparql(b, corpus: gen.Corpus, rels: dict) -> None:
    """Each shape twice over the job's KG; the second (warm) round is
    reported: parse, plan (the sparql_query call) and execution."""
    from parser_rdf_spark.sparql import parse_sparql, sparql_query

    tr, L = b.tracer, b.layers
    want = queries.expected(corpus.triples)
    ok = True
    for rnd in range(2):
        for q, (text, term_mode) in queries.SHAPES.items():
            with tr.span(f"sweep.sparql.{q}", sample=rnd) as sp:
                with tr.span("sparql.parse_sparql") as p:
                    parse_sparql(text, term_mode=term_mode)
                with tr.span("sparql.plan") as pl:
                    df = sparql_query(rels[term_mode], text, term_mode=term_mode)
                with tr.span("sparql.exec") as ex:
                    rows = df.collect()
            ok = ok and queries.check(q, rows, want[q])
            L[f"sparql.parse_ms.{q}"] = p.seconds * 1000.0
            L[f"sparql.plan_ms.{q}"] = pl.seconds * 1000.0
            L[f"sparql.exec_ms.{q}"] = ex.seconds * 1000.0
            L[f"sparql.spark_jobs.{q}"] = sp.jobs
            L[f"sparql.rows.{q}"] = len(rows)
    b.checks["sweep_queries"] = ok
