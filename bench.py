"""Per-round benchmark harness (driver contract).

Runs the engine's headline operators at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit": "sec", "queries": {...}, "sf": ...}.

Headline value = triples extracted/sec through the fused stage-1+2 parse
path over a deterministic synthetic Common-Crawl-style corpus (the
BASELINE.json:2 metric). The corpus is synthesized once into a local
parquet cache so generation cost never pollutes the measurement.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from parser_rdf_spark.extract import extract_classes, extract_properties  # noqa: E402
from parser_rdf_spark.fixtures import synth_pages  # noqa: E402
from parser_rdf_spark.linking import (  # noqa: E402
    ConvergenceError,
    connected_components,
    link_entities,
    minhash_lsh_blocking,
)
from parser_rdf_spark.materialize import build_edges  # noqa: E402
from parser_rdf_spark.parse import parse_pages, triples_of  # noqa: E402
from parser_rdf_spark.session import build_session  # noqa: E402
from parser_rdf_spark import textops  # noqa: E402

# 200k docs (was 50k through round 2): the corpus-path queries run tens
# of seconds, so the documented ±30-100% co-tenant swing on sub-10s
# queries no longer drowns real regressions. The headline metric is
# triples/sec (size-invariant); per-query seconds are NOT comparable to
# BENCH_r01/r02 (4x the docs) — see BENCH/BASELINE.md.
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))
SEED = 42
# sf-table queries stay small at sf0.1, so they are repeated and the MIN
# wall time recorded (same discipline as scripts/scaling_bench.py's
# min-gate): the minimum is the least-contended measurement.
BEST_OF = int(os.environ.get("SPARK_GRAFT_BENCH_BEST_OF", "3"))


def _best_of(fn, n: int = None) -> float:
    n = BEST_OF if n is None else n
    best = None
    for _ in range(n):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def _load() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _mem_available_mb() -> float | None:
    """``MemAvailable`` from /proc/meminfo (read-only); None off Linux."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return round(int(line.split()[1]) / 1024.0, 1)
    except OSError:
        pass
    return None


def _row(queries: dict, loads: dict, name: str, fn, n: int = None) -> None:
    """Time one ``queries`` row (best-of) and record the host's
    1/5/15-minute load averages and available memory before and after
    it in ``loads``."""
    before, mem_before = _load(), _mem_available_mb()
    queries[name] = _best_of(fn, n)
    loads[name] = {
        "before": before,
        "after": _load(),
        "mem_available_mb": {"before": mem_before, "after": _mem_available_mb()},
    }


def _pages_cache(spark, n_docs: int, cpus: int):
    # _v2: corpus version (structured-data HTML page class added)
    path = f"/tmp/spark_graft_bench/pages_n{n_docs}_s{SEED}_v2"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        synth_pages(spark, n_docs, seed=SEED, partitions=cpus * 2).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    import re as _re

    m = _re.search(r"sf(\d+(?:\.\d+)?)/?$", sf_dir)
    sf = float(m.group(1)) if m else 0.1

    spark = build_session(
        app_name="parser-rdf-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries: dict[str, float] = {}
    loads: dict[str, dict] = {}
    pages = _pages_cache(spark, N_DOCS, cpus)

    # q1: the flagship — fused detect+validate+parse over the corpus.
    # Timed WITHOUT persisting the parsed table (same measurement as
    # scripts/scaling_bench.py): the headline is the extraction
    # operator's throughput, not the memory-serialization cost of
    # staging the full parsed blob for the downstream bench queries.
    n_triples = 0

    def _q_parse():
        nonlocal n_triples
        n_triples = triples_of(parse_pages(pages)).count()

    # best-of-5 for the HEADLINE query specifically: the headline
    # triples/sec derives from this one wall, and a sustained co-tenant
    # burst has been observed to cover a whole best-of-3 window (8.5 s
    # recorded where an isolated re-run reads 2.0 s); two extra repeats
    # cost seconds and protect the round-over-round comparison
    _row(queries, loads, "parse_triples", _q_parse, n=max(BEST_OF, 5))
    t_parse = queries["parse_triples"]
    # untimed: stage the parsed table once for q2/q3
    parsed = parse_pages(pages).persist()
    parsed.count()

    # q2: entity extraction (classes + properties) sharing one
    # resource-aggregate shuffle. One untimed warm-up + best-of like
    # every other query: the first run is codegen-compile-bound
    # (11-30 s swing observed across rounds), which is JIT noise, not
    # operator throughput.
    from parser_rdf_spark.extract import resource_aggregate

    triples = triples_of(parsed)
    n_classes = n_props = 0

    def _q_extract():
        nonlocal n_classes, n_props
        res = resource_aggregate(triples).persist()
        n_classes = extract_classes(triples, res=res).count()
        n_props = extract_properties(triples, res=res).count()
        res.unpersist()

    _q_extract()  # untimed warm-up (codegen compile)
    _row(queries, loads, "extract_entities", _q_extract)

    # q3: linking + edge materialization + connected components on a
    # bounded slice (CC is iterative; bound the vertex set for the bench).
    # The corpus's seeAlso edges chain e{k} -> e{k+1} across documents, so
    # 10 rounds may not converge: the row then times the 10 rounds and
    # ``components_converged`` says the labels were not components.
    components_converged = True

    def _q_link():
        nonlocal components_converged
        entities = spark.createDataFrame(
            [(f"http://data.example.org/e{i}", f"http://canon.example.org/E{i}") for i in range(0, 2000)],
            "surface string, canonical_iri string",
        )
        linked = link_entities(triples, entities)
        _ = linked.filter(F.col("canonical_obj").startswith("http://canon")).count()
        edges = build_edges(triples)
        cc_edges = edges.filter(F.col("pred").endswith("seeAlso")).limit(20000)
        try:
            _ = connected_components(
                cc_edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst")),
                max_iters=10,
            ).count()
        except ConvergenceError:
            components_converged = False

    _row(queries, loads, "link_and_components", _q_link, n=1)

    # q3b: BGP pattern query — a 4-pattern chain (two constant-bound
    # patterns + a seeAlso hop + a label lookup) compiled to self-joins
    # over the full parsed triples relation
    from parser_rdf_spark.bgp import bgp_query, triples_spo

    spo = triples_spo(triples)

    def _q_bgp():
        out = bgp_query(
            spo,
            patterns=[
                ("?e", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                 "http://www.w3.org/2000/01/rdf-schema#Class"),
                ("?e", "http://www.w3.org/2000/01/rdf-schema#subClassOf",
                 "http://data.example.org/base"),
                ("?e", "http://www.w3.org/2000/01/rdf-schema#seeAlso", "?n"),
                ("?n", "http://www.w3.org/2000/01/rdf-schema#label", "?label"),
            ],
            select=["?e", "?label"],
        )
        _ = out.count()

    _row(queries, loads, "bgp_chain_query", _q_bgp)

    # q3c: SHACL validation + predicate statistics over the full corpus —
    # ontology-sized shapes broadcast onto the instance scan (the
    # data-quality gate + the stats pass a production deployment
    # schedules after each merge)
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    from parser_rdf_spark.graphops import predicate_statistics
    from parser_rdf_spark.shacl import shacl_validate

    shape_schema = StructType([
        StructField("shape_id", StringType()),
        StructField("target_class", StringType()),
        StructField("path", StringType()),
        StructField("min_count", IntegerType()),
        StructField("max_count", IntegerType()),
        StructField("node_class", StringType()),
        StructField("pattern", StringType()),
        StructField("value_in", ArrayType(StringType())),
    ])
    shapes = spark.createDataFrame(
        [
            ("s-label", "http://www.w3.org/2000/01/rdf-schema#Class",
             "http://www.w3.org/2000/01/rdf-schema#label", 1, None, None,
             "^Entity [0-9]+$", None),
            ("s-parent", "http://www.w3.org/2000/01/rdf-schema#Class",
             "http://www.w3.org/2000/01/rdf-schema#subClassOf", None, 1,
             None, None, None),
        ],
        shape_schema,
    )

    def _q_shacl():
        _ = shacl_validate(spo, shapes).count()
        _ = predicate_statistics(spo).count()

    _row(queries, loads, "shacl_stats", _q_shacl)

    # q3d: sink-side export — the full parsed corpus rendered to
    # N-Triples lines AND prefix-compacted Turtle documents (round-3
    # four-format matrix; both pure-Column, the Turtle path adds the
    # two-groupBy subject assembly)
    from parser_rdf_spark.serialize import to_ntriples, to_turtle_docs

    triples_full = triples_of(parsed)

    def _q_serialize():
        _ = to_ntriples(triples_full).count()
        _ = to_turtle_docs(triples_full).count()

    _row(queries, loads, "serialize_export", _q_serialize)

    # q3e: graph-level canonical dedup over the full parsed corpus —
    # 2-round WL color refinement (4 key-partitioned joins + 2 groupBys
    # over the bnode-incident subset) plus the per-doc canonical-hash
    # aggregate over every triple, then the duplicate-group reduction.
    from parser_rdf_spark.canonical import isomorphic_duplicates

    def _q_canonical():
        _ = isomorphic_duplicates(triples_full, rounds=2).count()

    _row(queries, loads, "graph_canonicalize", _q_canonical)

    # q3f: term-mode SPARQL over the term-encoded relation of the full
    # parsed corpus (round-5 first-class row; r04 measured it ad hoc at
    # 3.96 s / 2.77 s): constant-predicate pattern + term builtins
    # (LANG filter, DATATYPE projection) compiled to pure string SQL.
    # Derived (in-memory) encoding here — the materialized-table path
    # additionally gets parquet pushdown + pred_bucket pruning and is
    # plan-pinned by the sparql_term_materialized contract query.
    from parser_rdf_spark.bgp import terms_spo
    from parser_rdf_spark.sparql import sparql_query

    enc = terms_spo(triples_full)

    def _q_term_mode():
        out = sparql_query(enc, """
            SELECT ?e ?label (DATATYPE(?label) AS ?dt) WHERE {
              ?e <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>
                 <http://www.w3.org/2000/01/rdf-schema#Class> .
              ?e <http://www.w3.org/2000/01/rdf-schema#label> ?label .
              FILTER(isLiteral(?label) && LANG(?label) = "")
            }
        """, term_mode=True)
        _ = out.count()

    _row(queries, loads, "term_mode_query", _q_term_mode)

    parsed.unpersist()

    # q4-q6: training-data ops on the sf tables. The sf tables are single
    # smallish parquet files → one scan partition; the per-doc ops are
    # CPU-bound, so spread them across cores first (at production scale
    # the table arrives in thousands of files and this is a no-op).
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(cpus * 2)
        .persist()
    )
    docs.count()

    def _q_dedup():
        _ = textops.exact_dedup_groups(docs).count()
        _ = minhash_lsh_blocking(docs, "text", "doc_id", num_hashes=32, bands=8).count()

    _row(queries, loads, "dedup_exact_minhash", _q_dedup)

    def _q_text():
        _ = textops.token_stats(docs).count()
        _ = textops.quality_score(docs).count()
        _ = textops.lang_id(docs).count()

    _row(queries, loads, "text_analysis", _q_text)

    # q5b: ExactSubstr dedup (round-5 first-class row; r04 measured it
    # ad hoc): the corpus-token window scan + ONE map-combinable
    # groupBy, maximal-span merge, and the keep-first clean reassembly
    def _q_substring():
        _ = textops.substring_dup_spans(docs, k=12).count()
        _ = textops.substring_dedup_clean(docs, k=12).count()

    _row(queries, loads, "substring_dedup", _q_substring)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(cpus).persist()
    emb.count()

    def _q_ann():
        qs = emb.filter(F.col("vec_id") < 100)
        _ = textops.ann_bruteforce_topk(emb, queries=qs, k=5).count()

    _row(queries, loads, "ann_cosine_topk", _q_ann)
    emb.unpersist()

    # q7: graph analytics over an events-derived edge relation (same
    # derivation as the kg_* contract queries, at this sf's full events
    # table): one-shuffle degrees, degree-oriented triangle count,
    # 3-iteration PageRank
    from parser_rdf_spark import graphops

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(cpus).persist()
    ev.count()
    g = ev.select(
        (F.col("user_id") % 997).alias("src"), (F.col("event_id") % 997).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    def _q_graph():
        _ = graphops.degrees(g).count()
        _ = graphops.triangle_count(g).collect()
        _ = graphops.pagerank(g, n_iter=3).count()

    _row(queries, loads, "graph_analytics", _q_graph)

    # q7b: graph-ML preprocessing over the same edge relation (round-3
    # ops): 2-core peeling, co-neighbor-blocked Jaccard candidates,
    # hash-seeded random walks
    def _q_graph_ml():
        _ = graphops.kcore(g, 2).count()
        _ = graphops.neighborhood_jaccard(g, min_shared=2).count()
        _ = graphops.random_walks(g.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst")), walk_length=4).count()

    _row(queries, loads, "graph_ml", _q_graph_ml)

    # q8: sessionization (native SESSION window agg) + per-doc TF-IDF
    # top terms
    from parser_rdf_spark.relops import sessionize

    def _q_sess():
        _ = sessionize(ev, "user_id", "ts").count()
        _ = textops.tfidf_top_terms(docs, k=3).count()

    _row(queries, loads, "sessionize_tfidf", _q_sess)
    ev.unpersist()

    # q9: pipeline hygiene — benchmark decontamination (broadcast gram
    # join), Gopher repetition signals, deterministic stratified sampling
    def _q_hygiene():
        bench_set = docs.filter(F.col("doc_id") % 97 == 0)
        train = docs.filter(F.col("doc_id") % 97 != 0)
        _ = textops.decontaminate(train, bench_set, n=5).count()
        _ = textops.repetition_stats(docs, n=2).count()
        _ = textops.stratified_sample(
            docs, {"en": 0.5, "de": 0.25, "fr": 0.125, "es": 0.0625}, default_fraction=1.0
        ).count()

    _row(queries, loads, "hygiene_ops", _q_hygiene)

    docs.unpersist()
    spark.stop()

    print(
        json.dumps(
            {
                "metric": "triples_extracted_per_sec",
                "value": round(n_triples / t_parse, 1),
                # "unit" describes the per-query timings dict (driver
                # contract shape); the headline value's own unit:
                "unit": "sec",
                "value_unit": "triples/sec",
                "queries": queries,
                "sf": sf,
                "n_docs": N_DOCS,
                "n_triples": n_triples,
                "n_classes": n_classes,
                "n_properties": n_props,
                "cpus": cpus,
                "best_of": BEST_OF,
                "components_converged": components_converged,
                # host readings: the CPU count and, per queries row, the
                # 1/5/15-minute load averages and MemAvailable (MB)
                # before and after it
                "host": {"cpu_count": os.cpu_count(), "load": loads},
            }
        )
    )


if __name__ == "__main__":
    main()
