"""VERDICT r04 task 2: the MATERIALIZED term-encoded relation.

GraphWriter writes a fifth table ``terms`` (the bgp.terms_spo projection
as STORED columns, Iceberg-style bucket(N, pred) partitioning over the
encoded predicate); sparql_query(term_mode=True) over GraphWriter.terms
must (a) return exactly what the derived projection returns and (b) get
the constant-predicate filter all the way to the parquet scan — pushed
predicate AND pred_bucket partition pruning — which the derived
concat-projection can never do (Catalyst cannot invert concat)."""

import re

import pytest
from pyspark.sql import functions as F

from parser_rdf_spark.bgp import bgp_query, terms_spo
from parser_rdf_spark.materialize import GraphWriter
from parser_rdf_spark.sparql import sparql_query

from conftest import pages_df

EX = "http://ex.org/"


def _docs(n=16):
    return {
        f"https://host{i % 3}.example.org/doc/{i}": (
            f"<{EX}s{i}> <{EX}p{i % 4}> <{EX}o{i}> .\n"
            f'<{EX}s{i}> <{EX}label> "doc {i}"@en .'
        )
        for i in range(n)
    }


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "extended")


def test_terms_table_written_and_matches_derived(spark, tmp_path):
    w = GraphWriter(str(tmp_path / "g"), url_buckets=4)
    w.run(spark, pages_df(spark, _docs(16)), run_id="r1")
    stored = w.terms(spark)
    assert stored.columns == ["subj", "pred", "obj", "pred_bucket"]
    derived = terms_spo(w.triples(spark))
    a = {tuple(r) for r in stored.select("subj", "pred", "obj").collect()}
    b = {tuple(r) for r in derived.collect()}
    assert a == b and len(a) == 32
    # bucket assignment is the engine-wide bucket function (consistent
    # with the pruning expression in bgp._pred_bucket_prune)
    chk = stored.withColumn(
        "expect",
        F.pmod(F.xxhash64("pred"), F.lit(w.pred_buckets)).cast("int"))
    assert chk.filter(F.col("pred_bucket") != F.col("expect")).count() == 0


def test_constant_predicate_prunes_partitions_and_pushes_filter(spark, tmp_path):
    w = GraphWriter(str(tmp_path / "g2"), url_buckets=2)
    w.run(spark, pages_df(spark, _docs(12)), run_id="r1")
    stored = w.terms(spark)
    q = bgp_query(stored, [("?s", f"<{EX}label>", "?o")], select=["?s", "?o"])
    plan = _plan(q)
    assert f"PushedFilters: [IsNotNull(pred), EqualTo(pred,<{EX}label>)]" in plan
    # the foldable pmod(xxhash64(lit),N) collapsed to a LITERAL partition
    # filter — file-level pruning before any IO
    assert "PartitionFilters: [isnotnull(pred_bucket" in plan
    import re

    m = re.search(r"PartitionFilters: \[isnotnull\(pred_bucket#\d+\), "
                  r"\(pred_bucket#\d+ = (\d+)\)\]", plan)
    assert m, plan
    # and the results are right (12 label triples)
    assert q.count() == 12


def test_term_mode_sparql_over_materialized_equals_derived(spark, tmp_path):
    w = GraphWriter(str(tmp_path / "g3"), url_buckets=2)
    w.run(spark, pages_df(spark, _docs(12)), run_id="r1")
    text = (f'SELECT ?s ?o WHERE {{ ?s <{EX}label> ?o . '
            f'FILTER(LANG(?o) = "en") }}')
    got = sparql_query(w.terms(spark), text, term_mode=True)
    want = sparql_query(terms_spo(w.triples(spark)), text, term_mode=True)
    assert {tuple(r) for r in got.collect()} == \
        {tuple(r) for r in want.collect()}
    assert "PartitionFilters: [isnotnull(pred_bucket" in _plan(got)


def test_kleene_path_prunes_on_materialized_terms(spark, tmp_path):
    docs = {
        "https://d/1": f"<{EX}a> <{EX}next> <{EX}b> .\n"
                       f"<{EX}b> <{EX}next> <{EX}c> .\n"
                       f"<{EX}a> <{EX}other> <{EX}z> .",
    }
    w = GraphWriter(str(tmp_path / "g4"), url_buckets=1)
    w.run(spark, pages_df(spark, docs), run_id="r1")
    q = bgp_query(w.terms(spark), [(f"<{EX}a>", f"<{EX}next>+", "?x")],
                  select=["?x"])
    assert {r.x for r in q.collect()} == {f"<{EX}b>", f"<{EX}c>"}


def test_prune_is_noop_without_metadata(spark, tmp_path):
    # a raw parquet read of the terms dir (no bucket-count metadata) must
    # still answer correctly — pruning is an optimization, not a contract
    w = GraphWriter(str(tmp_path / "g5"), url_buckets=2)
    w.run(spark, pages_df(spark, _docs(8)), run_id="r1")
    import os

    raw = spark.read.parquet(os.path.join(str(tmp_path / "g5"), "terms"))
    q = bgp_query(raw, [("?s", f"<{EX}label>", "?o")], select=["?s"])
    assert q.count() == 8


def test_non_default_pred_buckets_prune_and_resume(spark, tmp_path):
    # the bucket count travels in the terms table's column metadata, so a
    # KG written with pred_buckets != 64 prunes on its own bucket function,
    # and a killed run resumes under the same config
    root = str(tmp_path / "g6")
    pages = pages_df(spark, _docs(12))
    with pytest.raises(RuntimeError, match="simulated failure"):
        GraphWriter(root, url_buckets=2, pred_buckets=7).run(
            spark, pages, run_id="r1", fail_after_buckets=1)
    w = GraphWriter(root, url_buckets=2, pred_buckets=7)
    res = w.run(spark, pages, run_id="r2")
    assert res.buckets_skipped == 1 and res.buckets_processed == 1
    q = bgp_query(w.terms(spark), [("?s", f"<{EX}label>", "?o")], select=["?s", "?o"])
    m = re.search(r"PartitionFilters: \[isnotnull\(pred_bucket#\d+\), "
                  r"\(pred_bucket#\d+ = (\d+)\)\]", _plan(q))
    assert m, _plan(q)
    want = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(f"<{EX}label>")), F.lit(7)).cast("int")).first()[0]
    assert int(m.group(1)) == want
    assert q.count() == 12 and w.terms(spark).count() == 24
