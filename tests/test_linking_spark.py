"""Stage 3: salted dictionary linking, MinHash-LSH blocking, connected
components (the scale-out stages the north rule adds on top of the
reference's per-document parser)."""

import pytest
from pyspark.sql import functions as F

from parser_rdf_spark.linking import (
    ConvergenceError,
    canonicalize_triples,
    connected_components,
    link_entities,
    minhash_lsh_blocking,
)
from parser_rdf_spark.parse import parse_pages, triples_of

from conftest import pages_df


@pytest.fixture(scope="module")
def entities(spark):
    return spark.createDataFrame(
        [
            ("http://ex.org/alice", "http://canon.org/Alice"),
            ("http://ex.org/alice/", "http://canon.org/Alice"),
            ("http://ex.org/bob", "http://canon.org/Bob"),
        ],
        "surface string, canonical_iri string",
    )


def _mk_triples(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_url string, graph string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string, line_no int",
    )


def test_link_entities_broadcast_salted(spark, entities):
    rows = [
        ("https://d/1", "_:default", "http://ex.org/s", "http://ex.org/p", "iri",
         "http://ex.org/alice", None, None, 1),
        ("https://d/1", "_:default", "http://ex.org/s", "http://ex.org/p", "iri",
         "http://ex.org/unknown", None, None, 2),
    ]
    out = link_entities(_mk_triples(spark, rows), entities).collect()
    got = {r.obj_value: r.canonical_obj for r in out}
    assert got["http://ex.org/alice"] == "http://canon.org/Alice"
    assert got["http://ex.org/unknown"] == "http://ex.org/unknown"


def test_link_entities_plan_is_broadcast(spark, entities):
    rows = [("https://d/1", "_:default", "s", "p", "iri", "http://ex.org/alice", None, None, 1)]
    plan = link_entities(_mk_triples(spark, rows), entities)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_link_entities_shuffle_plan_is_sort_merge(spark, entities):
    """VERDICT r2 item 1: the large-dictionary path must be a shuffled
    sort-merge join, never a broadcast that would OOM at 100-TB scale."""
    rows = [("https://d/1", "_:default", "s", "p", "iri", "http://ex.org/alice", None, None, 1)]
    plan = (
        link_entities(_mk_triples(spark, rows), entities, strategy="shuffle")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_link_entities_shuffle_matches_broadcast(spark, entities):
    rows = [
        ("https://d/1", "_:default", "http://ex.org/s", "http://ex.org/p", "iri",
         "http://ex.org/alice", None, None, 1),
        ("https://d/1", "_:default", "http://ex.org/s", "http://ex.org/p", "iri",
         "http://ex.org/unknown", None, None, 2),
        ("https://d/2", "_:default", "http://ex.org/s2", "http://ex.org/p", "iri",
         "http://ex.org/bob", None, None, 1),
    ]
    t = _mk_triples(spark, rows)
    cols = ["doc_url", "line_no", "obj_value", "canonical_obj"]
    b = link_entities(t, entities, strategy="broadcast").select(*cols)
    s = link_entities(t, entities, strategy="shuffle").select(*cols)
    assert b.exceptAll(s).count() == 0 and s.exceptAll(b).count() == 0


def test_link_entities_auto_gate_flips_on_threshold(spark, entities):
    rows = [("https://d/1", "_:default", "s", "p", "iri", "http://ex.org/alice", None, None, 1)]
    t = _mk_triples(spark, rows)
    # tiny threshold → even a 3-row dictionary exceeds it ⇒ shuffle path
    plan_small = (
        link_entities(t, entities, broadcast_threshold=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in plan_small
    # generous threshold → broadcast path (the current default behavior)
    plan_big = (
        link_entities(t, entities, broadcast_threshold=1 << 30)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan_big


def test_auto_gate_fallback_estimator_is_width_aware(spark):
    """The stat-less fallback samples the ACTUAL row width: a long-IRI
    dictionary must route to the sort-merge path at a threshold where a
    same-row-count short-surface dictionary still broadcasts — a flat
    bytes/row constant cannot tell them apart (VERDICT r03 wrong #1)."""
    from parser_rdf_spark.linking import _estimated_bytes

    n = 64
    long_dict = spark.createDataFrame(
        [("http://example.org/very/long/knowledge-graph/entity/path/" + f"{i:04d}" * 12,
          "http://canon.example.org/entities/canonical/form/" + f"{i:04d}" * 12)
         for i in range(n)],
        "surface string, canonical_iri string",
    )
    short_dict = spark.createDataFrame(
        [(f"s{i}", f"c{i}") for i in range(n)],
        "surface string, canonical_iri string",
    )
    long_bytes, short_bytes = _estimated_bytes(long_dict), _estimated_bytes(short_dict)
    assert long_bytes > 4 * short_bytes  # width, not just count, drives the estimate

    rows = [("https://d/1", "_:default", "s", "p", "iri", "x", None, None, 1)]
    t = _mk_triples(spark, rows)
    # threshold between the two estimates (×16 salt replication):
    # the long-IRI dictionary must take SMJ, the short one broadcast
    thr = (long_bytes * 16 + short_bytes * 16) // 2
    plan_long = (
        link_entities(t, long_dict, broadcast_threshold=thr)
        ._jdf.queryExecution().executedPlan().toString()
    )
    plan_short = (
        link_entities(t, short_dict, broadcast_threshold=thr)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in plan_long and "BroadcastHashJoin" not in plan_long
    assert "BroadcastHashJoin" in plan_short


def test_skewed_mega_key_shuffle_join_completes(spark, entities):
    """Mega-KEY skew on the SHUFFLE path: 80% of probe rows hit one
    dictionary surface. The probe-side salt must spread the key over
    salt_buckets shuffle partitions (plus AQE skew split) — the join
    completes and links every row."""
    rows = [
        ("https://mega.example.org/%d" % i, "_:default", f"http://ex.org/s{i}",
         "http://ex.org/p", "iri",
         "http://ex.org/alice" if i % 5 else "http://ex.org/bob", None, None, i)
        for i in range(5000)
    ]
    out = link_entities(
        _mk_triples(spark, rows).repartition(8), entities, strategy="shuffle"
    )
    assert out.filter(F.col("canonical_obj") == "http://canon.org/Alice").count() == 4000
    assert out.filter(F.col("canonical_obj") == "http://canon.org/Bob").count() == 1000


def test_canonicalize_shuffle_matches_broadcast(spark, entities):
    rows = [
        ("https://d/1", "_:default", "http://ex.org/alice", "http://ex.org/knows", "iri",
         "http://ex.org/bob", None, None, 1),
        ("https://d/1", "_:default", "http://ex.org/alice", "http://ex.org/name", "literal",
         "Alice", None, None, 2),
    ]
    t = _mk_triples(spark, rows)
    cols = ["doc_url", "line_no", "subj_canonical", "obj_canonical"]
    b = canonicalize_triples(t, entities, strategy="broadcast").select(*cols)
    s = canonicalize_triples(t, entities, strategy="shuffle").select(*cols)
    assert b.exceptAll(s).count() == 0 and s.exceptAll(b).count() == 0


def test_canonicalize_subject_and_object(spark, entities):
    rows = [
        ("https://d/1", "_:default", "http://ex.org/alice", "http://ex.org/knows", "iri",
         "http://ex.org/bob", None, None, 1),
        ("https://d/1", "_:default", "http://ex.org/alice", "http://ex.org/name", "literal",
         "Alice", None, None, 2),
    ]
    out = canonicalize_triples(_mk_triples(spark, rows), entities).collect()
    by_pred = {r.pred: r for r in out}
    knows = by_pred["http://ex.org/knows"]
    assert knows.subj_canonical == "http://canon.org/Alice"
    assert knows.obj_canonical == "http://canon.org/Bob"
    name = by_pred["http://ex.org/name"]
    assert name.obj_canonical == "Alice"  # literals untouched


def test_skewed_mega_host_join_completes(spark, entities):
    # 1 host owns 50%+ of rows (BASELINE.md skew synthetic), all hitting
    # the same dictionary key — the salted broadcast join must spread it
    rows = [
        ("https://mega.example.org/%d" % (i % 7), "_:default", f"http://ex.org/s{i}",
         "http://ex.org/p", "iri", "http://ex.org/alice", None, None, i)
        for i in range(5000)
    ]
    out = link_entities(_mk_triples(spark, rows).repartition(8), entities)
    assert out.filter(F.col("canonical_obj") == "http://canon.org/Alice").count() == 5000


def test_connected_components_chain_across_docs(spark):
    # FIXTURES.md §3: A→B, B→C chains across documents ⇒ one component
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("X", "Y")], "src string, dst string"
    )
    out = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert out["A"] == out["B"] == out["C"] == "A"
    assert out["X"] == out["Y"] == "X"
    assert out["A"] != out["X"]


def test_connected_components_long_chain_converges(spark):
    n = 40
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i+1:03d}") for i in range(n)], "src string, dst string"
    )
    out = connected_components(edges, max_iters=100, checkpoint_every=5)
    comps = {r.component for r in out.collect()}
    assert comps == {"v000"}


def test_connected_components_raises_when_rounds_run_out(spark):
    # a 40-edge chain needs far more than 3 rounds: returning the
    # round-3 labels would split the chain into wrong components
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i+1:03d}") for i in range(40)], "src string, dst string"
    )
    with pytest.raises(ConvergenceError, match="max_iters=3 rounds"):
        connected_components(edges, max_iters=3)


def test_minhash_lsh_blocks_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog while the cat watches carefully from the warm windowsill"
    near = base.replace("lazy", "very lazy")
    far = "completely different content about spark partitioning strategies and shuffle behavior at scale"
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far)], "id string, text string"
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_blocking(df, "text", "id", num_hashes=32, bands=16).collect()
    }
    assert ("a", "b") in pairs
    assert ("a", "c") not in pairs and ("b", "c") not in pairs


def test_minhash_mega_bucket_emits_star_not_silence(spark):
    """A bucket larger than max_bucket must still CONNECT its members
    (star pairing against the bucket-min id), never silently drop every
    pair — identical-doc mega-clusters are the common case in web data."""
    text = "identical replicated document body shared by every member of the mega cluster"
    df = spark.createDataFrame(
        [(f"d{i:02d}", text) for i in range(20)], "id string, text string"
    )
    pairs = minhash_lsh_blocking(df, "text", "id", num_hashes=32, bands=8, max_bucket=5)
    rows = {(r.id_a, r.id_b) for r in pairs.collect()}
    # star shape: every doc pairs with the representative (min id) —
    # O(k) pairs, and connected components still unions the cluster
    assert rows == {("d00", f"d{i:02d}") for i in range(1, 20)}
    comps = connected_components(
        pairs.selectExpr("id_a as src", "id_b as dst")
    )
    assert len({r.component for r in comps.collect()}) == 1
    # small buckets keep the exact all-pairs expansion
    all_pairs = minhash_lsh_blocking(df, "text", "id", num_hashes=32, bands=8, max_bucket=1000)
    assert all_pairs.count() == 20 * 19 // 2


def test_end_to_end_linking_from_parsed_pages(spark, entities):
    docs = {
        "https://site1.example.org/page": '<http://ex.org/alice> <http://ex.org/knows> <http://ex.org/bob> .',
        "https://site2.example.org/page": '<http://ex.org/alice/> <http://ex.org/knows> <http://ex.org/alice> .',
    }
    triples = triples_of(parse_pages(pages_df(spark, docs)))
    out = canonicalize_triples(triples, entities)
    canon_subjects = {r.subj_canonical for r in out.collect()}
    assert canon_subjects == {"http://canon.org/Alice"}


def test_normalize_literals(spark):
    from parser_rdf_spark.linking import normalize_literals
    from parser_rdf_spark.schemas import TRIPLES

    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        ("https://d/1", None, "s", "p", "literal", "+01", None, XSD + "integer", 1),
        ("https://d/1", None, "s", "p", "literal", " 42 ", None, XSD + "long", 2),
        ("https://d/1", None, "s", "p", "literal", "junk", None, XSD + "integer", 3),
        ("https://d/1", None, "s", "p", "literal", "TRUE", None, XSD + "boolean", 4),
        ("https://d/1", None, "s", "p", "literal", "0", None, XSD + "boolean", 5),
        ("https://d/1", None, "s", "p", "literal", "+01", None, None, 6),  # plain: untouched
        ("https://d/1", None, "s", "p", "iri", "+01", None, None, 7),      # iri: untouched
        ("https://d/1", None, "s", "p", "literal", "-0", None, XSD + "integer", 8),
    ]
    t = spark.createDataFrame(rows, TRIPLES)
    got = {r.line_no: r.obj_value for r in normalize_literals(t).collect()}
    assert got == {1: "1", 2: "42", 3: "junk", 4: "true", 5: "false",
                   6: "+01", 7: "+01", 8: "0"}


def test_fuzzy_name_pairs(spark):
    from parser_rdf_spark.linking import fuzzy_name_pairs

    df = spark.createDataFrame([
        (1, "Acme Corp"), (2, "ACME Corp."), (3, "Acme Corporation"),
        (4, "Zenith Ltd"), (5, "zenith ltd"),
        (6, "Büro AG"), (7, "Buero AG"),  # first-2 differ: documented miss
    ], "id bigint, name string")
    got = sorted((r.id1, r.id2, r.distance)
                 for r in fuzzy_name_pairs(df, max_distance=2).collect())
    assert got == [(1, 2, 1), (4, 5, 0)]


def test_fuzzy_name_pairs_block_cap(spark):
    from parser_rdf_spark.linking import fuzzy_name_pairs

    rows = [(i, f"aa{i}") for i in range(10)] + [(100, "zz1"), (101, "zz2")]
    df = spark.createDataFrame(rows, "id bigint, name string")
    got = sorted((r.id1, r.id2)
                 for r in fuzzy_name_pairs(df, max_distance=1, max_block=5).collect())
    # the 10-member 'aa' block is dropped; the small 'zz' block pairs
    assert got == [(100, 101)]


def test_near_dup_clusters_transitive_and_singletons(spark):
    """A~B and B~C (but A!~C directly) must land in ONE cluster with the
    min id as representative; untouched docs form singletons."""
    from parser_rdf_spark.linking import near_dup_clusters

    base = "the quick brown fox jumps over the lazy dog " * 8
    docs = spark.createDataFrame(
        [
            (1, base + "tail one"),
            (2, base + "tail two"),          # near-dup of 1 and 3
            (3, base + "tail two three"),    # near-dup of 2
            (9, "completely different content about spark dataframes"),
        ],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in near_dup_clusters(docs, "text", "doc_id").collect()}
    assert len(rows) == 4
    c1 = rows[1].cluster_id
    assert rows[2].cluster_id == c1 and rows[3].cluster_id == c1
    assert c1 == 1 and rows[1].is_representative
    assert not rows[2].is_representative and not rows[3].is_representative
    assert rows[1].cluster_size == 3
    assert rows[9].cluster_id == 9 and rows[9].is_representative
    assert rows[9].cluster_size == 1
