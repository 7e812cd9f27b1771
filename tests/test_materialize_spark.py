"""Stage 4: edge/vertex materialization, per-partition lineage metrics,
and kill-and-rerun checkpoint resume (BASELINE.md rows 7-9)."""

import os

import pytest
from pyspark.sql import functions as F

from parser_rdf_spark.linking import connected_components
from parser_rdf_spark.materialize import (
    GraphWriter,
    build_edges,
    build_vertices,
    partition_metrics,
)
from parser_rdf_spark.parse import parse_pages, triples_of

from conftest import pages_df


def _docs(n=16):
    return {
        f"https://host{i % 3}.example.org/doc/{i}": (
            f"<http://ex.org/s{i}> <http://ex.org/p{i % 4}> <http://ex.org/o{i}> .\n"
            f'<http://ex.org/s{i}> <http://ex.org/label> "doc {i}" .'
        )
        for i in range(n)
    }


def test_build_edges_excludes_literals_and_buckets_predicates(spark):
    triples = triples_of(parse_pages(pages_df(spark, _docs(8))))
    edges = build_edges(triples, n_buckets=16)
    rows = edges.collect()
    assert all(not r.obj.startswith('"') for r in rows)
    assert all(0 <= r.pred_bucket < 16 for r in rows)
    assert edges.count() == 8  # one resource edge per doc (label is literal)
    # same predicate always lands in the same bucket
    b = edges.groupBy("pred").agg(F.countDistinct("pred_bucket").alias("nb")).collect()
    assert all(r.nb == 1 for r in b)


def test_build_vertices_with_components(spark):
    triples = triples_of(parse_pages(pages_df(spark, {
        "https://d/1": "<http://e/a> <http://e/p> <http://e/b> .",
        "https://d/2": "<http://e/b> <http://e/p> <http://e/c> .",
    })))
    edges = build_edges(triples)
    comps = connected_components(edges, "subj", "obj")
    verts = build_vertices(edges, comps)
    rows = {r.iri: r for r in verts.collect()}
    assert set(rows) == {"http://e/a", "http://e/b", "http://e/c"}
    assert len({r.component_id for r in rows.values()}) == 1


def test_partition_metrics_cover_all_rows(spark):
    triples = triples_of(parse_pages(pages_df(spark, _docs(12))))
    edges = build_edges(triples).repartition(4)
    m = partition_metrics(edges, "edges", "pred", "run-1").collect()
    assert sum(r.row_count for r in m) == edges.count()
    assert all(r.table == "edges" and r.run_id == "run-1" for r in m)
    assert all(r.min_key <= r.max_key for r in m)


def test_graphwriter_end_to_end_and_layout(spark, tmp_path):
    pages = pages_df(spark, _docs(16))
    w = GraphWriter(str(tmp_path / "g"), url_buckets=4)
    res = w.run(spark, pages, run_id="r1")
    assert res.buckets_processed == 4 and res.buckets_skipped == 0
    edges = w.edges(spark)
    assert edges.count() == 16
    # partition layout on disk: url_bucket=*/pred_bucket=*
    import glob
    dirs = glob.glob(str(tmp_path / "g" / "edges" / "url_bucket=*" / "pred_bucket=*"))
    assert len(dirs) > 0
    assert w.metrics(spark).count() > 0


def test_graphwriter_resume_after_kill(spark, tmp_path):
    pages = pages_df(spark, _docs(16))
    w = GraphWriter(str(tmp_path / "g2"), url_buckets=4)
    with pytest.raises(RuntimeError, match="simulated failure"):
        w.run(spark, pages, run_id="r1", fail_after_buckets=2)
    assert len(w.processed_buckets()) == 2

    # re-run picks up ONLY the remaining buckets
    res = w.run(spark, pages, run_id="r2")
    assert res.buckets_skipped == 2 and res.buckets_processed == 2
    assert w.edges(spark).count() == 16

    # idempotence: a third run does nothing
    res3 = w.run(spark, pages, run_id="r3")
    assert res3.buckets_processed == 0 and res3.buckets_skipped == 4
    assert w.edges(spark).count() == 16


def test_staged_pages_prune_per_bucket_reads(spark, tmp_path):
    """The per-bucket parse read must scan ONLY that bucket's staged files
    (pre-fix each bucket iteration rescanned 100% of the input: B full
    corpus scans to parse the corpus once)."""
    pages = pages_df(spark, _docs(16))
    root = tmp_path / "g5"
    w = GraphWriter(str(root), url_buckets=4)
    # stop mid-run so the staged copy is still on disk to inspect
    with pytest.raises(RuntimeError, match="simulated failure"):
        w.run(spark, pages, run_id="r1", fail_after_buckets=2)

    # staging happened exactly once, partitioned by url_bucket
    import glob
    bucket_dirs = glob.glob(str(root / "_staged_pages" / "url_bucket=*"))
    assert len(bucket_dirs) > 0

    # a bucket-scoped read over the staged table partition-prunes to that
    # bucket's directory — not a filter over a full scan
    staged = spark.read.parquet(str(root / "_staged_pages"))
    chunk = staged.filter(F.col("url_bucket") == 1)
    plan = chunk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "url_bucket" in seg and "= 1" in seg

    # staged pages roundtrip losslessly (the parse stage consumes these)
    orig = {r.url: r.text for r in pages.collect()}
    back = {r.url: r.text for r in staged.drop("url_bucket").collect()}
    assert back == orig

    # resume completes; the scratch staging is cleaned up once every
    # bucket is checkpointed (ADVICE r2: keeping it doubles storage)
    res = w.run(spark, pages, run_id="r2")
    assert res.buckets_processed == 2 and res.buckets_skipped == 2
    assert not (root / "_staged_pages").exists()

    # a fully-resumed run never restages (staging is lazy)
    res3 = w.run(spark, pages, run_id="r3")
    assert res3.buckets_processed == 0 and res3.buckets_skipped == 4
    assert not (root / "_staged_pages").exists()


def test_staging_fingerprint_guards_changed_input(spark, tmp_path):
    """ADVICE r2 item 1: a resumed run with a DIFFERENT pages input must
    not silently process the stale staged copy."""
    pages_a = pages_df(spark, _docs(16))
    pages_b = pages_df(spark, {
        f"https://other{i}.example.org/x/{i}":
        f"<http://ex.org/n{i}> <http://ex.org/q> <http://ex.org/m{i}> ."
        for i in range(12)
    })
    root = tmp_path / "g6"
    w = GraphWriter(str(root), url_buckets=4)

    # stale staging from input A with NOTHING checkpointed → restaged
    staged_a = w._stage_pages(spark, pages_a)
    assert staged_a.count() == 16
    staged_b = w._stage_pages(spark, pages_b)
    assert staged_b.count() == 12
    assert {r.url for r in staged_b.collect()} == {r.url for r in pages_b.collect()}

    # same input again → reused, not rewritten (compare file mtimes)
    import glob, os
    before = {p: os.path.getmtime(p)
              for p in glob.glob(str(root / "_staged_pages" / "**" / "*.parquet"), recursive=True)}
    w._stage_pages(spark, pages_b)
    after = {p: os.path.getmtime(p)
             for p in glob.glob(str(root / "_staged_pages" / "**" / "*.parquet"), recursive=True)}
    assert before == after and before

    # buckets checkpointed with input B, then input A shows up → hard error
    with pytest.raises(RuntimeError, match="simulated failure"):
        w.run(spark, pages_b, run_id="r1", fail_after_buckets=2)
    with pytest.raises(ValueError, match="input changed mid-resume"):
        w.run(spark, pages_a, run_id="r2")
    # the original input still resumes cleanly
    res = w.run(spark, pages_b, run_id="r3")
    assert res.buckets_processed == 2 and res.buckets_skipped == 2


def test_predicate_bucket_pruning_reads_subset(spark, tmp_path):
    pages = pages_df(spark, _docs(16))
    w = GraphWriter(str(tmp_path / "g3"), url_buckets=2)
    w.run(spark, pages, run_id="r1")
    edges = w.edges(spark)
    one_pred = edges.filter(F.col("pred") == "http://ex.org/p0")
    bucket = one_pred.select("pred_bucket").distinct().collect()
    assert len(bucket) == 1
    # partition-prune path: filtering on pred_bucket hits only that directory
    pruned = edges.filter(F.col("pred_bucket") == bucket[0].pred_bucket)
    assert pruned.count() >= one_pred.count()


def test_scan_plan_prunes_partitions_and_pushes_filters(spark, tmp_path):
    """The physical plan must show partition pruning on pred_bucket and
    parquet filter pushdown on data columns — the layout claims in
    README §scale are assertions, not hopes."""
    pages = pages_df(spark, _docs(16))
    w = GraphWriter(str(tmp_path / "g4"), url_buckets=2)
    w.run(spark, pages, run_id="r1")
    edges = w.edges(spark)

    pruned = edges.filter(F.col("pred_bucket") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pred_bucket" in plan.split("PartitionFilters")[1][:200]

    pushed = edges.filter(F.col("subj") == "http://ex.org/s1").select("subj", "obj")
    plan2 = pushed._jdf.queryExecution().executedPlan().toString()
    seg = plan2.split("PushedFilters")[1][:200] if "PushedFilters" in plan2 else ""
    assert "subj" in seg, plan2[:2000]
    # column pruning: the scan reads only the needed columns
    assert "ReadSchema" in plan2 and "warc_ts" not in plan2.split("ReadSchema")[1][:300]


def test_graphwriter_rejects_config_mismatch_on_resume(spark, tmp_path):
    """Resuming with a different url_buckets than the checkpointed run
    would silently mix two incompatible bucket layouts — hard error."""
    pages = pages_df(spark, _docs(8))
    root = str(tmp_path / "g6")
    GraphWriter(root, url_buckets=4).run(spark, pages, run_id="r1")
    with pytest.raises(ValueError, match="config mismatch"):
        GraphWriter(root, url_buckets=8)
    # same config reopens fine
    assert GraphWriter(root, url_buckets=4).processed_buckets() == {0, 1, 2, 3}


def _all_parquet(root):
    import glob
    return sorted(
        p for p in glob.glob(str(root / "**" / "*.parquet"), recursive=True)
    )


def test_compact_rewrites_identically_and_expire_reclaims(spark, tmp_path):
    """Post-run compaction: one file per partition dir, contents
    bit-identical, pre-compaction snapshots time-travelable until
    expire_snapshots() vacuums their files (pinned file counts)."""
    import glob

    pages = pages_df(spark, _docs(16))
    root = tmp_path / "gc"
    w = GraphWriter(str(root), url_buckets=4)
    w.run(spark, pages, run_id="r1")

    pre_sid = w.snapshots.current_id()
    key = lambda r: tuple(str(v) for v in r)
    before = sorted(map(key, w.table_at(spark, "edges").collect()))
    files_before = len([f for f in w.snapshots.manifest(pre_sid)["files"]
                        if f.startswith("edges/")])

    sid = w.compact(spark, "edges")
    summ = w.snapshots.manifest(sid)["summary"]
    n_part_dirs = len(glob.glob(str(root / "edges" / "url_bucket=*" / "pred_bucket=*")))
    assert summ["files_before"] == files_before
    assert summ["files_after"] == n_part_dirs  # exactly one file per partition dir
    assert summ["files_after"] < files_before

    # contents identical, partition columns intact
    after = sorted(map(key, w.table_at(spark, "edges").collect()))
    assert after == before
    # time travel to the pre-compaction snapshot still works pre-expiry
    assert sorted(map(key, w.table_at(spark, "edges", pre_sid).collect())) == before

    for table in ("triples", "docmeta", "metrics"):
        w.compact(spark, table)

    n_files_pre_expire = len(_all_parquet(root))
    expired = w.expire_snapshots(keep_last=1)
    assert pre_sid in expired
    # vacuum physically removed the small files no manifest references
    n_files = len(_all_parquet(root))
    assert n_files < n_files_pre_expire
    cur = w.snapshots.current_id()
    assert n_files == len(w.snapshots.manifest(cur)["files"])
    # current reads still green after the vacuum
    assert sorted(map(key, w.table_at(spark, "edges").collect())) == before
    assert w.table_at(spark, "triples").count() == 32
    # history never walks into an expired manifest
    assert [m["snapshot_id"] for m in w.snapshots.history()] == [cur]
    # the vacuum takes each deleted file's checksum sidecar with it
    import os
    orphan_crcs = [
        os.path.join(d, n) for d, _, names in os.walk(root) for n in names
        if n.startswith(".") and n.endswith(".crc") and n[1:-4] not in names
    ]
    assert orphan_crcs == []


def test_kill_resume_across_compaction_boundary(spark, tmp_path):
    """Kill mid-run → resume → compact → expire → idempotent re-run:
    the maintenance step composes with bucket-level resume (the
    north-rule's 'resumes from snapshot checkpoints')."""
    pages = pages_df(spark, _docs(16))
    root = tmp_path / "gk"
    w = GraphWriter(str(root), url_buckets=4)

    # compaction refuses a half-done table (dynamic partition overwrite
    # on resume would clobber compacted files in a rewritten partition)
    with pytest.raises(RuntimeError, match="simulated failure"):
        w.run(spark, pages, run_id="r1", fail_after_buckets=2)
    with pytest.raises(ValueError, match="completed run"):
        w.compact(spark, "edges")

    res = w.run(spark, pages, run_id="r2")
    assert res.buckets_processed == 2 and res.buckets_skipped == 2
    w.compact(spark, "edges")
    w.expire_snapshots(keep_last=1)

    # a post-maintenance re-run is a no-op and reads stay correct
    res3 = w.run(spark, pages, run_id="r3")
    assert res3.buckets_processed == 0 and res3.buckets_skipped == 4
    assert w.edges(spark).count() == 16
    assert w.table_at(spark, "edges").count() == 16


def test_kill_between_bucket_writes_and_commit_loses_nothing(spark, tmp_path, monkeypatch):
    """A kill after the last bucket's table writes and before its snapshot
    commit must re-run that bucket on resume: the commit is the only
    record that a bucket is done, so the manifest, the directory readers
    and the post-maintenance vacuum all agree on every row."""
    pages = pages_df(spark, _docs(16))
    w = GraphWriter(str(tmp_path / "gw"), url_buckets=4)
    commit, calls = w.snapshots.commit, []

    def commit_killed_on_last_bucket(*args, **kwargs):
        calls.append(args[1])
        if len(calls) == 4:
            raise RuntimeError("killed before commit")
        return commit(*args, **kwargs)

    monkeypatch.setattr(w.snapshots, "commit", commit_killed_on_last_bucket)
    with pytest.raises(RuntimeError, match="killed before commit"):
        w.run(spark, pages, run_id="r1")
    assert calls == ["append-bucket"] * 4
    assert w.processed_buckets() == {0, 1, 2}

    res = w.run(spark, pages, run_id="r2")
    assert res.buckets_processed == 1 and res.buckets_skipped == 3
    for table in GraphWriter.TABLES:
        w.compact(spark, table)
    w.expire_snapshots(keep_last=1)
    assert w.triples(spark).count() == 32
    assert w.table_at(spark, "triples").count() == 32
    assert w.table_at(spark, "edges").count() == 16


def _commit_global_metrics(spark, w, run_id):
    """Rewrite the corpus-global ``metrics/url_bucket=-1`` partition and
    commit it outside the bucket loop, as ``scripts/run_pipeline.py``
    does."""
    (
        partition_metrics(build_vertices(w.edges(spark)), "vertices", "iri", run_id)
        .withColumn("url_bucket", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("url_bucket")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(w.root, "metrics"))
    )
    return w.snapshots.commit(w._table_files(), "append-global-metrics", {"run_id": run_id})


def _maintained_root(spark, root, keep_last):
    """A completed run, a global-metrics commit, every table compacted,
    then expiry down to ``keep_last`` snapshots."""
    w = GraphWriter(str(root), url_buckets=4)
    w.run(spark, pages_df(spark, _docs(16)), run_id="r1")
    _commit_global_metrics(spark, w, "r1")
    for table in GraphWriter.TABLES:
        w.compact(spark, table)
    w.expire_snapshots(keep_last=keep_last)
    return w


@pytest.mark.parametrize("keep_last", [1, 2])
def test_foreign_commit_keeps_the_bucket_list(spark, tmp_path, keep_last):
    """A commit made outside the bucket loop (the pipeline's and the
    benchmark sweep's global-metrics commit, compaction) passes no bucket
    list and inherits its parent's, so a completed run stays complete
    across it, across compaction and across expiry. Every reader reads
    the manifest: with two snapshots kept, the pre-compaction files the
    older one lists stay on disk beside their compacted copies and must
    not be read twice."""
    w = _maintained_root(spark, tmp_path / "gf", keep_last)
    assert w.processed_buckets() == {0, 1, 2, 3}
    for table in GraphWriter.TABLES:
        assert getattr(w, table)(spark).count() == w.table_at(spark, table).count()
    assert w.terms(spark).count() == 32 and w.edges(spark).count() == 16
    res = w.run(spark, pages_df(spark, _docs(16)), run_id="r2")
    assert res.buckets_processed == 0 and res.buckets_skipped == 4
    assert w.table_at(spark, "triples").count() == 32


def test_recommit_over_maintained_root_publishes_only_rewritten_files(spark, tmp_path):
    """A pipeline re-run over a maintained root commits again: the new
    manifest keeps the live files and adds only the partition directory
    the re-run rewrote, never the pre-compaction files the kept older
    snapshot still holds on disk."""
    w = _maintained_root(spark, tmp_path / "gr", keep_last=2)
    before = set(w.snapshots.manifest(w.snapshots.current_id())["files"])
    after = set(w.snapshots.manifest(_commit_global_metrics(spark, w, "r2"))["files"])
    assert {os.path.dirname(f) for f in after - before} == {
        os.path.join("metrics", "url_bucket=-1")}
    assert w.table_at(spark, "terms").count() == 32
    assert w.table_at(spark, "triples").count() == 32


def test_killed_compaction_leaves_only_invisible_orphans(spark, tmp_path, monkeypatch):
    """A compaction killed after it moves its ``compact-*`` files into the
    live partition directories and before its commit changes no read and
    no later commit; after the next expiry no ``compact-*`` file, parquet
    or checksum sidecar, is left."""
    root = tmp_path / "gx"
    w = GraphWriter(str(root), url_buckets=4)
    w.run(spark, pages_df(spark, _docs(16)), run_id="r1")

    def commit_killed(*args, **kwargs):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(w.snapshots, "commit", commit_killed)
    with pytest.raises(RuntimeError, match="killed before commit"):
        w.compact(spark, "edges")
    monkeypatch.undo()

    def compacted():
        return [n for _, _, names in os.walk(root / "edges") for n in names
                if "compact-" in n]

    assert compacted()
    assert w.edges(spark).count() == 16
    assert not any("compact-" in f for f in w._table_files())
    w.expire_snapshots(keep_last=1)
    assert compacted() == []
    assert w.edges(spark).count() == 16
