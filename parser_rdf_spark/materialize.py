"""Stage 4: graph materialization — edge/vertex tables partitioned by
predicate bucket, per-partition lineage + triple-count metrics, and
checkpoint/resume from snapshot commits.

Storage abstraction (SURVEY.md §7 step 7): this sandbox has no Iceberg
runtime jar, so tables are partitioned Parquet with an Iceberg-identical
layout (``pred_bucket = pmod(xxhash64(pred), N)`` ≙ Iceberg
``bucket(N, pred)``); the writer functions are the single place a real
deployment would swap in ``df.writeTo(...)`` against an Iceberg catalog.

Resume model (north rule: "resumable from checkpoint"): input pages are
split into ``url_bucket = pmod(xxhash64(url), B)`` work units. A bucket
is done when its ``append-bucket`` snapshot commit lands, AFTER its data:
each manifest lists the buckets its data includes, and that commit is the
one record (and the one point of visibility) of the bucket. A kill before
the commit re-runs the bucket — idempotent, because a re-run overwrites
the same deterministic partition directories; a kill after it skips it.

The manifest is also the one record of a table's files: every reader
reads the current manifest's file list, each commit republishes it plus
the partition directories a write has just created or replaced, and
expiry deletes whatever no kept manifest lists.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshots import ManifestLog, expire_and_vacuum, list_parquet, read_snapshot

DEFAULT_PRED_BUCKETS = 64


def _triples_disk_schema():
    from pyspark.sql.types import IntegerType, StructField, StructType

    from .schemas import TRIPLES

    return StructType(list(TRIPLES.fields) + [StructField("url_bucket", IntegerType(), True)])


def pred_bucket_col(n_buckets: int = DEFAULT_PRED_BUCKETS) -> F.Column:
    """Iceberg-style bucket transform on predicate (BASELINE.json:6)."""
    return F.pmod(F.xxhash64("pred"), F.lit(n_buckets)).cast("int")


def build_edges(triples: DataFrame, pages: DataFrame | None = None,
                n_buckets: int = DEFAULT_PRED_BUCKETS) -> DataFrame:
    """triples → edges(subj, pred, obj, obj_kind, pred_bucket, doc_url,
    warc_ts); literals are excluded (edges are resource→resource)."""
    edges = triples.filter(F.col("obj_kind") != "literal").select(
        "subj",
        "pred",
        F.col("obj_value").alias("obj"),
        "obj_kind",
        "doc_url",
    ).withColumn("pred_bucket", pred_bucket_col(n_buckets))
    if pages is not None:
        ts = pages.select(F.col("url").alias("doc_url"), "warc_ts")
        edges = edges.join(ts, "doc_url", "left")
    else:
        edges = edges.withColumn("warc_ts", F.lit(None).cast("timestamp"))
    return edges.select("subj", "pred", "obj", "obj_kind", "pred_bucket", "doc_url", "warc_ts")


def build_vertices(edges: DataFrame, components: DataFrame | None = None) -> DataFrame:
    """Distinct resource terms of the edge table, optionally labelled with
    connected-component ids from :func:`linking.connected_components`."""
    verts = (
        edges.select(F.col("subj").alias("iri"))
        .unionByName(edges.select(F.col("obj").alias("iri")))
        .distinct()
        .withColumn(
            "kind", F.when(F.col("iri").startswith("_:"), "bnode").otherwise("iri")
        )
    )
    if components is not None:
        comp = components.select(F.col("vertex").alias("iri"), "component_id")
        verts = verts.join(comp, "iri", "left")
    else:
        verts = verts.withColumn("component_id", F.lit(None).cast("long"))
    return verts.select("iri", "component_id", "kind")


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def partition_metrics(df: DataFrame, table: str, key_col: str, run_id: str) -> DataFrame:
    """Per-partition lineage metrics (north rule: "every partition writes
    lineage + triple-count metrics"): one row per Spark partition with
    row count and key min/max — computed with spark_partition_id(), a
    single narrow aggregation, no Python."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.min(key_col).alias("min_key"),
            F.max(key_col).alias("max_key"),
        )
        .select(
            F.col("_pid").alias("partition_id"),
            F.lit(table).alias("table"),
            F.col("row_count"),
            F.col("row_count").alias("triple_count"),
            "min_key",
            "max_key",
            F.lit(run_id).alias("run_id"),
        )
    )


# ---------------------------------------------------------------------------
# checkpointed, resumable pipeline runner
# ---------------------------------------------------------------------------


@dataclass
class RunResult:
    run_id: str
    buckets_total: int
    buckets_processed: int
    buckets_skipped: int
    triples_written: int


class GraphWriter:
    """Parquet-backed (Iceberg-layout) writer with bucket-level resume."""

    TABLES = ("triples", "edges", "docmeta", "metrics", "terms")

    def __init__(self, root: str, url_buckets: int = 8, pred_buckets: int = DEFAULT_PRED_BUCKETS):
        self.root = root
        self.url_buckets = url_buckets
        self.pred_buckets = pred_buckets
        self._ckpt_dir = os.path.join(root, "_checkpoints")
        os.makedirs(self._ckpt_dir, exist_ok=True)
        # Iceberg-style snapshot log: one commit per completed bucket, so
        # readers get atomic visibility (a half-written bucket is never in
        # any manifest) and time travel back to any bucket boundary
        self.snapshots = ManifestLog(os.path.join(root, "_snapshots"))
        # Pin the bucketing config on first use: resuming with a different
        # url_buckets than the one the checkpoints/staging were written
        # with would silently mix two incompatible bucket layouts.
        cfg_path = os.path.join(self._ckpt_dir, "writer_config.json")
        if os.path.exists(cfg_path):
            with open(cfg_path) as f:
                cfg = json.load(f)
            if cfg["url_buckets"] != url_buckets or cfg["pred_buckets"] != pred_buckets:
                raise ValueError(
                    f"GraphWriter config mismatch at {root}: checkpointed "
                    f"(url_buckets={cfg['url_buckets']}, pred_buckets={cfg['pred_buckets']}) "
                    f"vs requested ({url_buckets}, {pred_buckets}); resume with the "
                    "original config or start a fresh root"
                )
        else:
            with open(cfg_path, "w") as f:
                json.dump({"url_buckets": url_buckets, "pred_buckets": pred_buckets}, f)

    # -- checkpoint: the current snapshot's bucket list --------------------
    def processed_buckets(self) -> set[int]:
        """Url buckets whose data the current snapshot includes."""
        return set(self.snapshots.buckets())

    # -- input staging ----------------------------------------------------
    def _stage_pages(self, spark: SparkSession, pages: DataFrame) -> DataFrame:
        """ONE full-input pass that writes pages partitioned by url_bucket,
        so every per-bucket read below is partition-PRUNED instead of a
        full-corpus rescan (pre-fix, `filter(pmod(xxhash64(url)) == b)`
        computed the bucket on the fly and each of the B bucket iterations
        scanned 100% of the input — B full corpus scans at 100 TB).

        No shuffle: each input task writes its rows into up to B partition
        dirs (more, smaller files in exchange for skipping a full-corpus
        exchange). On a real deployment the Iceberg pages table would
        already be partitioned by `bucket(B, url)` and this staging write
        is the no-op you'd delete — the resume loop only needs *a*
        bucket-partitioned copy of the input, not this particular one.

        Idempotent/resumable: skipped when the previous run's staging
        completed (`_SUCCESS` marker) AND the live input still matches the
        staged copy's fingerprint (row count + source file listing). A
        kill mid-staging rewrites it; a *different* input restages when no
        buckets are checkpointed yet, and raises when some are — silently
        mixing buckets of two inputs is never right (ADVICE r2 item 1).
        """
        staged_path = os.path.join(self.root, "_staged_pages")
        meta_path = os.path.join(self._ckpt_dir, "staged_input.json")
        fp = self._input_fingerprint(pages)
        if os.path.exists(os.path.join(staged_path, "_SUCCESS")):
            old = None
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    old = json.load(f)
            if old == fp:
                return spark.read.parquet(staged_path)
            if self.processed_buckets():
                raise ValueError(
                    f"GraphWriter input changed mid-resume at {self.root}: staged "
                    f"fingerprint {old} vs live input {fp} with buckets already "
                    "checkpointed; resume with the original input or start a "
                    "fresh root"
                )
            # stale staging from a different input, nothing committed yet —
            # fall through and restage from the live input
        (
            pages.withColumn(
                "url_bucket",
                F.pmod(F.xxhash64("url"), F.lit(self.url_buckets)).cast("int"),
            )
            .write.mode("overwrite")
            .partitionBy("url_bucket")
            .parquet(staged_path)
        )
        with open(meta_path, "w") as f:
            json.dump(fp, f)
        return spark.read.parquet(staged_path)

    @staticmethod
    def _input_fingerprint(pages: DataFrame) -> dict:
        """Cheap input identity: source file listing (metadata-only) plus
        row count (parquet footer statistics for file sources — no data
        scan). Good enough to catch 'resumed with a different/updated
        pages frame'; content hashing would cost a full corpus read."""
        files = sorted(pages.inputFiles())
        return {
            "row_count": pages.count(),
            "files_sha256": hashlib.sha256("\n".join(files).encode()).hexdigest()
            if files
            else None,
        }

    def _cleanup_staging(self) -> None:
        """Drop the staged copy once every bucket is checkpointed — it is
        pure scratch, and keeping it doubles storage at scale."""
        staged_path = os.path.join(self.root, "_staged_pages")
        if os.path.isdir(staged_path):
            shutil.rmtree(staged_path, ignore_errors=True)
        meta_path = os.path.join(self._ckpt_dir, "staged_input.json")
        if os.path.exists(meta_path):
            os.remove(meta_path)

    # -- the run ----------------------------------------------------------
    def run(self, spark: SparkSession, pages: DataFrame, run_id: str,
            fail_after_buckets: int | None = None) -> RunResult:
        """Parse + materialize ``pages`` bucket-by-bucket, resumably.

        ``fail_after_buckets`` is a test hook: raise after N buckets to
        simulate a mid-job kill.
        """
        from .parse import docmeta_of, parse_pages, triples_of

        done = self.processed_buckets()
        processed = skipped = 0
        total_triples = 0
        staged = None
        for b in range(self.url_buckets):
            if b in done:
                skipped += 1
                continue
            if fail_after_buckets is not None and processed >= fail_after_buckets:
                raise RuntimeError(f"simulated failure after {processed} buckets")
            if staged is None:  # stage lazily: a fully-resumed run never rescans
                staged = self._stage_pages(spark, pages)
            chunk = staged.filter(F.col("url_bucket") == b).drop("url_bucket")
            # persist: the triples write and the docmeta write below both
            # consume `parsed`; without this each write re-executes the
            # fused parse stage — the dominant job cost — twice per bucket
            parsed = parse_pages(chunk).persist()
            triples = triples_of(parsed)

            # materialize the FULL triples relation (literals included)
            # alongside edges: the parse stage is the dominant cost of the
            # job, and downstream consumers (ontology extraction, linking)
            # read the written table instead of re-parsing the corpus
            (
                # sortWithinPartitions (narrow, no shuffle): documents
                # land contiguous so doc-scoped reads touch few row
                # groups, and parquet min/max stats on doc_url actually
                # prune — at 10^12 docs the difference between a pruned
                # and an unpruned scan is the whole job
                triples.sortWithinPartitions("doc_url", "line_no")
                .withColumn("url_bucket", F.lit(b))
                .write.mode("overwrite")
                .partitionBy("url_bucket")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(os.path.join(self.root, "triples"))
            )
            # explicit schema: an EMPTY bucket writes a file-less parquet
            # dir and schema inference would fail the whole run
            written = (
                spark.read.schema(_triples_disk_schema())
                .parquet(os.path.join(self.root, "triples"))
                .filter(F.col("url_bucket") == b)
                .drop("url_bucket")
            )

            # per-doc metadata (format, error channel, prefixes, counts):
            # the other half of the parse output, so nothing downstream
            # ever needs the raw pages again
            (
                docmeta_of(parsed).withColumn("url_bucket", F.lit(b))
                .write.mode("overwrite")
                .partitionBy("url_bucket")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(os.path.join(self.root, "docmeta"))
            )
            parsed.unpersist()

            # persisted: the write, the row-count verification, and the
            # metrics rollup all read edges — without this each consumer
            # re-runs the stage from scratch (edges now derive from the
            # just-written parquet, so even this re-read skips the parse)
            edges = build_edges(written, pages=chunk, n_buckets=self.pred_buckets).persist()

            edge_path = os.path.join(self.root, "edges")
            (
                # local (pred, subj) sort inside each bucket file: BGP
                # plans filter on constant predicates, so row-group
                # min/max stats prune non-matching groups, and the
                # low-cardinality pred column RLE/dictionary-compresses
                edges.sortWithinPartitions("pred", "subj")
                .withColumn("url_bucket", F.lit(b))
                .write.mode("overwrite")
                .partitionBy("url_bucket", "pred_bucket")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(edge_path)
            )
            n = edges.count()

            # term-encoded relation, MATERIALIZED (encode once, query
            # many — bgp.terms_spo's scale note): over the derived
            # projection a constant SPARQL pattern filter evaluates above
            # the base scan because Catalyst cannot invert concat; stored
            # as columns, every constant filter reaches the parquet scan
            # as a pushed predicate, and the pred_bucket partitioning
            # (Iceberg bucket(N, pred) over the ENCODED predicate) lets a
            # constant-predicate query prune 1-1/N of the files outright.
            # Derived from `written`, so no re-parse; (pred, subj) local
            # sort gives row-group pruning inside each bucket.
            from .bgp import terms_spo

            terms = terms_spo(written).withColumn(
                "pred_bucket",
                F.pmod(F.xxhash64("pred"), F.lit(self.pred_buckets)).cast("int"),
            )
            (
                terms.sortWithinPartitions("pred", "subj")
                .withColumn("url_bucket", F.lit(b))
                .write.mode("overwrite")
                .partitionBy("url_bucket", "pred_bucket")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(os.path.join(self.root, "terms"))
            )

            # metrics partitioned+overwritten per url_bucket: a crash
            # between this write and the bucket's commit re-runs the bucket,
            # and dynamic overwrite replaces (not duplicates) its rows
            metrics = partition_metrics(edges, "edges", "pred", run_id)
            (
                metrics.withColumn("url_bucket", F.lit(b))
                .write.mode("overwrite")
                .partitionBy("url_bucket")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(os.path.join(self.root, "metrics"))
            )
            edges.unpersist()

            # the commit is the one record that bucket b is done: the
            # manifest lists the parent's files plus bucket b's new
            # partition dirs, and the buckets they hold. Earlier buckets'
            # partition dirs are never rewritten (dynamic overwrite only
            # touches url_bucket=b, and b is committed at most once per
            # root), so older manifests stay valid — time travel to any
            # bucket boundary. An uncommitted (crashed) bucket's files are
            # in no manifest and get replaced invisibly on re-run.
            self.snapshots.commit(
                self._table_files(),
                "append-bucket",
                {"url_bucket": b, "run_id": run_id, "n_triples": n},
                buckets=done | {b},
            )
            done.add(b)
            total_triples += n
            processed += 1

        if len(done) == self.url_buckets:
            self._cleanup_staging()
        return RunResult(run_id, self.url_buckets, processed, skipped, total_triples)

    def _table_files(self) -> list[str]:
        """The file list the next commit publishes, relative to root: the
        current manifest's files still on disk, plus the parquet files of
        every partition directory that holds none of them — the
        directories a write has just created or replaced. Files beside a
        live one (pre-compaction copies a kept snapshot still lists, a
        killed compaction's orphans) are never republished."""
        sid = self.snapshots.current_id()
        listed = set(self.snapshots.manifest(sid)["files"]) if sid is not None else set()
        on_disk = {f for t in self.TABLES
                   for f in list_parquet(os.path.join(self.root, t), self.root)}
        live = listed & on_disk
        live_dirs = {os.path.dirname(f) for f in live}
        return sorted(live | {f for f in on_disk if os.path.dirname(f) not in live_dirs})

    def table_at(self, spark: SparkSession, table: str, snapshot_id: int | None = None) -> DataFrame:
        """A table AS OF a bucket-boundary snapshot (default current): the
        files its manifest lists, with the partition columns."""
        if table not in self.TABLES:
            raise ValueError(f"unknown table {table!r}; one of {self.TABLES}")
        return read_snapshot(spark, self.snapshots, self.root,
                             os.path.join(self.root, table), snapshot_id)

    def edges(self, spark: SparkSession) -> DataFrame:
        return self.table_at(spark, "edges")

    def triples(self, spark: SparkSession) -> DataFrame:
        """The materialized full triples relation (literals included) —
        read this instead of re-parsing the corpus downstream."""
        return self.table_at(spark, "triples")

    def docmeta(self, spark: SparkSession) -> DataFrame:
        return self.table_at(spark, "docmeta")

    def terms(self, spark: SparkSession) -> DataFrame:
        """The MATERIALIZED term-encoded (subj, pred, obj) relation for
        ``sparql_query(..., term_mode=True)`` — constant pattern filters
        reach the parquet scan as pushed predicates (impossible over the
        derived :func:`.bgp.terms_spo` projection). The retained
        ``pred_bucket`` partition column carries the bucket count as
        field metadata so the BGP compiler can add the matching
        partition filter for constant predicates (file-level pruning)."""
        return self.table_at(spark, "terms").select(
            "subj", "pred", "obj",
            F.col("pred_bucket").alias(
                "pred_bucket", metadata={"pred_buckets": self.pred_buckets}),
        )

    def metrics(self, spark: SparkSession) -> DataFrame:
        return self.table_at(spark, "metrics")

    # -- maintenance (scheduled post-run, like Iceberg rewrite_data_files
    # + expire_snapshots) ---------------------------------------------------
    def compact(self, spark: SparkSession, table: str) -> int:
        """Small-file compaction for one table: rewrite the CURRENT
        snapshot's rows into one file per partition directory and commit
        the rewrite as a new snapshot (operation='compaction') — contents
        identical, partition layout identical, history intact, the old
        small files reclaimed by :meth:`expire_snapshots`.

        The bucket-resume loop writes every table B times (once per
        url_bucket), and each write emits up-to-shuffle-partitions files
        per partition dir — at 10^12 docs the accreted small files are
        what blow up scan task counts and parquet footer IO. This is the
        maintenance job that bounds them.

        Crash-safe by the same protocol as the bucket writes: compacted
        files are renamed into the live partition dirs under names no
        manifest references yet, then ONE commit makes them visible —
        a crash at any point leaves either the old snapshot fully intact
        (plus invisible orphans: no reader reads them, no later commit
        lists them, and the next :meth:`expire_snapshots` deletes them) or
        the new one fully committed. Runs only after every bucket is
        checkpointed, so the dynamic-partition-overwrite bucket writes
        (which would clobber foreign files in a partition dir they
        rewrite) can never race it."""
        if table not in self.TABLES:
            raise ValueError(f"unknown table {table!r}; one of {self.TABLES}")
        if len(self.processed_buckets()) != self.url_buckets:
            raise ValueError(
                "compact() requires a completed run: "
                f"{len(self.processed_buckets())}/{self.url_buckets} buckets done"
            )
        sid = self.snapshots.current_id()
        df = self.table_at(spark, table, sid)  # raises if sid lists no file of table
        parent_files = self.snapshots.manifest(sid)["files"]
        prefix = table + os.sep
        old = [f for f in parent_files if f.startswith(prefix)]
        # partition columns, recovered from the on-disk layout itself
        part_cols = []
        for seg in old[0].split(os.sep)[1:-1]:
            if "=" in seg:
                part_cols.append(seg.split("=", 1)[0])

        new_id = self.snapshots.next_id()
        tmp = os.path.join(self.root, f"_compact_tmp_{table}_{new_id}")
        shutil.rmtree(tmp, ignore_errors=True)
        writer = (
            # repartition BY the partition columns: rows of one partition
            # value land in one task, so partitionBy emits exactly one
            # file per partition dir (the compaction target). At larger-
            # than-task-size partitions add a salt for >1 file each.
            df.repartition(*[F.col(c) for c in part_cols]).write
            if part_cols else df.coalesce(1).write
        )
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.mode("errorifexists").parquet(tmp)

        # rename into the live layout under manifest-invisible names
        new_files = []
        for rel in list_parquet(tmp, tmp):
            dest_dir = os.path.join(self.root, table, os.path.dirname(rel))
            os.makedirs(dest_dir, exist_ok=True)
            dest = os.path.join(dest_dir, f"compact-{new_id}-{os.path.basename(rel)}")
            os.replace(os.path.join(tmp, rel), dest)
            new_files.append(os.path.relpath(dest, self.root))
        shutil.rmtree(tmp, ignore_errors=True)

        files = [f for f in parent_files if not f.startswith(prefix)]
        files += sorted(new_files)
        assert self.snapshots.next_id() == new_id, "concurrent writer detected"
        return self.snapshots.commit(
            sorted(files), "compaction",
            {"table": table, "files_before": len(old),
             "files_after": len(new_files)},
        )

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Expire all but the last ``keep_last`` snapshots and delete every
        table file no surviving manifest lists — the vacuum that reclaims
        pre-compaction small files and keeps storage bounded. Returns the
        expired snapshot ids."""
        tables = [os.path.join(self.root, t) for t in self.TABLES]
        return expire_and_vacuum(self.snapshots, self.root, tables, keep_last)
