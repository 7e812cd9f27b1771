"""Stage 3: entity linking, canonicalization, and cross-document IRI
resolution (north_rule: "links and canonicalizes entities via a salted
broadcast-hash join against a dictionary plus MinHash-LSH blocking and
connected-components (iterative DataFrame self-join with checkpointing)").

The reference library has no cross-document stage at all (it is a
per-document parser); this module is the scale-out half the north rule
adds. Three components:

1. :func:`link_entities` — salted broadcast-hash dictionary join. The
   probe side (triples) is mega-host skewed; the dictionary is small.
   A plain broadcast join already avoids shuffle skew for the probe side,
   but hot *keys* still serialize within a partition's hash probe and,
   worse, upstream repartitioning on the key would explode. We salt
   explicitly: probe keys get a random-but-deterministic salt in [0, K),
   the broadcast dictionary is exploded ×K, so even a downstream shuffle
   on the join key spreads a mega-key over K partitions (SURVEY.md §4
   item 1).

2. :func:`minhash_lsh_blocking` — near-duplicate surface blocking:
   character-shingle → 64-bit minhash signatures → banded LSH buckets →
   candidate pairs via a self-join on (band, bucket). Pure Column ops
   (xxhash64 is JVM-side), no Python.

3. :func:`connected_components` — large-star/small-star-style hash-min
   label propagation as an iterative DataFrame self-join, with
   ``localCheckpoint`` every ``checkpoint_every`` rounds to truncate
   lineage, early exit on convergence (count of changed labels == 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Default broadcast ceiling for the salt-exploded dictionary (bytes).
#: Catalyst's own autoBroadcastJoinThreshold defaults to 10 MB; we allow
#: more because the dictionary is replicated ×salt_buckets and the probe
#: side at web scale is orders of magnitude larger, so paying a bigger
#: broadcast is usually still cheaper than shuffling the probe.  Past
#: this, broadcasting fails outright (driver/executor OOM), so we fall
#: back to a salted shuffled sort-merge join.
BROADCAST_DICT_MAX_BYTES = 256 * 1024 * 1024


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate for ``df`` in bytes.

    Uses the same statistic Spark's own broadcast auto-selection reads
    (file sizes / column stats when available), so the gate agrees with
    what the engine would decide. When the JVM stat is unavailable or
    degenerate (stat-less in-memory relations report defaultSizeInBytes,
    ~8 EB), falls back to count() × a SAMPLED row width: a flat
    bytes/row constant under-estimates a dictionary of long IRIs (median
    KG IRI is 60-120 chars, two per row) and would route a too-big
    dictionary to the broadcast path — a driver OOM at scale. Both
    fallback actions run on the (small-ish) dictionary, never the probe.
    """
    try:
        stat = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        stat = None
    if stat is not None and stat < (1 << 50):
        return stat
    n = df.count()
    if n == 0:
        return 0
    from pyspark.sql.types import StringType

    str_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
    avg_chars = 0.0
    if str_cols:
        width = None
        for c in str_cols:
            term = F.coalesce(F.length(F.col(c)), F.lit(0))
            width = term if width is None else (width + term)
        row = df.limit(1024).select(F.avg(width).alias("w")).first()
        avg_chars = float(row.w or 0.0)
    # UnsafeRow footprint ≈ string bytes (ASCII-dominant IRIs: 1 B/char)
    # + ~16 B/field offset+null overhead + 16 B row header
    per_row = int(avg_chars) + 16 * max(len(df.schema.fields), 1) + 16
    return n * per_row


def _salted_dict_join(
    probe: DataFrame,
    entities: DataFrame,
    probe_key,
    salt_expr,
    salt_buckets: int,
    strategy: str = "auto",
    broadcast_threshold: int = BROADCAST_DICT_MAX_BYTES,
) -> DataFrame:
    """LEFT-join ``probe`` against the ``entities(surface, canonical_iri)``
    dictionary on (key, salt), size-gated between two physical plans with
    the same logical contract:

    - **broadcast** (dictionary ×salt fits in ``broadcast_threshold``):
      salt-exploded dictionary broadcast to every task; the probe side
      never shuffles. The salt keeps any *downstream* repartition on the
      key from concentrating a mega-key.
    - **shuffle** (dictionary too big to broadcast — the 100-TB case
      where surface→IRI is GBs–TBs): shuffled sort-merge join, forced
      with a ``merge`` hint so AQE can't flip it back to a doomed
      broadcast. The probe side salts with ``salt_expr`` (deterministic,
      uncorrelated with the key) and the dictionary explodes ×K, so a
      mega-key ("login", "home", ...) spreads over K shuffle partitions;
      AQE skew-join splitting handles any residual imbalance.

    ``strategy``: "auto" (size-gate via Catalyst stats), "broadcast",
    or "shuffle". Output columns: probe columns + ``canonical_iri``
    (nullable) with the join scaffolding dropped.
    """
    if strategy == "auto":
        strategy = (
            "broadcast"
            if _estimated_bytes(entities) * salt_buckets <= broadcast_threshold
            else "shuffle"
        )
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown dictionary join strategy: {strategy!r}")

    salted_dict = (
        entities.withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])))
        .withColumnRenamed("surface", "_surface")
    )
    probe = probe.withColumn("_salt", salt_expr.cast("int"))
    cond = (probe[probe_key] == salted_dict["_surface"]) & (
        probe["_salt"] == salted_dict["salt"]
    )
    if strategy == "broadcast":
        out = probe.join(F.broadcast(salted_dict), cond, "left")
    else:
        out = probe.join(salted_dict.hint("merge"), cond, "left")
    return out.drop("_surface", "salt", "_salt")


def link_entities(
    triples: DataFrame,
    entities: DataFrame,
    salt_buckets: int = 16,
    surface_col: str = "obj_value",
    strategy: str = "auto",
    broadcast_threshold: int = BROADCAST_DICT_MAX_BYTES,
) -> DataFrame:
    """Size-gated salted dictionary join of triple objects against the
    ``entities(surface, canonical_iri)`` dictionary; adds
    ``canonical_obj`` = canonical IRI when linked, else the original term.

    The salt is ``pmod(xxhash64(doc_url, line_no), K)`` — deterministic
    (resume-safe, no rand()) yet uncorrelated with the join key, so a
    mega-key's probes spread over K dictionary replicas. Small
    dictionaries broadcast; dictionaries too big to broadcast fall back
    to a salted shuffled sort-merge join (see :func:`_salted_dict_join`).
    """
    out = _salted_dict_join(
        triples,
        entities,
        surface_col,
        F.pmod(F.xxhash64("doc_url", "line_no"), F.lit(salt_buckets)),
        salt_buckets,
        strategy,
        broadcast_threshold,
    )
    return (
        out.withColumn("canonical_obj", F.coalesce(F.col("canonical_iri"), F.col(surface_col)))
        .drop("canonical_iri")
    )


def canonicalize_triples(
    triples: DataFrame,
    entities: DataFrame,
    salt_buckets: int = 16,
    strategy: str = "auto",
    broadcast_threshold: int = BROADCAST_DICT_MAX_BYTES,
) -> DataFrame:
    """Canonicalize subject AND object IRIs through the dictionary.

    Two size-gated salted dictionary joins (broadcast when the dictionary
    fits — no shuffle of the big side at all — else salted sort-merge);
    literals pass through untouched.
    """
    linked_obj = link_entities(triples, entities, salt_buckets, "obj_value", strategy, broadcast_threshold)
    linked_obj = linked_obj.withColumn(
        "obj_canonical",
        F.when(F.col("obj_kind") == "literal", F.col("obj_value")).otherwise(
            F.col("canonical_obj")
        ),
    ).drop("canonical_obj")

    out = _salted_dict_join(
        linked_obj,
        entities,
        "subj",
        F.pmod(F.xxhash64("doc_url", "subj"), F.lit(salt_buckets)),
        salt_buckets,
        strategy,
        broadcast_threshold,
    )
    return (
        out.withColumn("subj_canonical", F.coalesce(F.col("canonical_iri"), F.col("subj")))
        .drop("canonical_iri")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH blocking
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_len: int = 4,
) -> DataFrame:
    """64-bit minhash signatures over character shingles, entirely JVM-side:
    sliding-window substrings → per-permutation ``min(xxhash64(shingle,
    seed))``. Output: (id, sig: array<bigint>).

    Perf: shingle strings are substring'd and string-hashed exactly ONCE;
    the ``num_hashes`` permutations are derived by re-hashing the 64-bit
    shingle hash with a per-permutation seed (long-hashing is ~10× cheaper
    than string-hashing, so total cost is 1 string pass + N long passes
    instead of N string passes).
    """
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform(sequence(1, greatest(1, length({text_col}) - {shingle_len - 1})), "
            f"i -> xxhash64(substring({text_col}, i, {shingle_len})))"
        ).alias("hs"),
    )
    sig = hashed.select(
        "id",
        F.array(
            *[
                F.expr(f"array_min(transform(hs, h -> xxhash64(h, {seed}L)))")
                for seed in range(num_hashes)
            ]
        ).alias("sig"),
    )
    return sig


def minhash_lsh_blocking(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_len: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH: signatures are cut
    into ``bands`` bands of ``num_hashes/bands`` rows; two ids sharing any
    (band, band-hash) bucket become a candidate pair.

    Returns (id_a, id_b) with id_a < id_b, distinct.

    Shape: ONE groupBy on (band, bucket) + in-bucket pair generation with
    array lambdas — not a self-join. A self-join would recompute the
    signature stage on both sides (the dominant cost) and shuffle twice;
    this computes signatures once and shuffles banded rows once.

    Mega-bucket handling: a bucket with > ``max_bucket`` ids would expand
    to O(k²) pairs — at web scale a 1M-identical-doc cluster would emit
    5·10¹¹ pairs from one bucket. Instead of dropping such buckets (which
    silently loses every pair and disconnects duplicate mega-clusters),
    oversized buckets emit a STAR pairing: every id pairs with the
    bucket's minimum id. O(k) pairs, and downstream connected components
    still unions the whole cluster through the representative.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_len)
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.expr(f"slice(sig, {b * rows_per_band + 1}, {rows_per_band})"))
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    all_pairs = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"
    )
    star_pairs = F.expr("transform(ids, x -> struct(array_min(ids) AS a, x AS b))")
    pairs = buckets.select(
        F.explode(
            F.when(F.size("ids") <= F.lit(max_bucket), all_pairs).otherwise(star_pairs)
        ).alias("p")
    )
    return (
        pairs.select(
            F.least("p.a", "p.b").alias("id_a"), F.greatest("p.a", "p.b").alias("id_b")
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------

class ConvergenceError(RuntimeError):
    """An iterative graph algorithm ran out of rounds before converging."""


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 50,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Hash-min connected components with pointer doubling over an
    undirected edge list.

    Iterative DataFrame self-join with checkpointing (the exact pattern
    the north rule names). Each round a vertex (1) adopts the minimum
    label among itself and its neighbors, then (2) jumps through its
    label's label (path compression: L'(v) = min(L(v), L(L(v)))). One
    jump per round does NOT halve the label distance to the component
    minimum: a label's own label is usually stale too, so on a chain
    whose vertex ids are in random order the minimum moves only a few
    hops per round and the round count grows with the diameter (a
    plain-Python replay needed 17 rounds for a 48-vertex chain, 46 for
    96 and 100 for 160). Lineage is truncated with ``localCheckpoint``
    every round; the loop exits as soon as a round changes nothing.

    Raises :class:`ConvergenceError` when labels still change in round
    ``max_iters``: the labels at that point are not the components.

    Returns (vertex: string, component: string, component_id: long) where
    ``component`` is the lexicographic minimum vertex of the component and
    ``component_id`` its stable xxhash64.
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .localCheckpoint(eager=True)
    )

    for i in range(max_iters):
        # (1) each vertex adopts min(own label, neighbors' labels)
        neigh = (
            sym.join(labels.withColumnRenamed("vertex", "b2"), sym.b == F.col("b2"))
            .groupBy("a")
            .agg(F.min("component").alias("neigh_min"))
        )
        # persisted: the pointer-jump below reads cand twice (probe +
        # label map); without it the whole min-step recomputes per read
        cand = labels.join(neigh, labels.vertex == neigh.a, "left").select(
            "vertex",
            F.least(
                F.col("component"), F.coalesce(F.col("neigh_min"), F.col("component"))
            ).alias("component"),
            F.col("component").alias("_old"),
        ).persist()
        # (2) pointer jump: follow the label's own label one hop
        comp_map = cand.select(
            F.col("vertex").alias("_cv"), F.col("component").alias("_cc")
        )
        stepped = cand.join(comp_map, cand.component == F.col("_cv"), "left").select(
            "vertex",
            F.least(F.col("component"), F.coalesce(F.col("_cc"), F.col("component"))).alias("component"),
            "_old",
        )
        # checkpoint EVERY round: the pointer jump references cand twice,
        # so un-truncated lineage doubles per round (2^k plan blowup —
        # persist alone caches data but not the plan). checkpoint_every
        # is kept for API stability but clamped to 1 by this shape.
        stepped = stepped.localCheckpoint(eager=True)
        changed = stepped.filter(F.col("component") != F.col("_old")).count()
        cand.unpersist()
        labels.unpersist()
        labels = stepped.drop("_old")
        if changed == 0:
            break
    else:
        raise ConvergenceError(
            f"connected_components did not converge in max_iters={max_iters} "
            "rounds: labels were still changing in the last round"
        )

    return labels.withColumn("component_id", F.xxhash64("component"))


_XSD = "http://www.w3.org/2001/XMLSchema#"
_XSD_INT_TYPES = tuple(
    _XSD + t for t in (
        "integer", "long", "int", "short", "byte", "nonNegativeInteger",
        "nonPositiveInteger", "negativeInteger", "positiveInteger",
        "unsignedLong", "unsignedInt", "unsignedShort", "unsignedByte",
    )
)


def normalize_literals(triples: DataFrame) -> DataFrame:
    """Canonicalize literal lexical forms — the value-level counterpart
    of IRI canonicalization: web data asserts the same fact as
    ``"+01"^^xsd:integer`` on one page and ``"1"^^xsd:integer`` on
    another, and the lexical mismatch silently defeats exact dedup,
    sameAs grouping, and groupBy keys downstream.

    Canonicalized: integer-family datatypes (via try_cast — the W3C
    canonical form, no leading '+'/zeros/whitespace) and xsd:boolean
    ('TRUE'/' 1 ' → 'true'). Unparseable lexical forms, other datatypes
    (decimal/double/dateTime have engine-specific formatting; left for a
    typed layer), language-tagged strings, and non-literal rows pass
    through byte-identical. Pure Column expressions — one projection,
    no shuffle, whole-stage codegen."""
    if "obj_value" not in triples.columns:
        raise ValueError("normalize_literals expects the full triples schema")
    is_lit = F.col("obj_kind") == "literal"
    dt = F.col("obj_datatype")

    int_canon = F.expr("cast(try_cast(trim(obj_value) as bigint) as string)")
    bool_norm = F.lower(F.trim(F.col("obj_value")))
    bool_canon = (
        F.when(bool_norm.isin("true", "1"), F.lit("true"))
        .when(bool_norm.isin("false", "0"), F.lit("false"))
    )
    normalized = (
        F.when(is_lit & dt.isin(*_XSD_INT_TYPES), F.coalesce(int_canon, F.col("obj_value")))
        .when(is_lit & (dt == _XSD + "boolean"), F.coalesce(bool_canon, F.col("obj_value")))
        .otherwise(F.col("obj_value"))
    )
    return triples.withColumn("obj_value", normalized)


def fuzzy_name_pairs(
    names: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_distance: int = 2,
    max_block: int = 1000,
) -> DataFrame:
    """Fuzzy surface-form matching — the edit-distance ER mode between
    the exact dictionary join (:func:`link_entities`) and document-level
    MinHash: two mentions within ``max_distance`` case-insensitive edits
    ("Acme Corp" / "ACME Corp.") are candidate aliases. Returns
    (id1, id2, name1, name2, distance) with id1 < id2.

    Scale shape: candidates are BLOCKED on the lowercased 2-char prefix
    (never all-pairs; a self-join inside each prefix block), pre-filtered
    by length difference ≤ max_distance (a Levenshtein lower bound, so
    it costs no recall), then verified with the JVM levenshtein. Blocks
    larger than ``max_block`` are dropped with the usual junk-block
    rationale. Documented recall bound: a pair whose FIRST TWO
    characters differ ("Müller"/"Mueller") never meets — standard
    prefix-blocking tradeoff; add a phonetic or n-gram blocking pass if
    that matters for the corpus."""
    base = names.select(
        F.col(id_col).alias("id"),
        F.col(name_col).alias("name"),
        F.lower(F.substring(F.col(name_col), 1, 2)).alias("_blk"),
        F.length(name_col).alias("_len"),
    )
    wb = Window.partitionBy("_blk")
    blocked = base.withColumn("_n", F.count(F.lit(1)).over(wb)).filter(
        F.col("_n") <= max_block
    ).drop("_n")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, "_blk")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a._len") - F.col("b._len")) <= max_distance)
        )
        .withColumn(
            "distance",
            F.levenshtein(F.lower(F.col("a.name")), F.lower(F.col("b.name"))),
        )
        .filter(F.col("distance") <= max_distance)
        .select(
            F.col("a.id").alias("id1"), F.col("b.id").alias("id2"),
            F.col("a.name").alias("name1"), F.col("b.name").alias("name2"),
            F.col("distance").cast("bigint").alias("distance"),
        )
    )


def near_dup_clusters(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_len: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """The production fuzzy-dedup shape end to end: MinHash-LSH
    candidate pairs (:func:`minhash_lsh_blocking`, star-paired hostile
    buckets) → connected components over the pair graph → one cluster
    row per document: ``(id, cluster_id, is_representative, cluster_size)``
    with the minimum id per cluster as the kept representative —
    ``filter(is_representative)`` IS the deduped corpus, the rest is the
    drop list. Documents with no near-dup candidate form singleton
    clusters of themselves (left anti-joined back in, no shuffle beyond
    the one hash join).

    This composes two already-scale-shaped operators; transitive
    near-duplicate chains (A~B, B~C but A!~C) land in ONE cluster —
    the set-cover semantics corpus dedup wants (pair-at-a-time dropping
    can drop both endpoints or neither)."""
    pairs = minhash_lsh_blocking(
        documents, text_col, id_col,
        num_hashes=num_hashes, bands=bands,
        shingle_len=shingle_len, max_bucket=max_bucket,
    )
    labels = connected_components(pairs, src_col="id_a", dst_col="id_b")
    clustered = labels.select(
        F.col("vertex").alias("id"), F.col("component").alias("cluster_id")
    )
    singles = (
        documents.select(F.col(id_col).alias("id"))
        .join(clustered.select("id"), "id", "left_anti")
        .withColumn("cluster_id", F.col("id"))
    )
    allc = clustered.unionByName(singles)
    sizes = allc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("id").alias("rep"),
    )
    return allc.join(sizes, "cluster_id").select(
        "id", "cluster_id",
        (F.col("id") == F.col("rep")).alias("is_representative"),
        "cluster_size",
    )
