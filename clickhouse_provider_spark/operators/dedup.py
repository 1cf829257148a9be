"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, and n-gram Jaccard — each expressed as
shuffle-conscious DataFrame compositions (no Python UDFs).

Scale design (the point of each shape at 100 TB):

- **exact**: groupBy(md5(text)) — one shuffle on a uniformly distributed
  128-bit key; no skew by construction.
- **minhash_lsh**: per-doc signatures are a narrow explode+groupBy(doc);
  the LSH band join shuffles only (band_id, band_hash) pairs — candidate
  generation never materializes the O(n²) pair space, and band buckets are
  the classic bound on join fan-out. Verification joins texts only for
  candidate pairs.
- **simhash**: one explode+groupBy(doc) to fold 32 bit-counters; near-dup
  banding on byte prefixes again avoids O(n²).
- **ngram_jaccard**: exact verification (used standalone on small corpora
  or downstream of LSH candidates).

Hashing is md5-based everywhere: deterministic, seedable by prefixing, and
available identically in Spark and DuckDB (which makes every operator
oracle-checkable — hash-min over hex strings is order-isomorphic to
hash-min over the integers they encode).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_SHINGLE = 3  # words per shingle
N_HASHES = 8  # minhash signature length
BAND_SIZE = 2  # rows per LSH band → 4 bands at N_HASHES=8

#: connected_components sizes its per-round shuffles from the edge count
#: (round 14): ~this many edge rows per shuffle partition, capped at the
#: session's shuffle-partition setting. ~200k rows ≈ a few MB of (a, b)
#: longs per task — big enough that task overhead amortizes, small enough
#: that a round's join state stays comfortably in execution memory.
CC_ROWS_PER_PARTITION = 200_000

#: connected_components solves graphs at or below this edge count (both
#: orientations, post-distinct) with a driver-side union-find instead of
#: the distributed fixpoint (round 14, guide §1.2-1): each fixpoint round
#: is 2+ driver-synchronized jobs, and on a graph this small the ENTIRE
#: cost is that scheduling (measured: ~2,350 edges → ~1.4 s of fixpoint
#: jobs vs ~30 ms collect + solve + createDataFrame). 256k edge rows ≈
#: 4 MB of collected longs — far inside the driver-collectable contract
#: the centroid/codebook relations already rely on, and the count that
#: gates it is computed (not assumed) on the materialized edge relation
#: every call. Labels are identical by construction: component_id = min
#: reachable id, an algorithm-independent value (pinned against the
#: distributed path in tests/test_round14_opt_pins.py). Cluster-scale
#: graphs exceed the gate and keep the fixpoint unchanged.
CC_DRIVER_MAX_EDGES = 262_144


def _parallelism(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


def normalized_words(text_col: str = "text") -> F.Column:
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]+", " "))
    return F.filter(F.split(norm, " "), lambda x: x != "")


def shingles(df: DataFrame, n: int = N_SHINGLE) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document, via
    sequence+transform (codegen) instead of a Python loop.

    Repartitions by doc_id first: (a) spreads the hash-heavy explode across
    all cores even when the source is a single file/row-group, (b) aligns
    the partitioning with every downstream groupBy(doc_id), so signature
    aggregation reuses the exchange instead of shuffling again. The
    partition count is explicit — with a column-only repartition, AQE
    coalesces the tiny shuffle down to one partition (it optimizes shuffle
    bytes, not the md5-heavy CPU work that follows)."""
    df = df.repartition(_parallelism(df), "doc_id")
    words = normalized_words()
    # guard: F.sequence(0, k) DESCENDS for k < 0 — short docs must yield
    # an empty shingle set, not a bogus descending index range
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
    )


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text). Survivor = min doc_id."""
    return (
        df.select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("survivor_doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_signatures(df: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): minhash signature per document.

    Hash family: the k 32-bit slices of ⌈k/4⌉ seeded md5 digests —
    md5 bits are independent, so 4 slices per digest give 4 hash functions
    for the price of one (2 md5 calls per shingle instead of 8; measured
    ~2× on the signature stage). Lexicographic min over fixed-width hex
    slices == min over the 32-bit ints they encode, and the same
    expression runs verbatim in the DuckDB oracle.
    One explode + one groupBy(doc_id) with k min-aggregates.
    """
    sh = shingles(df)
    aggs = []
    for i in range(n_hashes):
        seed, off = divmod(i, 4)
        digest = F.md5(F.concat(F.lit(f"{seed}|"), F.col("shingle")))
        aggs.append(F.min(F.substring(digest, 1 + 8 * off, 8)).alias(f"mh_{i}"))
    return sh.groupBy("doc_id").agg(*aggs)


def melt_bands(
    sig: DataFrame, band_size: int = BAND_SIZE, n_hashes: int = N_HASHES
) -> DataFrame:
    """(doc_id, band_id, band_hash): the melted banded-signature relation —
    one explode over each per-doc signature row. Shared by the pair-listing
    self-join (:func:`lsh_candidate_pairs`), the O(m)-per-bucket hub-edge
    builder (:func:`lsh_hub_edges`)."""
    n_bands = n_hashes // band_size
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|", *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


def lsh_hub_edges(
    sig: DataFrame,
    band_size: int = BAND_SIZE,
    n_hashes: int = N_HASHES,
    materialize: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """STAR (hub) edges per LSH band bucket: every doc in a bucket links to
    the bucket's MINIMUM doc_id instead of to every other member — the
    candidate relation for CONNECTED-COMPONENT consumers (VERDICT r9 #1).

    Returns distinct (doc_a, doc_b) with doc_a < doc_b (doc_a is always a
    hub). A bucket of size m yields m−1 edges, not m·(m−1)/2 pairs, so a
    giant duplicate cluster — the common case in 100 TB dedup, where
    boilerplate clusters hold millions of docs — costs O(m) instead of the
    O(m²) blowup the pair self-join pays (SCALE_PROBE_r09b showed the pair
    path going 3.55× for 2× data once clusters grow with the corpus).

    CANDIDATE-graph connectivity is exactly that of
    :func:`lsh_candidate_pairs`: a bucket is a clique there and a star
    here — same components. After per-edge Jaccard VERIFICATION the two
    graphs can differ: a hub that fails the threshold against a member
    drops the star edge where the clique may keep a member–member edge —
    see the dedup_cluster_stats entry doc (plans/catalog11.py) for the
    recall statement. For pairwise-similar clusters (every pair ≥
    threshold — the regime the banding targets, and any exact-duplicate
    cluster, where Jaccard is 1) verified components are identical; pinned
    by tests/test_llm_ops.py::test_hub_edges_components_match_pairs.

    Plan: one groupBy + one join, both keyed on (band_id, band_hash) — the
    join reuses the aggregation's exchange, so the whole operator is one
    shuffle of the melted band relation; no self-join ever materializes.

    ``distinct=False`` (round 14, guide §2.4) skips the final dedup
    exchange for callers that deduplicate anyway — ``jaccard_pairs``
    distincts its candidate input as its first step, so feeding it the
    raw multi-band edge list removes one full exchange with zero change
    in any downstream row. Keep the default for direct consumers (an
    edge may repeat once per colliding band).
    """
    if materialize:
        sig = sig.localCheckpoint(eager=True)
    bands = melt_bands(sig, band_size, n_hashes)
    hubs = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.min("doc_id").alias("hub"), F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") >= 2)
        .drop("_m")
    )
    out = (
        bands.join(hubs, ["band_id", "band_hash"])
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return out.distinct() if distinct else out


def lsh_candidate_pairs(
    sig: DataFrame,
    band_size: int = BAND_SIZE,
    n_hashes: int = N_HASHES,
    materialize: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """LSH banding: docs sharing any band (concat of band_size minhashes)
    become a candidate pair. Returns distinct (doc_a, doc_b), doc_a < doc_b.

    Scale: the self-join key is (band_id, band_hash) — uniform md5 buckets;
    hot buckets (true duplicate clusters of size m) cost m² pairs, which is
    the algorithm's output size, not incidental skew. ``materialize``
    localCheckpoints the signatures first — a self-join otherwise
    recomputes the whole shingle+hash stage for each side (measured ~2×).
    ``distinct=False`` skips the dedup exchange for callers that
    deduplicate anyway (``jaccard_pairs`` — see :func:`lsh_hub_edges`).
    """
    if materialize:
        sig = sig.localCheckpoint(eager=True)
    bands = melt_bands(sig, band_size, n_hashes)
    left = bands.alias("l")
    right = bands.alias("r")
    out = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
    )
    return out.distinct() if distinct else out


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.0,
    track: list | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for (doc_a, doc_b) pairs; if ``pairs`` is None,
    candidates are generated by sharing ≥1 shingle — a VERIFICATION
    BASELINE whose pair space explodes on stopword-like shingles; at scale
    always pass LSH candidates.

    With ``pairs``, the computation is candidate-first ALL the way: the
    (deduplicated) pair list is materialized once, shingling is
    restricted to documents that actually appear in a candidate pair,
    and that reduced shingle relation is materialized and reused for the
    size counts and both join sides — so work is
    O(|pairs| · shingles-per-doc) and the corpus-wide explode never runs
    (at scale, candidates ≪ corpus). (Round-1 weakness: counting all
    shared-shingle pairs and semi-joining candidates after the fact;
    round-9 refinement: previously the FULL corpus was shingled 3× and
    the candidate plan recomputed once per consumer.)

    Jaccard emitted as exact integer counts + a double ratio of them, so
    the oracle matches bit-for-bit.

    Cache lifecycle (ADVICE r10): the candidate path persists two
    intermediates (the deduped pair list and the candidate-restricted
    shingles). Pass ``track`` (a list) to receive them and unpersist after
    the consuming action — long-running callers (a foreachBatch loop)
    MUST, or Spark's CacheManager accumulates one pair of cached plans
    per call for the life of the session. One-shot catalog/oracle runs
    may omit ``track``: their caches are reclaimed with the session,
    which is the documented contract for those entries.
    """
    if pairs is not None:
        # duplicate candidate rows (e.g. raw band collisions, where one pair
        # can collide in several bands) would inflate n_common → Jaccard > 1;
        # distinct + persist also stops the (often expensive) LSH candidate
        # plan from re-running for each of its THREE consumers below (doc-id
        # restriction + join spine). persist, NOT localCheckpoint (ADVICE
        # r10): checkpointing is an action under AQE (toRdd materializes the
        # shuffle stages even with eager=False), so merely BUILDING this
        # plan used to execute the whole shingle+minhash+band pipeline —
        # persist is fully lazy, caches on first action, and every later
        # consumer reuses the one computation (pinned by
        # tests/test_llm_ops.py::test_jaccard_pairs_build_runs_no_jobs).
        p = pairs.select("doc_a", "doc_b").distinct().persist()
        if track is not None:
            track.append(p)
        # one pass + explode instead of a self-union (same rationale as
        # connected_components' edge orientation: no doubled partitions)
        need = (
            p.select(
                F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
            ).distinct()
        )
        # shingle ONLY candidate docs, once; reuse for sizes + both sides
        # (lazy persist for the same build-vs-run reason as `p` above)
        sh = shingles(df.join(need, "doc_id")).persist()
        if track is not None:
            track.append(sh)
        sizes = sh.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_shingles")
        )
        # expand each candidate pair by doc_a's shingles, then inner-join
        # doc_b's shingles on (doc_b, shingle): one row per common shingle
        # per candidate pair — proportional to candidate work only.
        # (Round 14 probed and REJECTED a one-exchange melt-spine form —
        # group all endpoint shingles by (pair, shingle) and count roles:
        # bit-identical, but it shuffles Σ(|sh_a|+|sh_b|) rows per pair
        # where this probe-join shape ships only the doc_a side and lets
        # the (doc_b, shingle) join drop non-common shingles before any
        # aggregation; measured 3.4 s → 3.85 s on the cluster-stats rep.)
        common = (
            p.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
            .join(
                sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
                ["doc_b", "shingle"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        sh = shingles(df)
        sizes = sh.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_shingles")
        )
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sz_a = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")
    )
    sz_b = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")
    )
    out = (
        common.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def substring_dup_ratio(
    df: DataFrame, n: int = 8, anchor_hex: str = "0"
) -> DataFrame:
    """ExactSubstr-style duplicated-span signal per document (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): the
    fraction of a document's sampled word-n-gram ANCHORS that recur
    verbatim in at least one other document — the curation filter that
    catches long copied passages whole-doc MinHash misses.

    Anchor selection is CONTENT-DEFINED (keep shingles whose md5 starts
    with ``anchor_hex``, a 1/16 sample): the same copied span selects the
    same anchors in every document regardless of its position, so no
    stride-alignment is needed — the word-boundary + hash-threshold pair
    plays the role of a suffix-array scan at 1/16 the shuffle volume.

    Scale: hashing is map-side over the shingle explode (CPU linear in
    corpus words); only the 1/16 anchor subset shuffles — once for the
    doc-frequency count and once joining back per doc. No pair space is
    ever materialized (the output is per-document, not per-pair).

    Returns (doc_id, n_anchors, n_dup_anchors, dup_anchor_ratio) for
    every document; docs with no anchors get 0/0/NULL.
    """
    anch = shingles(df, n).filter(
        F.substring(F.md5("shingle"), 1, len(anchor_hex)) == anchor_hex
    )
    # ONE anchor pass (round 14, guide §1.2-1/§2.4): the old plan used
    # `anch` twice — once aggregated to doc frequencies and once as the
    # probe side of an anch⋈dfreq join — so the shingle explode + md5
    # scan (the expensive map work) ran TWICE and the join added a third
    # shuffle. Grouping by shingle while CARRYING the doc list gives df
    # and the anchor rows in the same aggregation: each (doc, shingle)
    # anchor reappears exactly once when the list is re-exploded
    # (shingles() is doc-distinct), so the multiset feeding the per-doc
    # rollup — and every count — is identical. Per-shingle lists are
    # bounded by that shingle's df (corpus-wide dup factor, ~1-2 for
    # real text); a pathological universal shingle is the same hot key
    # the join form would have had.
    per_doc = (
        anch.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.collect_list("doc_id").alias("_docs"),
        )
        .select(F.explode("_docs").alias("doc_id"), "df")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_anchors"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias(
                "n_dup_anchors"
            ),
        )
    )
    return (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_anchors", F.lit(0)).alias("n_anchors"),
            F.coalesce("n_dup_anchors", F.lit(0))
            .cast("long")
            .alias("n_dup_anchors"),
            (
                F.col("n_dup_anchors").cast("double") / F.col("n_anchors")
            ).alias("dup_anchor_ratio"),
        )
    )


def _cc_union_find(edges: list[tuple]) -> list[tuple]:
    """Exact driver-side connected components over a small edge list:
    union-find with path halving, then label every node with the MIN id
    of its component — the identical value the distributed min-label
    fixpoint converges to (min over a component is total-order-only, so
    it agrees for longs and for strings, matching F.min/F.least)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        return r

    for a, b in edges:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    return [(x, comp_min[find(x)]) for x in parent]


def connected_components(
    pairs: DataFrame,
    stats: dict | None = None,
    oriented_distinct: bool = False,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """(doc_id, component_id) for every doc in ``pairs`` (doc_a, doc_b):
    min-label propagation to fixpoint — the same shallow-iteration shape
    as the receipt→tx closure (operators/transactions.py). component_id =
    the smallest doc_id reachable through near-duplicate edges.

    Observability: pass ``stats`` (a dict) to receive
    ``stats["iterations"]`` — per-call, caller-owned, so concurrent CC
    runs can't race each other's counters (ADVICE r10: the old
    function-attribute write was process-global mutable state).

    Scale: each iteration is one shuffle join on the edges plus one
    label self-join (path compression, r10) — iterations ≈ log(cluster
    diameter), so even chain-of-stars graphs (overlapping hub buckets)
    converge in a handful of driver-synchronized rounds; label state is
    2 longs per doc.

    ``oriented_distinct`` (round 14, guide §2.4 "remove shuffles
    outright"): set True when the caller guarantees ``pairs`` rows are
    already distinct with ``doc_a < doc_b`` on every row — then the two
    unioned orientations are disjoint by construction (a < b vs a > b)
    and the dedup exchange below is provably a no-op, so it is skipped.
    Every verified-pair producer in this package (``jaccard_pairs``
    output — distinct by its groupBy keys, hub-oriented; the
    ``simhash_hub_pairs`` output — hub = bucket min) meets the contract.
    Default False keeps the generic any-edge-list behavior.

    ``driver_max_edges`` overrides CC_DRIVER_MAX_EDGES (0 forces the
    distributed fixpoint; tests pin its convergence through that door).
    """
    # both orientations from ONE pass over pairs (round 14, guide §2.4):
    # the old self-union scanned the (often expensive) pair plan twice
    # and CONCATENATED its partitions — map-side unions double the task
    # count of every downstream stage, and AQE cannot coalesce a union
    # of map stages (it only coalesces shuffle reads)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
                F.struct(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")),
            )
        ).alias("_e")
    ).select("_e.a", "_e.b")
    if not oriented_distinct:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=True)
    n_edges = edges.count()
    # Small-graph short-circuit (round 14, guide §1.2-1): see
    # CC_DRIVER_MAX_EDGES. ``driver_max_edges=0`` forces the distributed
    # fixpoint (tests pin its convergence behavior through that door).
    gate = CC_DRIVER_MAX_EDGES if driver_max_edges is None else driver_max_edges
    if n_edges <= gate:
        rows = edges.collect()
        if all(r[0] is not None and r[1] is not None for r in rows):
            labels = _cc_union_find([(r[0], r[1]) for r in rows])
            if stats is not None:
                stats["iterations"] = 0  # solved driver-side, no rounds
            spark = edges.sparkSession
            atype = edges.schema["a"].dataType
            schema = T.StructType(
                [
                    T.StructField("doc_id", atype),
                    T.StructField("component_id", atype),
                ]
            )
            return spark.createDataFrame(labels, schema)
        # NULL endpoints: fall through — the relational path's
        # null-join/min semantics stay authoritative for that corner
    # Scale-adaptive shuffle sizing for the fixpoint (round 14, guide §2:
    # derive partitioning from input size, not a constant): every round
    # shuffles relations of O(|edges|) rows, and with the session's full
    # shuffle-partition count the per-round cost is dominated by task
    # scheduling and AQE stage bookkeeping of mostly-empty partitions
    # (measured: the 5-round fixpoint at 32 partitions runs ~2.0 s on a
    # 2,350-edge graph vs ~1.4 s at the derived count — pure overhead,
    # zero data difference). The count comes from the materialized edge
    # relation and is CAPPED at the session setting, so big graphs keep
    # the session's (cluster-sized) parallelism and only genuinely small
    # fixpoints shrink. Restored in ``finally`` — label values are
    # partitioning-independent, so results are identical either way.
    spark = edges.sparkSession
    sess_parts = spark.conf.get("spark.sql.shuffle.partitions")
    sess_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    n_parts = max(
        1, min(int(sess_parts), -(-n_edges // CC_ROWS_PER_PARTITION))
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    # AQE inside the fixpoint (round 14): every fixpoint round is a chain
    # of driver-synchronized actions, and under AQE each exchange is
    # materialized as its own stage-job. When the derived partition count
    # is BELOW the session setting the graph is by definition small
    # (< CC_ROWS_PER_PARTITION rows per session partition), so AQE has
    # nothing left to do — partitions are already right-sized by the
    # count above, there is nothing to coalesce and no skew to split —
    # while its per-round stage materializations roughly triple the job
    # count (measured 16 → 6 jobs per CC run on a 488-edge graph).
    # Cluster-scale graphs hit the cap (n_parts == session setting) and
    # keep AQE's runtime coalescing/skew handling. Labels are identical
    # either way (partitioning- and planner-independent).
    if n_parts < int(sess_parts):
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _cc_fixpoint(edges, stats)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", sess_parts)
        spark.conf.set("spark.sql.adaptive.enabled", sess_aqe)


def _cc_fixpoint(edges: DataFrame, stats: dict | None) -> DataFrame:
    """The min-label propagation loop of :func:`connected_components`,
    run under the caller-managed shuffle-partition scope. It loops until
    no label changes: labels only fall and each is a member doc_id, so
    the loop ends."""
    # init: one aggregation — every endpoint appears as `a` (edges carry
    # both orientations), so groupBy(a) already enumerates the distinct
    # doc_ids and min(b) is in the same pass; the former
    # distinct-join-groupBy spelling paid two extra exchanges for the
    # identical relation (round 14, guide §2.4).
    labels = (
        edges.groupBy(F.col("a").alias("doc_id"))
        .agg(F.min("b").alias("nb"))
        .select("doc_id", F.least("doc_id", "nb").alias("label"))
        .localCheckpoint(eager=True)
    )
    for it in itertools.count():
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["doc_id"])
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        mid = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("_old"),
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("_mid"),
        )
        if it == 0:
            # round 0: plain neighbor-min only. Most near-dup graphs
            # (star buckets, tiny cliques) converge here; paying the
            # compression self-join before knowing the graph is deep
            # costs more than it saves.
            new_labels = mid.select(
                "doc_id",
                F.col("_mid").alias("new_label"),
                (F.col("_mid") < F.col("_old")).alias("_chg"),
            ).localCheckpoint(eager=True)
        else:
            # PATH COMPRESSION (r10), rounds ≥ 1: also pull each doc's
            # label's label — label values are always member doc_ids of
            # this relation (init: least(self, a neighbor); step: least
            # of such values), so the self-join always matches. Chasing
            # one indirection per round turns O(diameter) rounds into
            # O(log diameter) on chain-of-stars graphs (hub edges over
            # overlapping buckets — exactly the dedup_*_clusters shape),
            # and each driver-synchronized round is the expensive unit
            # of this fixpoint at any scale.
            chase = mid.select(
                F.col("doc_id").alias("_mk"), F.col("_mid").alias("_ml")
            )
            new_label = F.least(
                F.col("_mid"), F.coalesce(F.col("_ml"), F.col("_mid"))
            )
            new_labels = (
                mid.join(chase, mid["_mid"] == chase["_mk"], "left")
                .select(
                    "doc_id",
                    new_label.alias("new_label"),
                    # convergence flag from columns already in hand — a
                    # new-vs-old join would add a shuffle join per round
                    (new_label < F.col("_old")).alias("_chg"),
                )
                .localCheckpoint(eager=True)
            )
        converged = new_labels.filter(F.col("_chg")).isEmpty()
        labels = new_labels.select(
            "doc_id", F.col("new_label").alias("label")
        )
        if stats is not None:
            stats["iterations"] = it + 1  # per-call observability
        if converged:
            break
    return labels.select("doc_id", F.col("label").alias("component_id"))


#: Above this many ids, the label-history lookups in
#: :func:`components_delta` fall back from a pushed IN filter
#: (rowgroup-pruning over doc_id-sorted history files) to a broadcast
#: join over the full skinny scan — a giant IN literal costs more to
#: plan/evaluate than the scan it would prune, and a batch that touches
#: that many docs reads most rowgroups anyway. Matches the raised
#: spark.sql.parquet.pushdown.inFilterThreshold (session.py).
LABEL_PUSH_LIMIT = 1024


def _filter_ids(df: DataFrame, col: str, ids: list):
    """``col ∈ ids`` as a scan-pushable predicate when the list is small
    (IN → rowgroup pruning), else a broadcast semi-join (full skinny
    scan, no shuffle)."""
    if len(ids) <= LABEL_PUSH_LIMIT:
        return df.filter(F.col(col).isin(ids))
    spark = df.sparkSession
    id_df = spark.createDataFrame([(int(i),) for i in ids], f"{col} long")
    return df.join(F.broadcast(id_df), col, "left_semi")


def components_delta(
    history: DataFrame | None,
    new_edges: DataFrame,
    track: list | None = None,
) -> DataFrame:
    """Label DELTA for one batch of verified near-dup edges against a
    batch-keyed label-history relation: incremental connected components
    that relabel only the components the new edges touch, instead of
    rebuilding the whole label table.

    ``history`` is the RAW delta relation (doc_id, component_id[, ...]):
    every row any prior batch wrote, INCLUDING stale rows superseded by
    later, smaller labels. The reader contract that makes deltas exact: a
    doc's current label is ``min(component_id)`` over its rows, because
    min-label CC over a growing edge set is per-doc NON-INCREASING
    (components only ever merge, so the min reachable id only falls).
    Docs absent from history are self-labeled by convention, as in
    :func:`dedup_survivors`.

    Stale rows cannot corrupt the relabel: a touched component's id is
    its CURRENT min (live label), and a dead label never revives — once
    doc A's component merged into B < A, every component containing A
    has min ≤ B forever — so joining history rows on live touched
    component ids picks up (a) every current member (its current-label
    row exists) and (b) possibly docs via stale rows whose stale label
    coincides with a live touched label, which the dead-label argument
    rules out entirely. Extra star edges from a member's stale rows
    connect nodes already in one component — harmless to CC.

    Cost: two ID-PRUNED scans of the skinny history (touched-doc lookup,
    member lookup — pushed IN filters over doc_id-sorted history files
    when the touched set is small, broadcast semi-joins otherwise) plus
    the localized fixpoint — O(edges + touched members), never a corpus
    shuffle or rewrite. Returns (doc_id, component_id) rows to WRITE as
    this batch's delta; callers add the batch's self rows. The resolved
    history ∪ delta equals one-shot :func:`connected_components` over all
    edges (``dedup_delta_labels`` in the oracle gate, and
    tests/test_round14_pins.py).

    Cache lifecycle: the distinct edge list is persisted (it feeds the
    touched-id collect and the fixpoint). Pass ``track`` to receive it
    and unpersist after the consuming action (see :func:`jaccard_pairs`).
    """
    edges = new_edges.select("doc_a", "doc_b").distinct().persist()
    if track is not None:
        track.append(edges)
    if history is None:
        return connected_components(edges).select("doc_id", "component_id")
    touched_ids = sorted(
        {r["doc_a"] for r in edges.select("doc_a").distinct().collect()}
        | {r["doc_b"] for r in edges.select("doc_b").distinct().collect()}
    )
    hist = history.select("doc_id", "component_id")
    # current labels of touched docs: min over their (pruned) history rows
    comp_ids = sorted(
        {
            r["component_id"]
            for r in _filter_ids(hist, "doc_id", touched_ids)
            .groupBy("doc_id")
            .agg(F.min("component_id").alias("component_id"))
            .select("component_id")
            .distinct()
            .collect()
        }
    )
    if not comp_ids:
        return connected_components(edges).select("doc_id", "component_id")
    members = (
        _filter_ids(hist, "component_id", comp_ids)
        .select("doc_id", "component_id")
        .distinct()
    )
    old_star = members.filter(
        F.col("doc_id") != F.col("component_id")
    ).select(
        F.col("component_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    return connected_components(old_star.unionByName(edges)).select(
        "doc_id", "component_id"
    )


def dedup_survivors(
    docs: DataFrame, pairs: DataFrame, oriented_distinct: bool = False
) -> DataFrame:
    """Final dedup decision: cluster near-dup pairs, elect min-doc_id
    survivor per component; docs in no component survive as themselves.
    Returns (doc_id, survivor_doc_id, is_survivor).

    ``oriented_distinct`` passes through to :func:`connected_components`
    (set True when ``pairs`` is already distinct with doc_a < doc_b —
    true of every verified-pair producer here).

    (CC docstring above covers the fixpoint; since r10 each round also
    path-compresses, so rounds ≈ log(diameter).)"""
    cc = connected_components(pairs, oriented_distinct=oriented_distinct)
    return (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias("survivor_doc_id"),
        )
        .withColumn("is_survivor", (F.col("doc_id") == F.col("survivor_doc_id")).cast("boolean"))
    )


def simhash32(df: DataFrame) -> DataFrame:
    """32-bit SimHash over normalized words (frequency-weighted): word hash
    = first 8 hex chars of md5 as uint32; bit i of the signature is set when
    the ±1 vote sum over all word occurrences is positive.

    One explode + groupBy(doc_id) folding 32 conditional-sum aggregates —
    no UDF, fully codegen. Portable: conv(hex,16,10) == DuckDB
    ('0x'||hex)::BIGINT.
    """
    # hoist the word hash into ONE projected column: inlining it in each
    # of the 32 vote aggregates would evaluate md5+conv 32× per row (the
    # signature stage dominated the dedup_simhash_clusters headline)
    words = (
        df.repartition(_parallelism(df), "doc_id")
        .select("doc_id", F.explode(normalized_words()).alias("word"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("word"), 1, 8), 16, 10)
            .cast("bigint")
            .alias("_h"),
        )
    )
    h = F.col("_h")
    votes = words.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v_{i}")
            for i in range(32)
        ]
    )
    sig = F.lit(0).cast("bigint")
    for i in range(32):
        sig = sig + F.when(F.col(f"v_{i}") > 0, F.lit(2**i).cast("bigint")).otherwise(0)
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_hub_pairs(
    sig: DataFrame, max_hamming: int = 3, materialize: bool = True
) -> DataFrame:
    """SimHash near-dup edges in HUB form — the star-edge treatment of
    :func:`lsh_hub_edges` applied to the byte-band buckets of
    :func:`simhash_near_pairs`: every doc in a (band, byte) bucket links
    to the bucket's min doc_id, then the edge is verified with the exact
    hamming distance (bit_count of xor — no text join needed, the
    signatures carry the verification). O(m) edges per bucket instead of
    O(m²) pairs; same connected components as the pair form on clusters
    whose members are pairwise within ``max_hamming`` (a bucket is a
    clique there and a star here). Returns (doc_a, doc_b, hamming),
    doc_a < doc_b.

    Verify-join shape (VERDICT r10 task 4): the doc_b side's signature
    rides the band row it came from, so verification needs exactly ONE
    join — candidate × hub signatures — and the hub relation is ≤
    n_bands × 256 rows BY CONSTRUCTION (one hub per (band, byte) bucket;
    1,024 at the default 4 bands), so that join is a broadcast: the
    (potentially huge) candidate relation never shuffles to verify.
    Pinned by tests/test_round11_pins.py (BroadcastHashJoin on the hub
    side, no shuffle join in the verify stage).

    ``materialize`` localCheckpoints the signatures first: this operator
    consumes ``sig`` twice (band melt + the hub-signature build), and the
    32-aggregate simhash plan is the expensive stage — without the
    checkpoint it re-executes per consumer (measured ~3× on the
    dedup_simhash_clusters headline)."""
    if materialize:
        sig = sig.localCheckpoint(eager=True)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("byte"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.byte")
    hubs = (
        bands.groupBy("band_id", "byte")
        .agg(F.min("doc_id").alias("doc_a"), F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") >= 2)
        .drop("_m")
    )
    # the non-hub endpoint's signature is already on its band row: carry
    # it through, so no join is ever needed on the (large) doc_b side;
    # hubs is the same ≤1,024-row relation — broadcast it as well, so the
    # band relation never shuffles for the candidate join either
    cand = (
        bands.join(F.broadcast(hubs), ["band_id", "byte"])
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select(
            "doc_a",
            F.col("doc_id").alias("doc_b"),
            F.col("simhash").alias("sim_b"),
        )
        .distinct()
    )
    # hub signatures: ≤ 4 bands × 256 bytes = 1,024 rows by construction
    # — broadcast, so the candidate relation verifies without a shuffle
    hub_sigs = F.broadcast(
        sig.join(
            hubs.select(F.col("doc_a").alias("doc_id")).distinct(), "doc_id"
        ).select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    )
    return (
        cand.join(hub_sigs, "doc_a")
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_near_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: band on the four signature bytes, verify
    with exact bit_count(xor). Pigeonhole guarantee: a pair within hamming
    ≤ 3 differs in at most 3 of the 4 disjoint bytes, so it always shares
    one band; larger distances are found only when the differing bits
    cluster. For a larger radius, raise the band count (nibbles → 8 bands,
    guarantee ≤ 7) at the cost of candidate fan-out."""
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("byte"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.byte")
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.byte") == F.col("r.byte"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sim_a"),
            F.col("r.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
