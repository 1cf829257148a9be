"""Round-14 OPTIMIZATION pins (first optimization round).

Optimizations must not change what any operator computes; these tests pin
the equivalences the round's plan rewrites rely on:

- ``semantic_dedup``'s within-cell pair compare moved from a relational
  join evaluating an interpreted ``zip_with``/``aggregate`` fold per pair
  to a cogrouped Arrow kernel (``similarity._cogroup_dropped``) — the
  batch twin of the r13 streaming ``_dropped_vs_new`` rewrite. Decisions
  must be bit-identical, including every degenerate-vector rule the JVM
  expressions implied (NULL vector, zero norm, ragged length, NaN).
- ``connected_components`` now derives the fixpoint's shuffle-partition
  count from the edge count (scale-adaptive, capped at the session
  setting) — labels must be identical and the session conf restored.
- ``spread_scan`` (the guide-§2.5 unsplittable-input remedy) must be a
  no-op on well-partitioned input and only repartition under-split scans.
"""

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark.operators import dedup, similarity, spread_scan
from clickhouse_provider_spark.operators.similarity import dot_expr, norm_sql


def _relational_semantic_dedup(emb, threshold, centroids):
    """The pre-r14 join+HOF form of semantic_dedup's pair stage, kept as
    the reference implementation for the equality pin (built through the
    SQL-string vector builders, which parse to the same fold)."""
    assigned = (
        similarity._argmax_cell(
            emb.select("vec_id", "embedding"),
            centroids.select("cell_id", "centroid"),
            "vec_id",
            "embedding",
        )
        .select("vec_id", "embedding", "cell_id", "cos_to_centroid")
        .localCheckpoint(eager=True)
    )
    sided = assigned.select(
        "cell_id", "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("_n")
    )
    a = sided.select(
        "cell_id",
        F.col("vec_id").alias("_id_a"),
        F.col("embedding").alias("_e_a"),
        F.col("_n").alias("_n_a"),
    )
    b = sided.select(
        "cell_id",
        F.col("vec_id").alias("_id_b"),
        F.col("embedding").alias("_e_b"),
        F.col("_n").alias("_n_b"),
    )
    pair_cos = dot_expr("_e_a", "_e_b") / F.nullif(
        F.col("_n_a") * F.col("_n_b"), F.lit(0.0)
    )
    dropped = (
        a.join(b, ["cell_id"])
        .filter(F.col("_id_a") < F.col("_id_b"))
        .filter(pair_cos >= F.lit(threshold))
        .select(F.col("_id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cell_id",
        "cos_to_centroid",
        F.coalesce(F.col("_dropped"), F.lit(False)).alias("is_dropped"),
    )


def test_semantic_dedup_kernel_equals_relational(spark):
    """Bit-identical decisions across every degenerate shape the JVM
    expressions handled: NULL vector (never drops / never dropped),
    zero vector (zero norm → NULL cosine), near-identical pairs (drop),
    orthogonal pairs (keep), NaN elements (NaN cosine → keep)."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 1e-7, 0.0]),        # near-parallel to 1 → dropped
        (3, [0.0, 1.0, 0.0]),         # orthogonal → kept
        (4, None),                    # NULL vector
        (5, [0.0, 0.0, 0.0]),         # zero norm
        (6, [1.0, 0.0, 0.0]),         # exact dup of 1 → dropped
        (7, [float("nan"), 1.0, 0.0]),  # NaN cosine → Spark NaN-ordering
        #                                 makes `NaN >= τ` TRUE → dropped
        (8, [0.0, 1.0, 1e-8]),        # near-parallel to 3 → dropped
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_train_centroids(emb, 2, iters=0)
    want = {
        tuple(r)
        for r in _relational_semantic_dedup(emb, 0.9, cents).collect()
    }
    got_df = similarity.semantic_dedup(
        emb, threshold=0.9, centroids=cents, skew_salt=0
    )
    got = {tuple(r) for r in got_df.collect()}
    assert got == want
    # the pair stage really is the cogrouped kernel, not a per-pair HOF
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # sanity on the fixture: both drop outcomes are exercised
    dropped = {r[0] for r in got if r[3]}
    assert dropped == {2, 6, 7, 8}


def test_semantic_dedup_kernel_salted_equals_unsalted(spark):
    """The triangle salt must compose with the kernel exactly as it did
    with the join: same decisions, ``_blk`` grouping in the plan."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [
        (int(i), [float(x) for x in rng.randn(8)]) for i in range(120)
    ]
    # a hot clique: 30 near-identical vectors
    base = rows[0][1]
    for i in range(60, 90):
        rows[i] = (i, [x + rng.randn() * 1e-6 for x in base])
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_train_centroids(emb, 4, iters=0)

    def decisions(salt):
        return {
            tuple(r)
            for r in similarity.semantic_dedup(
                emb, threshold=0.8, centroids=cents, skew_salt=salt
            ).collect()
        }

    salted = similarity.semantic_dedup(
        emb, threshold=0.8, centroids=cents, skew_salt=4
    )
    assert decisions(0) == decisions(4)
    plan = salted._jdf.queryExecution().optimizedPlan().toString()
    assert "_blk" in plan


def test_cc_adaptive_partitions_identical_and_restores_conf(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = {tuple(r) for r in dedup.connected_components(pairs).collect()}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }
    # tiny graph → the fixpoint derives a single shuffle partition
    n = max(
        1,
        min(
            int(before),
            -(-pairs.count() * 2 // dedup.CC_ROWS_PER_PARTITION),
        ),
    )
    assert n == 1


def test_spread_scan_conditional(spark):
    few = spark.createDataFrame(
        [(i,) for i in range(100)], "doc_id long"
    ).coalesce(1)
    target = spark.sparkContext.defaultParallelism
    spreaded = spread_scan(few, "doc_id")
    assert spreaded.rdd.getNumPartitions() >= min(2, target)
    wide = few.repartition(max(2, target), "doc_id")
    assert spread_scan(wide, "doc_id") is wide  # no-op: already spread
    # values untouched either way
    assert {r[0] for r in spreaded.collect()} == set(range(100))


def test_cc_oriented_distinct_identical_and_aqe_restored(spark):
    """Round-14 distinct-elision pins: (a) ``oriented_distinct=True`` —
    valid whenever every input row is unique with doc_a < doc_b — yields
    exactly the labels of the generic path; (b) the fixpoint's scoped
    AQE-off (engaged only when the derived partition count sits below
    the session setting) restores the session conf on exit."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    parts_before = spark.conf.get("spark.sql.shuffle.partitions")
    generic = {tuple(r) for r in dedup.connected_components(pairs).collect()}
    oriented = {
        tuple(r)
        for r in dedup.connected_components(
            pairs, oriented_distinct=True
        ).collect()
    }
    assert oriented == generic
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts_before


def test_cc_survivors_oriented_matches_generic(spark, tables):
    """End-to-end: the hub-edge → jaccard → survivors pipeline with the
    round-14 flags (hub edges undistincted into jaccard, CC skipping its
    dedup exchange) emits row-for-row the flag-free relation."""
    docs = tables["documents"].limit(200)
    sig = dedup.minhash_signatures(docs)
    old_pairs = dedup.jaccard_pairs(
        docs, pairs=dedup.lsh_hub_edges(sig), threshold=0.1
    ).select("doc_a", "doc_b")
    new_pairs = dedup.jaccard_pairs(
        docs, pairs=dedup.lsh_hub_edges(sig, distinct=False), threshold=0.1
    ).select("doc_a", "doc_b")
    old = {
        tuple(r) for r in dedup.dedup_survivors(docs, old_pairs).collect()
    }
    new = {
        tuple(r)
        for r in dedup.dedup_survivors(
            docs, new_pairs, oriented_distinct=True
        ).collect()
    }
    assert new == old


def test_cc_driver_union_find_matches_distributed(spark):
    """Round 14: graphs at or below CC_DRIVER_MAX_EDGES are solved with a
    driver-side union-find. Labels must be IDENTICAL to the distributed
    fixpoint's on the same graph — chains, stars, merged components,
    singleton-free edge lists, long ids and string ids."""
    import random

    rng = random.Random(14)
    # random graph: 300 nodes, 400 edges, several components
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(400)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    s_drv, s_dist = {}, {}
    drv = {
        tuple(r)
        for r in dedup.connected_components(pairs, stats=s_drv).collect()
    }
    dist = {
        tuple(r)
        for r in dedup.connected_components(
            pairs, stats=s_dist, driver_max_edges=0
        ).collect()
    }
    assert drv == dist
    assert s_drv["iterations"] == 0  # solved driver-side
    assert s_dist["iterations"] >= 1

    # string ids: min is lexicographic on both paths
    spairs = spark.createDataFrame(
        [("b", "c"), ("a", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    sdrv = {tuple(r) for r in dedup.connected_components(spairs).collect()}
    sdist = {
        tuple(r)
        for r in dedup.connected_components(
            spairs, driver_max_edges=0
        ).collect()
    }
    assert sdrv == sdist == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")
    }


def test_kmeans_kernel_equals_relational(spark):
    """Round 14: kmeans_assign's Arrow-kernel path (map-only assignment +
    k*d partial-sum update, zero vector shuffles) must reproduce the
    relational formulation bit-for-bit: same clusters, same exact
    quantized distances — on a generic corpus, a corpus with a NULL
    vector (lowest live cluster id, NULL dist, no centroid
    contribution), a zero-vector corpus, n < k, and extra Lloyd rounds
    (exercising the floored-mean replay and empty-cluster drop)."""
    from clickhouse_provider_spark.operators.clustering import kmeans_assign

    def vec(seed, d=16):
        return [float(((seed * 31 + i * 7) % 13) - 6) for i in range(d)]

    cases = [
        # (rows, k, iters)
        ([(i, vec(i)) for i in range(40)], 4, 2),
        ([(i, vec(i)) for i in range(8)] + [(100, None), (101, vec(9))], 3, 2),
        ([(0, [0.0] * 16), (1, vec(2)), (2, vec(2)), (3, vec(5))], 4, 2),
        ([(7, vec(1)), (9, vec(5))], 4, 2),  # n < k
        ([(i, vec(i * 3)) for i in range(60)], 3, 4),
    ]
    for rows, k, iters in cases:
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        rel = sorted(
            map(tuple, kmeans_assign(emb, k=k, iters=iters, use_kernel=False).collect())
        )
        ker = sorted(
            map(tuple, kmeans_assign(emb, k=k, iters=iters, use_kernel=True).collect())
        )
        assert rel == ker, f"kernel diverged on k={k} iters={iters}: {rel} vs {ker}"


def test_kmeans_kernel_ragged_raises_named(spark):
    """Wrong-length vectors fail loudly with dims named (the _argmax_cell
    / ADVICE-r12 stance), not an opaque numpy shape error."""
    from clickhouse_provider_spark.operators.clustering import kmeans_assign

    emb = spark.createDataFrame(
        [(0, [1.0] * 16), (1, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="length-8|length 8"):
        kmeans_assign(emb, k=2, iters=2, use_kernel=True).collect()


def test_semantic_dedup_kernel_salted_multipartition(spark):
    """Regression pin for the round-14 salt-scale bug: the cogrouped pair
    kernel's a-side _blk was an INT literal while the b-side's pmod was
    LONG; with the children spanning multiple partitions the cogroup
    produced left-only/right-only groups for every (cell, _blk) key and
    every salted pair compare silently vanished (~zero drops at 48k
    vectors). Single-partition unit scale masked it — this pin runs a
    corpus large and spread enough that group alignment must survive
    real partitioning, and checks salted ≡ unsalted drop decisions."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = []
    base_vecs = [[float(x) for x in rng.randn(16)] for _ in range(40)]
    for i in range(4000):
        v = base_vecs[i % 40]
        rows.append((i, [x + rng.randn() * 1e-7 for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(8, "vec_id")
    cents = similarity.ivf_train_centroids(emb, 4, iters=0)

    def dec(salt):
        return {
            tuple(r)
            for r in similarity.semantic_dedup(
                emb, threshold=0.8, centroids=cents, skew_salt=salt
            ).collect()
        }

    unsalted = dec(1)
    assert sum(1 for *_, d in unsalted if d) > 3000  # replicas must drop
    assert dec(2) == unsalted
    assert dec(7) == unsalted
    assert dec(None) == unsalted  # auto-derived salt path
