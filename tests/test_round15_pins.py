"""Round-15 pins.

1. kmeans_assign's documented NULL-seed divergence (ADVICE r14 medium):
   the kernel path intentionally FILTERS NULL vectors out of the
   k-lowest-id seed window (the r13 ivf_train_centroids stance), where
   the relational form keeps a NULL centroid that wins every
   min(struct(dist, cid)) via NULLS-FIRST ordering and collapses all
   assignments onto it. These tests pin the kernel behavior on exactly
   the corpora the docstring scopes out of the bit-equality claim, so
   the divergence is attested, not latent.

2. bucketed_cumsum single-evaluation restructure (VERDICT r15 task 2):
   values must stay bit-identical to the window formulation when the
   offsets come from caller-supplied bucket totals.
"""

import pytest


def _vec(seed, d=16):
    return [float(((seed * 31 + i * 7) % 13) - 6) for i in range(d)]


def test_kmeans_kernel_null_in_seed_window_documented_divergence(spark):
    """A NULL vector among the k lowest ids: the kernel drops it from the
    seed set (live seeds renumbered 0..len(live)-1) and every non-NULL
    row lands on a LIVE centroid with a real distance — while the
    relational form collapses everything onto the NULL seed's cluster
    with NULL dist. Both behaviors pinned so the docstring's intentional
    divergence cannot drift silently."""
    from clickhouse_provider_spark.operators.clustering import kmeans_assign

    rows = [(0, _vec(0)), (1, None), (2, _vec(2))] + [
        (i, _vec(i)) for i in range(3, 20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = 3  # seed window = ids 0,1,2 — id 1 is NULL

    ker = {r["vec_id"]: r for r in kmeans_assign(emb, k=k, use_kernel=True).collect()}
    assert set(ker) == {r[0] for r in rows}
    # two live seeds -> cluster ids renumbered {0, 1}
    live = {r["cluster_id"] for r in ker.values()}
    assert live <= {0, 1} and len(live) >= 1
    for vid, r in ker.items():
        if vid == 1:  # the NULL (non-seed-eligible) row: lowest live id, NULL dist
            assert r["cluster_id"] == 0 and r["dist"] is None
        else:
            assert r["dist"] is not None and r["dist"] >= 0.0

    rel = kmeans_assign(emb, k=k, use_kernel=False).collect()
    # relational: in round 1 the NULL seed centroid wins every
    # min(struct) fold (NULLS-FIRST), so ALL rows land on its cluster;
    # the Lloyd update then averages their real vectors into a REAL
    # centroid, so the final pass emits one cluster with real distances
    # (NULL dist only for the NULL row). This single-cluster collapse is
    # the degenerate SQL-null artifact the kernel deliberately does not
    # replicate.
    assert len(rel) == len(rows)
    assert len({r["cluster_id"] for r in rel}) == 1
    assert sorted(r["vec_id"] for r in rel if r["dist"] is None) == [1]


def test_kmeans_kernel_all_null_corpus_documented_divergence(spark):
    """All-NULL corpus: kernel returns an EMPTY frame at ANY iters (no
    live seeds). The relational form diverges only at iters=1 (every row
    on the NULL seed's cluster 0, NULL dists); at iters>=2 its Lloyd
    update drops the all-NULL clusters and it returns empty too."""
    from clickhouse_provider_spark.operators.clustering import kmeans_assign

    emb = spark.createDataFrame(
        [(i, None) for i in range(5)], "vec_id long, embedding array<double>"
    )
    for it in (1, 2):
        assert kmeans_assign(emb, k=3, iters=it, use_kernel=True).collect() == []
    rel1 = kmeans_assign(emb, k=3, iters=1, use_kernel=False).collect()
    assert len(rel1) == 5 and all(r["dist"] is None for r in rel1)
    assert {r["cluster_id"] for r in rel1} == {0}
    assert kmeans_assign(emb, k=3, iters=2, use_kernel=False).collect() == []


def test_bucketed_cumsum_matches_window_after_shared_shuffle(spark):
    """bucketed_cumsum stays bit-identical to the plain cumulative window
    in both modes (default dual-eval, caller-supplied bucket_totals) on
    grouped AND ungrouped inputs, including NULL-val rows and
    multi-column mode."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from clickhouse_provider_spark.operators.ranking import bucketed_cumsum

    rows = []
    for g in ("a", "b"):
        for v in range(1, 41):
            rows.append((g, float(v), v % 7 + 1, (v * 3) % 5))
    # a NULL-val row mid-stream (carries prior running total)
    rows.append(("a", 17.5, None, None))
    df = spark.createDataFrame(rows, "g string, v double, x long, y long")
    bkt = F.floor(F.col("v") / F.lit(8.0))

    w = W.partitionBy("g").orderBy("v")
    want = {
        (r["g"], r["v"]): (r["cx"], r["cy"])
        for r in df.select(
            "g",
            "v",
            F.coalesce(F.sum("x").over(w), F.lit(0)).alias("cx"),
            F.coalesce(F.sum("y").over(w), F.lit(0)).alias("cy"),
        ).collect()
    }
    # caller-supplied totals from an "equivalent cheap source" — here the
    # same rows, but routed through the bucket_totals door
    totals = df.filter(bkt.isNotNull()).groupBy("g", bkt.alias("_bkt")).agg(
        F.sum("x").alias("_bw0"), F.sum("y").alias("_bw1")
    )
    for kwargs in (
        {},
        {"bucket_totals": totals},
    ):
        got = {
            (r["g"], r["v"]): (r["cx"], r["cy"])
            for r in bucketed_cumsum(
                df,
                "v",
                ["x", "y"],
                bucket=bkt,
                group_cols=["g"],
                out_col=["cx", "cy"],
                **kwargs,
            ).collect()
        }
        assert got == want, f"grouped mismatch for {kwargs}"

    # ungrouped path (array-fold offsets)
    wu = W.orderBy("v")
    want_u = {
        r["v"]: r["c"]
        for r in df.where("g = 'a'")
        .select("v", F.coalesce(F.sum("x").over(wu), F.lit(0)).alias("c"))
        .collect()
    }
    totals_u = (
        df.where("g = 'a'")
        .filter(bkt.isNotNull())
        .groupBy(bkt.alias("_bkt"))
        .agg(F.sum("x").alias("_bw0"))
    )
    for kwargs in (
        {},
        {"bucket_totals": totals_u},
    ):
        got_u = {
            r["v"]: r["c"]
            for r in bucketed_cumsum(
                df.where("g = 'a'"),
                "v",
                "x",
                bucket=bkt,
                out_col="c",
                **kwargs,
            ).collect()
        }
        assert got_u == want_u, f"ungrouped mismatch for {kwargs}"

    # a totals relation missing required columns is rejected
    with pytest.raises(ValueError):
        bucketed_cumsum(
            df, "v", "x", bucket=bkt, bucket_totals=totals_u.select("_bw0")
        )
