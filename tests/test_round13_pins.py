"""Round-13 pins for the ADVICE r12 fixes: degenerate-embedding handling
in the map-side cell argmax, the broadcast centroid matrix (VERDICT r12
task 5) and the auto-engaged semantic_dedup skew salt."""

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark.operators import similarity


# ------------------------------------------- argmax degenerate embeddings


@pytest.fixture()
def cents2(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cell_id int, centroid array<double>",
    )


def test_argmax_cell_null_embedding_graceful(spark, cents2):
    """ADVICE r12 (medium): a NULL embedding must degrade exactly like
    the old relational plan — the row is emitted with the lowest cell_id
    and a NULL cosine (the DESC-NULLS-LAST window result) — not crash the
    whole job inside np.stack."""
    emb = spark.createDataFrame(
        [(1, [0.0, 3.0]), (2, None), (3, [5.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cell_id"], r["cos_to_centroid"])
        for r in similarity._argmax_cell(
            emb, cents2, "vec_id", "embedding"
        ).collect()
    }
    assert got[1] == (1, 1.0)
    assert got[3] == (0, 1.0)
    assert got[2] == (0, None)  # lowest cell_id, NULL cosine
    # same rule as a zero-norm vector (the already-pinned degenerate)
    z = spark.createDataFrame(
        [(9, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    (row,) = similarity._argmax_cell(z, cents2, "vec_id", "embedding").collect()
    assert (row["cell_id"], row["cos_to_centroid"]) == (0, None)


def test_argmax_cell_ragged_vector_raises_clearly(spark, cents2):
    """A wrong-LENGTH vector is a schema violation, not a degradation:
    fail with the dimensions named, not np.stack's opaque shape error."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="centroids are 2-dimensional"):
        similarity._argmax_cell(emb, cents2, "vec_id", "embedding").collect()


def test_argmax_cell_centroids_are_broadcast(spark, monkeypatch, cents2):
    """VERDICT r12 task 5: the centroid matrix ships as an explicit
    sparkContext.broadcast (once per executor, ContextCleaner-reclaimed),
    never a task-closure constant — at production n_cells ~1e4-1e5 x
    d=768 the closure would be a 60-600 MB per-task payload."""
    import numpy as np

    calls = []
    orig = spark.sparkContext.broadcast

    def spy(value):
        calls.append(value)
        return orig(value)

    monkeypatch.setattr(spark.sparkContext, "broadcast", spy)
    emb = spark.createDataFrame(
        [(1, [0.0, 3.0]), (2, [5.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity._argmax_cell(emb, cents2, "vec_id", "embedding")
    assert len(calls) == 1
    cell_ids, C, cn = calls[0]
    assert list(cell_ids) == [0, 1] and C.shape == (2, 2)
    assert np.allclose(cn, [1.0, 1.0])
    # the broadcast plan computes the same assignments
    got = {r["vec_id"]: r["cell_id"] for r in out.collect()}
    assert got == {1: 1, 2: 0}


# ------------------------------------------------- auto-engaged skew salt


@pytest.fixture(scope="module")
def emb(spark):
    from clickhouse_provider_spark.session import load_tables

    return load_tables(spark, "/root/testdata/sf0.001")["embeddings"].select(
        "vec_id", "embedding"
    )


def test_semantic_dedup_auto_salt_formula():
    """The derived salt is ceil(hottest^2 / budget), clamped to
    [1, AUTO_SALT_MAX] — spelled out so a budget change is a conscious
    recalibration against SCALE_PROBE data, not a drive-by."""
    T = similarity.AUTO_SALT_TARGET_PAIRS
    assert T == 3_000_000
    calc = lambda h: min(  # noqa: E731 — mirror of the operator's clamp
        similarity.AUTO_SALT_MAX, max(1, -(-(h * h) // T))
    )
    assert calc(0) == 1
    assert calc(1_700) == 1  # healthy cell: ~2.9M pairs, below budget
    assert calc(2_312) == 2  # the r12 probe's uniform hottest cell
    assert calc(9_328) == 30  # the r12 probe's hot cell: flat region
    assert calc(1_000_000) == similarity.AUTO_SALT_MAX  # capped


def test_semantic_dedup_auto_salt_exact_and_engaged(spark, emb):
    """VERDICT r12 task 1: with NO manual knob, a skewed corpus gets a
    salted plan (derived from the hottest cell's population) and the
    decision relation is identical to the unsalted plan — the r12
    exactness pin, now exercised through the auto path."""
    hot = emb.filter(F.col("vec_id") < 250)
    donor = hot.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("_d")
    )
    hot = hot.crossJoin(F.broadcast(donor)).select(
        "vec_id", F.col("_d").alias("embedding")
    )
    skewed = hot.unionByName(emb.filter(F.col("vec_id") >= 250))
    cents = similarity.ivf_train_centroids(skewed, 8, iters=0)

    def decisions(salt):
        return {
            (r["vec_id"], r["cell_id"], r["cos_to_centroid"], r["is_dropped"])
            for r in similarity.semantic_dedup(
                skewed, threshold=0.3, centroids=cents, skew_salt=salt
            ).collect()
        }

    assert decisions(None) == decisions(0)
    # the derivation really engages at scale: shrink the budget so this
    # 500-vector fixture's hot cell (>=250 members -> >=62.5k pairs)
    # crosses it, and assert the salted join keys appear in the plan
    import unittest.mock as mock

    with mock.patch.object(similarity, "AUTO_SALT_TARGET_PAIRS", 10_000):
        auto = similarity.semantic_dedup(
            skewed, threshold=0.3, centroids=cents
        )
        assert decisions(0) == {
            (r["vec_id"], r["cell_id"], r["cos_to_centroid"], r["is_dropped"])
            for r in auto.collect()
        }
        plan = auto._jdf.queryExecution().optimizedPlan().toString()
        assert "_blk" in plan  # the salted block key is in the join
