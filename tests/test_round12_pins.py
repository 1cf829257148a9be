"""Round-12 pins: pack_sequences empty input (ADVICE r11), the exact
triangle skew salt of semantic_dedup (VERDICT r11 task 6) and the
map-side cell argmax."""

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark.operators import similarity

TAU = 0.3


@pytest.fixture(scope="module")
def emb(spark):
    from clickhouse_provider_spark.session import load_tables

    return load_tables(spark, "/root/testdata/sf0.001")["embeddings"].select(
        "vec_id", "embedding"
    )


def _decision_set(df):
    return {
        (r["vec_id"], r["cell_id"], r["cos_to_centroid"], r["is_dropped"])
        for r in df.collect()
    }


# ---------------------------------------------------------------- ADVICE


def test_pack_sequences_empty_input(spark):
    """ADVICE r11: agg(min,max).first() yields (None, None) on an empty
    relation — must short-circuit to an empty result, not crash on
    int(None)."""
    from clickhouse_provider_spark.operators.text import pack_sequences

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = pack_sequences(empty, budget=64)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_tokens", "start_offset", "bin_id", "is_straddler",
    ]
    # schema parity with the non-empty path (a union of the two must work)
    one = pack_sequences(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string"),
        budget=64,
    )
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in one.schema.fields
    ]


# ------------------------------------------------------------- skew salt


def test_semantic_dedup_skew_salt_is_exact(spark, emb):
    """VERDICT r11 task 6: the triangle-salted within-cell join is an
    EXACT rewrite — on a corpus with one deliberately hot cell (half the
    vectors are near-identical), salted and unsalted semantic_dedup
    produce identical decision relations. (The LSH hub/star trick would
    NOT be exact here: cosine>=tau is not transitive.)"""
    # hot half: vec 0's embedding everywhere (ids keep their identity)
    hot = emb.filter(F.col("vec_id") < 250)
    donor = hot.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("_d")
    )
    hot = hot.crossJoin(F.broadcast(donor)).select(
        "vec_id", F.col("_d").alias("embedding")
    )
    skewed = hot.unionByName(emb.filter(F.col("vec_id") >= 250))
    cents = similarity.ivf_train_centroids(skewed, 8, iters=0)
    plain = _decision_set(
        similarity.semantic_dedup(skewed, threshold=TAU, centroids=cents)
    )
    salted = _decision_set(
        similarity.semantic_dedup(
            skewed, threshold=TAU, centroids=cents, skew_salt=8
        )
    )
    assert salted == plain
    # the fixture really is skewed: one cell holds >= half the corpus
    top = (
        similarity._argmax_cell(skewed, cents, "vec_id", "embedding")
        .groupBy("cell_id").count().agg(F.max("count")).first()[0]
    )
    assert top >= 250


# ------------------------------------------------- map-side cell argmax


def test_argmax_cell_assignment_is_map_side(spark, emb):
    """Round-12 plan pin: centroid assignment must not shuffle or sort
    the vector relation. The old implementation row_numbered the exploded
    (vector x centroid) join — an N x n_cells exchange per assignment
    call, which the rollover probe caught (per-batch cost ROSE after
    re-clustering to finer cells). The rewrite folds over one broadcast
    centroid-array row: the only Exchange in the plan is the bounded
    n_cells-row centroid aggregation."""
    cents = similarity.ivf_train_centroids(
        emb, 8, iters=0
    ).localCheckpoint(eager=True)
    plan = (
        similarity._argmax_cell(emb, cents, "vec_id", "embedding")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "hashpartitioning(vec_id" not in plan
    # assignment values are the old semantics: argmax cosine, ties to the
    # lowest cell_id — cross-checked against an independent pandas argmax
    import numpy as np

    got = {
        r["vec_id"]: (r["cell_id"], r["cos_to_centroid"])
        for r in similarity._argmax_cell(
            emb, cents, "vec_id", "embedding"
        ).collect()
    }
    C = {r["cell_id"]: np.array(r["centroid"]) for r in cents.collect()}
    for r in emb.collect():
        v = np.array(r["embedding"], dtype=np.float64)
        nv = np.linalg.norm(v)
        best = None
        for cid in sorted(C):
            c = C[cid]
            cos = float(v @ c / (nv * np.linalg.norm(c))) if nv else None
            if cos is not None and (best is None or cos > best[1]):
                best = (cid, cos)
        want_cid = best[0] if best else min(C)
        assert got[r["vec_id"]][0] == want_cid
        if best is not None:
            assert abs(got[r["vec_id"]][1] - best[1]) < 1e-9
