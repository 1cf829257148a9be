"""Direct unit pins for the round-10 claims: path-compressed CC round
counts, hub-edge edge cases, incremental component merges, and the
documented NULL-bucket exclusion of bucketed_cumsum."""

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark.operators import dedup


def test_cc_chain_converges_in_log_rounds(spark):
    """A 64-node path graph has diameter 63: plain min-label propagation
    needs ~63 rounds; the path-compressed fixpoint must land it in
    O(log) — pin a hard ceiling of 10 rounds (2^10 >> 63 with margin),
    and exact labels."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    stats = {}
    cc = dedup.connected_components(pairs, stats=stats, driver_max_edges=0)
    labels = {r["doc_id"]: r["component_id"] for r in cc.collect()}
    assert labels == {i: 0 for i in range(n)}
    assert stats["iterations"] <= 10, (
        f"path compression regressed: {stats['iterations']} "
        "rounds for a 64-chain"
    )


def test_cc_star_converges_in_two_rounds(spark):
    """The common shallow case (one hub bucket) must converge in <= 2
    rounds and never pay more — the round-0-plain design point."""
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 30)], ["doc_a", "doc_b"]
    )
    stats = {}
    cc = dedup.connected_components(pairs, stats=stats, driver_max_edges=0)
    assert {r["component_id"] for r in cc.collect()} == {0}
    assert stats["iterations"] <= 2


def test_hub_edges_skip_singleton_buckets_and_shingleless_docs(spark):
    """Docs too short to shingle never reach the band relation, and a
    bucket of one yields no edges — no self-loops, no phantom docs."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "totally different words in this one here now"),
            (3, "xy"),  # < 3 words: no shingles
        ],
        ["doc_id", "text"],
    )
    edges = dedup.lsh_hub_edges(dedup.minhash_signatures(df)).collect()
    ids = {r["doc_a"] for r in edges} | {r["doc_b"] for r in edges}
    assert 3 not in ids
    for r in edges:
        assert r["doc_a"] < r["doc_b"]


def test_components_delta_merges_two_existing_components(spark):
    """A new edge bridging two persisted components must relabel both
    under the smaller min-label; a third component is not in the delta."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10), (100, 100)],
        ["doc_id", "component_id"],
    )
    new_edges = spark.createDataFrame([(2, 11)], ["doc_a", "doc_b"])
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.components_delta(labels, new_edges).collect()
    }
    assert got == {1: 1, 2: 1, 10: 1, 11: 1}


def test_components_delta_brand_new_docs(spark):
    """Edges among docs absent from the label history create a fresh
    component; no existing component enters the delta."""
    labels = spark.createDataFrame([(1, 1), (2, 1)], ["doc_id", "component_id"])
    new_edges = spark.createDataFrame(
        [(50, 51), (51, 52)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.components_delta(labels, new_edges).collect()
    }
    assert got == {50: 50, 51: 50, 52: 50}


def test_bucketed_cumsum_null_bucket_rows_excluded(spark):
    """Documented contract (ADVICE r10): rows whose bucket expression is
    NULL are EXCLUDED from the output, and do not disturb other rows."""
    from clickhouse_provider_spark.operators.ranking import bucketed_cumsum

    df = spark.createDataFrame(
        [(1.0, 1), (None, 7), (2.0, 2)], "v double, w long"
    )
    out = bucketed_cumsum(df, "v", "w", bucket=F.floor("v"), out_col="cum")
    rows = {r["v"]: r["cum"] for r in out.collect()}
    assert rows == {1.0: 1, 2.0: 3}  # NULL-v row dropped, sums unpoisoned


def test_ivf_index_append_missing_index_fails_loudly(spark, tmp_path):
    """Appending to a path with no persisted centroids must raise, not
    silently retrain (retraining would reshuffle the layout)."""
    from clickhouse_provider_spark.operators import similarity

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist|_centroids"):
        similarity.ivf_index_append(emb, str(tmp_path / "missing_ivf"))
