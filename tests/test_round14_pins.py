"""Round-14 pins for incremental connected components:
``dedup.components_delta`` relabels only the components a batch's new
edges touch, and the min(component_id) resolution of history ∪ delta
equals one-shot connected components over every edge."""

from pyspark.sql import functions as F

from clickhouse_provider_spark.operators import dedup


def _resolve(rows):
    """min(component_id) per doc over raw (doc_id, component_id) rows."""
    out = {}
    for d, c in rows:
        out[d] = c if d not in out else min(out[d], c)
    return out


def _one_shot(edges):
    return {
        r["doc_id"]: r["component_id"]
        for r in dedup.connected_components(edges).collect()
    }


def test_components_delta_with_stale_history_rows(spark):
    """The delta relabel reads RAW history including superseded rows;
    stale rows must neither corrupt membership nor labels. History:
    doc 3 was first labeled 2 (comp {2,3}), then comps {1} and {2,3}
    merged → all labeled 1 (doc 3's stale (3,2) row remains). A new
    edge (4,3) must pull the WHOLE live component {1,2,3} and label
    everyone 1."""
    hist = spark.createDataFrame(
        [(1, 1, 0), (2, 2, 0), (3, 2, 0),  # batch 0: {1}, {2,3}
         (2, 1, 1), (3, 1, 1)],            # batch 1 delta: merged into 1
        "doc_id long, component_id long, batch_id int",
    )
    edges = spark.createDataFrame([(3, 4)], "doc_a long, doc_b long")
    got = {
        (r["doc_id"], r["component_id"])
        for r in dedup.components_delta(hist, edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


def test_components_delta_equals_one_shot_components(spark):
    """The resolved history ∪ delta equals one-shot connected_components
    over all edges, on two inputs.

    1. A resolved-history baseline (components {0,1,2}, {3,4,5}, ...)
       plus three new edges: the delta is localized to the touched
       components and the brand-new docs.
    2. Three ingest batches of the sf0.01 documents (doc_id mod 3), whose
       Jaccard-verified edges arrive batch by batch: after every batch
       the resolved labels equal batch dedup_survivors over every doc
       ingested so far."""
    # -- 1: synthetic resolved history
    labels = [(i, i - (i % 3)) for i in range(30)]
    hist = spark.createDataFrame(
        labels, "doc_id long, component_id long"
    ).withColumn("batch_id", F.lit(0))
    new = [(0, 3), (12, 27), (40, 41)]
    old_star = [(c, d) for d, c in labels if d != c]
    want = _one_shot(
        spark.createDataFrame(old_star + new, "doc_a long, doc_b long")
    )
    delta = [
        (r["doc_id"], r["component_id"])
        for r in dedup.components_delta(
            hist, spark.createDataFrame(new, "doc_a long, doc_b long")
        ).collect()
    ]
    assert _resolve(labels + delta) == want
    # the delta really is localized: docs 6..11, 15..26 never appear
    assert {d for d, _ in delta} == {
        0, 1, 2, 3, 4, 5, 12, 13, 14, 27, 28, 29, 40, 41,
    }

    # -- 2: three batches of real documents
    from clickhouse_provider_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.01")["documents"].select(
        "doc_id", "text"
    )
    all_pairs = (
        dedup.jaccard_pairs(docs, threshold=0.1)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    history = []  # raw (doc_id, component_id) rows, every batch's writes
    ingested = None
    crossed = 0
    for b in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == b)
        ingested = batch if ingested is None else ingested.unionByName(batch)
        # the batch's new edges: both ends ingested, at least one new
        a_in = (F.col("doc_a") % 3) <= b
        b_in = (F.col("doc_b") % 3) <= b
        touches = ((F.col("doc_a") % 3) == b) | ((F.col("doc_b") % 3) == b)
        edges = all_pairs.filter(a_in & b_in & touches)
        crossed += edges.filter((F.col("doc_a") % 3) != (F.col("doc_b") % 3)).count()
        hist_df = (
            spark.createDataFrame(history, "doc_id long, component_id long")
            if history
            else None
        )
        delta = dedup.components_delta(hist_df, edges).collect()
        history += [(r["doc_id"], r["doc_id"]) for r in batch.collect()]
        history += [(r["doc_id"], r["component_id"]) for r in delta]
        seen = all_pairs.filter(a_in & b_in)
        want = {
            r["doc_id"]: r["survivor_doc_id"]
            for r in dedup.dedup_survivors(ingested, seen).collect()
        }
        assert _resolve(history) == want, f"divergence after batch {b}"
    assert crossed, "fixture must produce cross-batch merges"
