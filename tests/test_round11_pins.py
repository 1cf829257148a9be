"""Direct unit pins for the round-11 claims: broadcast-only SimHash hub
verification (VERDICT r10 task 4), jaccard_pairs / components_delta
cache lifecycle (ADVICE r10), and the per-call CC stats contract."""

import pytest
from pyspark.sql import functions as F

from clickhouse_provider_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    from clickhouse_provider_spark.session import load_tables

    return load_tables(spark, "/root/testdata/sf0.001")["documents"]


def test_simhash_hub_verify_is_broadcast_only(spark, docs):
    """The hub relation is <= 1,024 rows by construction: both the
    candidate join and the verify join must be BroadcastHashJoin — no
    shuffle join anywhere in the plan (the big band/candidate relations
    never repartition to verify)."""
    plan = (
        dedup.simhash_hub_pairs(dedup.simhash32(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_hub_pairs_match_direct_recompute(spark, docs):
    """Restructured verify (sim_b rides the band row, hub sigs broadcast)
    must emit exactly the star edges of the byte-band buckets whose
    endpoints are within the hamming radius — recomputed directly from
    the signatures here."""
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash32(docs).collect()}
    buckets = {}
    for doc_id, s in sig.items():
        for b in range(4):
            buckets.setdefault((b, (s >> (8 * b)) & 255), []).append(doc_id)
    want = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        hub = min(members)
        for m in members:
            if m != hub and bin(sig[hub] ^ sig[m]).count("1") <= 3:
                want.add((min(hub, m), max(hub, m)))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_hub_pairs(dedup.simhash32(docs)).collect()
    }
    assert got == want and got, "fixture must produce hub edges"


def test_jaccard_pairs_track_releases_caches(spark, docs):
    """ADVICE r10: the candidate path's two persists are handed to the
    caller via ``track`` and can be fully released — no CacheManager
    entry survives the unpersist."""
    cand = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs))
    track = []
    out = dedup.jaccard_pairs(docs, pairs=cand, threshold=0.1, track=track)
    assert out.count() >= 0  # materialize (populates the caches)
    assert len(track) == 2
    assert all(df.storageLevel.useMemory or df.storageLevel.useDisk for df in track)
    for df in track:
        df.unpersist(blocking=True)
    for df in track:
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap)


def test_components_delta_track_releases_caches(spark):
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10)], ["doc_id", "component_id"]
    )
    edges = spark.createDataFrame([(2, 10)], ["doc_a", "doc_b"])
    track = []
    out = dedup.components_delta(labels, edges, track=track)
    assert {r["component_id"] for r in out.collect()} == {1}
    assert len(track) == 1
    for df in track:
        df.unpersist(blocking=True)
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap)


def test_ivf_filtered_topk_inprobe_equals_filtered_scan(spark):
    """in-probe mode must equal exact top-k over (allowed ∩ probed
    cells): the predicate restricts candidates, never the probe set."""
    from clickhouse_provider_spark.operators import similarity
    from clickhouse_provider_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    emb = t["embeddings"]
    allowed = t["documents"].filter(F.col("lang") == "de").select(
        F.col("doc_id").alias("vec_id")
    )
    cents = similarity.ivf_train_centroids(emb, 8, iters=0)
    got = similarity.ivf_filtered_topk(
        emb, allowed, query_vec_id=0, k=10, n_cells=8, nprobe=2,
        mode="inprobe", centroids=cents,
    ).collect()
    # recompute: probed cells, then filtered exact within them
    assigned = similarity.ivf_assignments(emb, centroids=cents)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    probes = (
        qv.join(F.broadcast(cents))
        .select("cell_id", similarity.cosine_expr("q_vec", "centroid").alias("c"))
        .orderBy(F.col("c").desc(), "cell_id").limit(2).collect()
    )
    probe_cells = {r["cell_id"] for r in probes}
    want = (
        assigned.join(allowed, "vec_id")
        .filter(F.col("cell_id").isin(list(probe_cells)) & (F.col("vec_id") != 0))
        .join(F.broadcast(qv))
        .select("vec_id", similarity.cosine_expr("embedding", "q_vec").alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id").limit(10).collect()
    )
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == [
        (r["vec_id"], r["cos_sim"]) for r in want
    ]
    assert got, "fixture must return neighbors"
    assert {r["cell_id"] for r in got} <= probe_cells


def test_ivf_query_index_predicate_reaches_parquet_scan(spark, tmp_path):
    """Index-backed filtered ANN: the document predicate must land in the
    parquet scan of the partition-pruned probe — PushedFilters carries it
    and PartitionFilters still prunes cell_id, so a row group of
    non-matching docs is skipped before any distance is computed."""
    from clickhouse_provider_spark.operators import similarity
    from clickhouse_provider_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    emb = t["embeddings"].join(
        t["documents"].select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
    )
    path = str(tmp_path / "ivf_lang")
    similarity.ivf_write_index(emb, path, n_cells=8, iters=0)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = similarity.ivf_query_index(
        spark, path, qv, k=10, nprobe=2, predicate=F.col("lang") == "de"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]
    assert "PartitionFilters" in plan and "cell_id" in plan.split("PartitionFilters")[1][:200]
    rows = out.collect()
    assert rows and all(r["vec_id"] != 0 or True for r in rows)
    # every returned id really satisfies the predicate
    langs = {
        r["vec_id"]: r["lang"]
        for r in t["documents"].select(F.col("doc_id").alias("vec_id"), "lang").collect()
    }
    assert all(langs[r["vec_id"]] == "de" for r in rows)


def test_cc_stats_are_per_call(spark):
    """ADVICE r10: iteration observability is caller-owned — two stats
    dicts from two runs don't alias, and no function attribute exists."""
    star = spark.createDataFrame([(0, i) for i in range(1, 5)], ["doc_a", "doc_b"])
    chain = spark.createDataFrame([(i, i + 1) for i in range(16)], ["doc_a", "doc_b"])
    s1, s2 = {}, {}
    dedup.connected_components(star, stats=s1, driver_max_edges=0).collect()
    dedup.connected_components(chain, stats=s2, driver_max_edges=0).collect()
    assert s1["iterations"] <= 2
    assert s2["iterations"] >= s1["iterations"]
    assert not hasattr(dedup.connected_components, "last_iterations")


def test_assemble_from_parts_track_releases_caches(spark):
    """ADVICE r10, streaming-pipeline class: assemble_from_parts persists
    four shared intermediates per call (fan_out's included) and
    checkpoints every round of the receipt fixpoint; with ``track`` the
    caller (streaming/pipeline.py per micro-batch, bench_assembly per
    pass) can release every one through ``operators.release`` — no
    CacheManager entry and no checkpoint block survives."""
    from clickhouse_provider_spark.operators import checkpoint_rdd, release
    from clickhouse_provider_spark.operators import transactions as TX
    from clickhouse_provider_spark.schemas import BLOCK_SCHEMA

    blocks = spark.read.schema(BLOCK_SCHEMA).json("fixtures/blocks.jsonl")
    track = []
    out = TX.assemble_from_parts(
        TX.tx_seeds(blocks),
        TX.outcome_units(blocks),
        TX.data_receipt_units(blocks),
        TX.block_rows(blocks).select(
            "block_height", "block_hash", "block_timestamp"
        ),
        track=track,
    )
    assert out["transactions"].count() > 0  # materialize the caches
    persisted = {
        id(df) for df in track if df.storageLevel.useMemory or df.storageLevel.useDisk
    }
    assert len(persisted) == 4
    # the fixpoint's checkpoints: the seed frontier, each round's
    # children and mapping (the returned mapping is also persisted)
    rdds = [rdd for rdd in map(checkpoint_rdd, track) if rdd is not None]
    assert len(rdds) >= 2
    assert all(rdd.isCheckpointed() for rdd in rdds)
    release(track)
    for df in track:
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap)
    for rdd in rdds:
        lvl = rdd.getStorageLevel()
        assert not (lvl.useMemory() or lvl.useDisk() or lvl.useOffHeap())


def test_ivfpq_topk_full_probe_equals_pq_topk(spark):
    """Composition pin: with nprobe = n_cells (every cell probed) the
    IVF half prunes nothing, so ivfpq_topk must equal the plain PQ/ADC
    scan — wiring, not recall, is what this pins."""
    from clickhouse_provider_spark.operators import similarity
    from clickhouse_provider_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    full = similarity.ivfpq_topk(
        emb, query_vec_id=0, k=10, rerank=50, n_cells=4, nprobe=4, iters=0
    ).collect()
    plain = similarity.pq_topk(emb, query_vec_id=0, k=10, rerank=50).collect()
    assert [(r["vec_id"], r["approx_dot"], r["cos_sim"]) for r in full] == [
        (r["vec_id"], r["approx_dot"], r["cos_sim"]) for r in plain
    ]


def test_ivfpq_topk_candidates_stay_in_probed_cells(spark):
    """With nprobe < n_cells every returned id must belong to one of the
    query's nprobe best cells (the pruning half actually prunes)."""
    from clickhouse_provider_spark.operators import similarity
    from clickhouse_provider_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    cents = similarity.ivf_train_centroids(emb, 4, iters=0)
    assigned = {
        r["vec_id"]: r["cell_id"]
        for r in similarity.ivf_assignments(emb, centroids=cents)
        .select("vec_id", "cell_id")
        .collect()
    }
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ranked = sorted(
        cents.collect(),
        key=lambda r: (
            -sum(float(a) * float(b) for a, b in zip(q, r["centroid"])),
            r["cell_id"],
        ),
    )
    probed = {r["cell_id"] for r in ranked[:2]}
    got = similarity.ivfpq_topk(
        emb, query_vec_id=0, k=10, rerank=50, n_cells=4, nprobe=2,
        iters=0, centroids=cents,
    ).collect()
    assert got, "probe must return rows"
    assert all(assigned[r["vec_id"]] in probed for r in got)


def test_semantic_dedup_keep_first_invariants(spark):
    """SemDeDup pin against a brute-force recompute: a doc is dropped
    iff SOME lower-id cell-mate is >= tau-similar; the lowest id of
    every cell is always kept; kept/dropped partition the corpus."""
    from clickhouse_provider_spark.operators import similarity
    from clickhouse_provider_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    tau = 0.3
    out = similarity.semantic_dedup(emb, threshold=tau, n_cells=4, iters=0)
    rows = out.collect()
    assert len(rows) == emb.count()  # one decision per vector

    cents = similarity.ivf_train_centroids(emb, 4, iters=0)
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    cell = {
        r["vec_id"]: r["cell_id"]
        for r in similarity.ivf_assignments(emb, centroids=cents)
        .select("vec_id", "cell_id")
        .collect()
    }

    def cos(a, b):
        import math

        d = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else None

    want_dropped = set()
    ids = sorted(vecs)
    for j in ids:
        for i in ids:
            if i >= j or cell[i] != cell[j]:
                continue
            c = cos(vecs[i], vecs[j])
            if c is not None and c >= tau:
                want_dropped.add(j)
                break
    got_dropped = {r["vec_id"] for r in rows if r["is_dropped"]}
    assert got_dropped == want_dropped
    assert want_dropped, "fixture must exercise the drop path"
    for cid in set(cell.values()):
        members = [i for i in ids if cell[i] == cid]
        assert min(members) not in got_dropped


def test_pack_sequences_brute_force(spark):
    """Packing pin against a literal concat-and-cut recompute: bin_id is
    the bin of the doc's first token; is_straddler iff its span crosses
    a 16-token boundary; zero-token docs start a bin but never straddle."""
    from clickhouse_provider_spark.operators import text

    rows = [
        (1, "a b c d e"),            # 5 tokens
        (2, ""),                      # 0 tokens
        (3, "  "),                    # 0 tokens (blank)
        (4, " ".join(["t"] * 20)),    # 20 tokens — spans >1 full bin
        (5, "x y"),
        (7, " ".join(["q"] * 7)),     # gap in ids is fine (total order)
        (10, "one two three"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    budget = 16
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["start_offset"], r["bin_id"], r["is_straddler"]
        )
        for r in text.pack_sequences(docs, budget=budget).collect()
    }
    cum = 0
    want = {}
    for doc_id, t in rows:
        n = len(t.split())
        start = cum
        cum += n
        bin_id = start // budget
        straddle = n > 0 and (cum - 1) // budget != bin_id
        want[doc_id] = (n, start, bin_id, straddle)
    assert got == want
    assert any(v[3] for v in want.values())  # fixture exercises straddlers
    assert any(v[0] == 0 for v in want.values())  # and empty docs
