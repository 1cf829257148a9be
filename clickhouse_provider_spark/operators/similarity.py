"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot/norm arithmetic via F.aggregate/zip_with in DOUBLE, strictly
  left-to-right over the array, which makes the result bit-identical to a
  sequential SQL implementation (DuckDB list_* fold the same way).
- ``lsh_bucket_topk``: the scale path — deterministic random-hyperplane
  LSH. Hyperplane p's j-th component is ±1 derived from md5(p|j), so the
  whole index is reproducible with no stored model. Buckets bound the
  candidate set; at 100 TB the bucketed table is partitioned by signature
  and a query touches one partition (+ optional multi-probe neighbors).

No Python UDFs: everything is higher-order-function codegen on the JVM.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    """Left-to-right double dot product (deterministic fold order) as a
    SQL string: one ``F.expr`` ships the whole zip_with/aggregate lambda
    tree in a single py4j round-trip, where building it through the
    Python Column API costs ~250 round-trips PER CALL (measured — round
    15, tools/py4j_count.py). Double literals are D-suffixed — an
    unsuffixed 0.0 would parse as DECIMAL. ``a``/``b`` are SQL fragments
    (column names / field paths / :func:`double_array_sql` literals), the
    caller's responsibility to keep well-formed."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def dot_expr(a: str, b: str) -> F.Column:
    return F.expr(dot_sql(a, b))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    # nullif: a zero vector (empty doc -> zero embedding) has no direction;
    # under ANSI mode the bare division would THROW on it and kill the whole
    # job at 100 TB. NULL instead — it sorts last under every DESC top-k in
    # the catalog, same as the oracles' nullif (NULLS LAST on both engines).
    return f"{dot_sql(a, b)} / nullif({norm_sql(a)} * {norm_sql(b)}, 0.0D)"


def cosine_expr(a: str, b: str) -> F.Column:
    return F.expr(cosine_sql(a, b))


def double_array_sql(values) -> str:
    """SQL ``array<double>`` literal holding exactly ``values``: finite
    doubles as their shortest round-tripping repr, D-suffixed (``-0.0D``
    keeps its sign); NaN and ±infinity as a folded string cast. A Python
    query vector or hyperplane costs no py4j call this way (a 64-lit
    F.array costs ~130)."""

    def lit(x: float) -> str:
        x = float(x)
        return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"

    return "array(" + ",".join(lit(x) for x in values) + ")"


def cosine_topk(
    emb: DataFrame, query_vec_id: int, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k by cosine against the vector with ``query_vec_id``.

    The 1-row query side is broadcast; candidates stream through a map-only
    stage; top-k via TakeOrderedAndProject (no global sort). Ties broken by
    vec_id for a deterministic result set.
    """
    q = (
        emb.filter(F.col(id_col) == query_vec_id)
        .select(F.col(vec_col).alias("q_vec"))
    )
    return (
        emb.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(q))
        .select(
            F.col(id_col),
            cosine_expr(vec_col, "q_vec").alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def hyperplane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random ±1 hyperplanes: sign = parity of the
    first md5 byte of 'p|j'. Reproducible anywhere (incl. the SQL oracle)."""
    return [
        [
            1 if hashlib.md5(f"{p}|{j}".encode()).digest()[0] % 2 == 0 else -1
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_signature_sql(vec_sql: str, planes: list[list[int]]) -> str:
    """Bit p of the signature = sign(dot(vec, plane_p)) >= 0, as one SQL
    expression (0 + CASE... left-assoc, int literals, the
    :func:`dot_sql` fold)."""
    terms = " + ".join(
        f"(CASE WHEN {dot_sql(vec_sql, double_array_sql(signs))} >= 0 "
        f"THEN {2 ** p} ELSE 0 END)"
        for p, signs in enumerate(planes)
    )
    return f"0 + {terms}" if terms else "0"


def lsh_bucket_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k: exact cosine restricted to the query's LSH bucket.

    With 2^n_planes buckets the candidate set shrinks ~2^n_planes-fold;
    recall is tuned by n_planes (fewer planes → bigger buckets → higher
    recall). Deterministic: planes derive from md5 (see hyperplane_signs).

    ``dim`` (the embedding dimensionality) is required: Spark's ArrayType
    carries no width, and inferring it would mean a driver-side row probe
    inside plan building — a hidden job per call. Callers know their
    embedding width; pass it.
    """
    if dim is None:
        raise ValueError(
            "lsh_bucket_topk requires dim= (the embedding width): ArrayType "
            "has no static width and a .first() probe would run a driver-side "
            "job inside plan building"
        )
    planes = hyperplane_signs(n_planes, dim)
    with_sig = emb.withColumn(
        "lsh_bucket", F.expr(lsh_signature_sql(vec_col, planes))
    )
    q = (
        with_sig.filter(F.col(id_col) == query_vec_id)
        .select(F.col(vec_col).alias("q_vec"), F.col("lsh_bucket").alias("q_bucket"))
    )
    return (
        with_sig.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(q), F.col("lsh_bucket") == F.col("q_bucket"))
        .select(
            F.col(id_col),
            F.col("lsh_bucket"),
            cosine_expr(vec_col, "q_vec").alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_near_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact): all (a, b), a < b,
    with cosine ≥ threshold. This is the verification/baseline form — at
    100 TB, generate candidates with the LSH buckets (lsh_bucket_topk's
    signature) or IVF cells first and verify only those; the exact form
    here is what the candidates are verified *against*."""
    a = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("ea"))
    b = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("eb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b", cosine_expr("ea", "eb").alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def banded_lsh_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    n_bands: int = 8,
    band_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Candidate-first near-duplicate pairs: banded random-hyperplane LSH
    candidates → exact cosine verification. The scale path that replaces
    :func:`cosine_near_pairs`'s O(n²) all-pairs join as the default.

    Banding (the MinHash-LSH trick applied to hyperplane signatures): two
    vectors are CANDIDATES iff their ``band_planes``-bit signature matches
    in at least one of ``n_bands`` bands; only candidates get the exact
    cosine. A pair with cosine c matches one band with prob
    (1-acos(c)/π)^band_planes, any band with 1-(1-p^r)^B — the usual
    S-curve; at production thresholds (≥0.9) nearly all true pairs and
    almost no non-pairs are candidates, so the self-join is per-bucket
    instead of all-pairs. Recall is tuned by (n_bands, band_planes).

    The planes are the same md5-derived ±1 vectors as
    :func:`hyperplane_signs` (band b uses global planes
    [b*band_planes, (b+1)*band_planes)), so the candidate set is fully
    deterministic and reproducible in SQL — the oracle mirrors the
    banding rather than pretending the candidate step has perfect recall.

    Plan shape: signatures are map-only codegen; the candidate join
    shuffles on (band, sig) — bounded buckets, no cartesian; exact
    verification joins the two vector sides back by id. Guarded by a
    no-CartesianProduct/BNLJ plan assertion in tests/test_plans.py.
    """
    if dim is None:
        raise ValueError(
            "banded_lsh_pairs requires dim= (the embedding width): ArrayType "
            "has no static width and a .first() probe would run a driver-side "
            "job inside plan building"
        )
    planes = hyperplane_signs(n_bands * band_planes, dim)
    band_structs = ",".join(
        f"struct({b} AS band, "
        + lsh_signature_sql(vec_col, planes[b * band_planes : (b + 1) * band_planes])
        + " AS sig)"
        for b in range(n_bands)
    )
    sigs = emb.select(
        F.col(id_col),
        F.expr(f"explode(array({band_structs}))").alias("bs"),
    ).select(id_col, "bs.band", "bs.sig")
    cand = (
        sigs.alias("a")
        .join(
            sigs.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"), F.col(f"b.{id_col}").alias("vec_b")
        )
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("ea"))
    vb = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("eb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", cosine_expr("ea", "eb").alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_train_centroids(
    emb: DataFrame,
    n_cells: int = 8,
    iters: int = 3,
    seed: str = "ivf",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means centroids for IVF: deterministic seeded-sample
    init + ``iters`` Lloyd rounds, entirely as DataFrame ops (no vector
    ever reaches the driver; the centroid relation is n_cells rows and is
    broadcast everywhere it's used).

    Init: rank vectors by ``md5(seed|id)`` and take ``n_cells`` — a
    uniform reproducible sample of the corpus (the earlier stub took the
    first n_cells ids, which on real data lands all centroids in whatever
    neighborhood those ids share → arbitrarily unbalanced cells and no
    pruning power).

    Each Lloyd round: (1) assignment = broadcast centroids + map-side
    argmax, no shuffle; (2) update = per-cell elementwise mean via
    posexplode(vec) → groupBy(cell, pos).avg — the only shuffle, with
    map-side partial aggregation compressing N×dim rows down to
    n_cells×dim per mapper. Cells that lose every member keep their
    previous centroid. Per-round lineage is cut with localCheckpoint so
    ``iters`` stays O(iters) plan depth, not exponential."""
    from pyspark.sql.window import Window as W

    # a NULL embedding can never be a centroid (round 14 — _argmax_cell
    # deliberately ADMITS null vectors as data, so the training sample
    # must exclude them or the seeded draw poisons the centroid matrix);
    # no-op on null-free corpora: the md5 ranking of the survivors is
    # unchanged
    ranked = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("centroid"),
        F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))).alias("_r"),
    )
    cents = (
        ranked.orderBy("_r")
        .limit(n_cells)
        .select(
            (F.row_number().over(W.orderBy("_r")) - 1).alias("cell_id"),
            F.col("centroid").cast("array<double>").alias("centroid"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        assigned = _argmax_cell(emb, cents, id_col, vec_col)
        means = (
            assigned.select("cell_id", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("cell_id", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cell_id", F.transform("pm", lambda s: s["m"]).alias("new_centroid")
            )
        )
        cents = (
            cents.join(means, "cell_id", "left")
            .select(
                "cell_id",
                F.coalesce("new_centroid", "centroid").alias("centroid"),
            )
            .localCheckpoint(eager=True)
        )
    return cents


def _argmax_cell(
    emb: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Each vector → its max-cosine centroid, strictly MAP-SIDE: the
    (bounded, driver-collectable — same contract as the PQ codebooks)
    centroid relation becomes a broadcast numpy matrix and each Arrow batch
    computes all N x n_cells cosines as dense vectorized arithmetic
    (mapInPandas), picking per row the first maximum = lowest cell_id on
    ties. Zero shuffles, zero sorts, zero per-pair join machinery.

    Round 12, two steps: the original plan row_numbered the exploded
    (vector x centroid) join — an N x n_cells shuffle+sort per
    assignment call (per-batch cost ROSE after re-clustering 8 -> 256
    cells, the opposite of the operator's purpose). A pure-DataFrame
    fold over a broadcast centroid array removed the shuffle but ran
    ~2-4x SLOWER end-to-end: ``aggregate``/``zip_with`` higher-order
    functions are interpreted per element (measured ~21 us per 64-dim
    cosine — the microbench lives in bisect/ARGMAX_r12.md). Like
    :func:`pq_encode_arrow`, this is the deliberate "Python where
    builtins genuinely lose" exception: dense per-row linear algebra
    against a small constant is exactly the Arrow-batch + numpy shape.

    IEEE op order is kept IDENTICAL to the relational form and the SQL
    oracles: every dot/norm is the left-to-right fold over dimensions
    (explicit per-dimension accumulation — never np.dot/einsum, whose
    summation order is unspecified), cosine = dot / (norm_v * norm_c)
    with the same NULL-on-zero-norm rule (a zero vector matches the old
    DESC-NULLS-LAST window order: lowest cell_id, NULL cosine). Values
    are therefore bit-identical and every downstream decision/oracle
    relation is unchanged — only the physical plan moved; the executing
    entries are re-attested via PRIORITY_REPAIRED (plans/__init__.py).

    Payload columns of ``emb`` (metadata tags like ``lang`` or ``label``)
    ride along, so an index written from a tagged relation can serve
    predicate-filtered probes (round 11)."""
    import numpy as np

    from pyspark.sql import types as T

    rows = centroids.select("cell_id", "centroid").collect()
    in_schema = emb.schema
    out_schema = T.StructType(
        list(in_schema.fields)
        + [
            T.StructField(
                "cell_id", centroids.schema["cell_id"].dataType, True
            ),
            T.StructField("cos_to_centroid", T.DoubleType(), True),
        ]
    )
    if not rows:
        # empty centroid relation: the old join form produced no rows
        return emb.sparkSession.createDataFrame([], out_schema)
    rows = sorted(rows, key=lambda r: r["cell_id"])
    cell_ids = np.array([r["cell_id"] for r in rows])
    d0 = None
    for r in rows:
        c = r["centroid"]
        if c is None:
            raise ValueError(
                f"centroid for cell {r['cell_id']} is NULL — centroids "
                "must be dense vectors (ivf_train_centroids excludes "
                "NULL embeddings from the seed sample)"
            )
        if d0 is None:
            d0 = len(c)
        elif len(c) != d0:
            raise ValueError(
                f"centroid for cell {r['cell_id']} has length {len(c)} "
                f"but the first centroid is {d0}-dimensional"
            )
    C = np.stack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in rows]
    )  # (k, d)
    k, d = C.shape
    # norm_c: left-to-right self-dot fold, identical to norm_sql(centroid)
    c2 = np.zeros(k, dtype=np.float64)
    for j in range(d):
        c2 += C[:, j] * C[:, j]
    cn = np.sqrt(c2)
    cols = [f.name for f in in_schema.fields]
    # Ship the centroid matrix as an explicit broadcast variable, NOT a
    # task-closure constant (VERDICT r12 watch item): at production
    # n_cells ~1e4-1e5 x d=768 the matrix is 60-600 MB — a closure would
    # be re-serialized into every task, while a broadcast is shipped once
    # per executor (torrent) and reclaimed by the ContextCleaner when the
    # returned plan is GC'd. cols/d travel in the (tiny) closure.
    bc = emb.sparkSession.sparkContext.broadcast((cell_ids, C, cn))

    def batches(it):
        import pandas as pd

        cell_ids, C, cn = bc.value
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            # Degenerate inputs (ADVICE r12, medium): a NULL embedding
            # behaves as a zero vector — zero norm → every cosine masked
            # to -inf → argmax picks index 0 = lowest cell_id, NULL
            # cosine, exactly what the old relational plan's
            # DESC-NULLS-LAST window emitted. A wrong-LENGTH vector is a
            # schema violation, not a degradation — fail loudly with the
            # dims named rather than np.stack's opaque shape error.
            V = np.zeros((n, d), dtype=np.float64)
            for i, v in enumerate(pdf[vec_col]):
                if v is None:
                    continue
                if len(v) != d:
                    raise ValueError(
                        f"{vec_col!r} has a length-{len(v)} vector but the "
                        f"centroids are {d}-dimensional"
                    )
                V[i] = np.asarray(v, dtype=np.float64)
            v2 = np.zeros(n, dtype=np.float64)
            dots = np.zeros((n, k), dtype=np.float64)
            for j in range(d):
                v2 += V[:, j] * V[:, j]
                dots += V[:, j, None] * C[None, :, j]
            vn = np.sqrt(v2)
            denom = vn[:, None] * cn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / denom
            cos_masked = np.where(denom == 0.0, -np.inf, cos)
            # first max == lowest cell_id on ties (cell_ids ascend)
            best = np.argmax(cos_masked, axis=1)
            best_cos = cos_masked[np.arange(n), best]
            out = pdf[cols].copy()
            out["cell_id"] = cell_ids[best]
            # nullable Float64 (not numpy float64): a zero-norm row must
            # surface as SQL NULL through Arrow, never NaN — NULL is what
            # the relational form produced and what DESC NULLS LAST /
            # the oracles expect
            null_mask = best_cos == -np.inf
            vals = pd.array(
                np.where(null_mask, 0.0, best_cos), dtype="Float64"
            )
            vals[null_mask] = pd.NA
            out["cos_to_centroid"] = vals
            yield out

    return emb.mapInPandas(batches, out_schema)


def ivf_assignments(
    emb: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    iters: int = 3,
) -> DataFrame:
    """IVF-flat cell assignment: each vector → its max-cosine centroid.

    Centroids default to :func:`ivf_train_centroids` (seeded sample +
    Lloyd); pass a precomputed centroid relation to reuse one across
    calls. The assignment plan is the part that must scale: broadcast the
    centroid table, one map-side argmax per vector, NO shuffle. The cell
    id becomes the partition key of the vector table at scale (a query
    probes nprobe cells → reads nprobe partitions)."""
    if centroids is None:
        centroids = ivf_train_centroids(
            emb, n_cells, iters=iters, id_col=id_col, vec_col=vec_col
        )
    return _argmax_cell(emb, centroids, id_col, vec_col)


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    iters: int = 3,
) -> DataFrame:
    """IVF ANN top-k: probe the query's nprobe best cells, exact cosine
    within them. Recall/latency dial = nprobe/n_cells. Centroids are
    k-means-trained (see ivf_train_centroids) unless supplied."""
    if centroids is None:
        centroids = ivf_train_centroids(
            emb, n_cells, iters=iters, id_col=id_col, vec_col=vec_col
        )
    cents = centroids.select("cell_id", "centroid")
    assigned = ivf_assignments(
        emb, id_col=id_col, vec_col=vec_col, centroids=cents
    ).localCheckpoint(eager=True)
    q_vec = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("q_vec")
    )
    probes = (
        q_vec.join(F.broadcast(cents))
        .select("cell_id", "q_vec", cosine_expr("q_vec", "centroid").alias("c"))
        .orderBy(F.col("c").desc(), F.col("cell_id"))
        .limit(nprobe)
        .select("cell_id", "q_vec")
    )
    return (
        assigned.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(probes), "cell_id")
        .select(
            F.col(id_col),
            F.col("cell_id"),
            cosine_expr(vec_col, "q_vec").alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_write_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> None:
    """Materialize the IVF index AS THE TABLE LAYOUT: vectors written
    ``partitionBy(cell_id)`` so a query's nprobe cells are nprobe
    partition DIRECTORIES — Spark's partition pruning turns "probe 2 of
    1024 cells" into "read 2/1024 of the data" with no index structure
    beyond the directory tree. Centroids (n_cells rows) persist under
    ``_centroids`` (underscore prefix: invisible to partition discovery),
    so queries don't retrain."""
    import os

    cents = centroids or ivf_train_centroids(
        emb, n_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    assigned = _argmax_cell(emb, cents, id_col, vec_col).drop("cos_to_centroid")
    assigned.write.partitionBy("cell_id").mode("overwrite").parquet(path)
    cents.write.mode("overwrite").parquet(os.path.join(path, "_centroids"))


def ivf_index_append(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append one ingest batch to an EXISTING IVF layout (round 10): new
    vectors are assigned to the index's PERSISTED centroids (read from
    ``_centroids``, never retrained — retraining would reshuffle the
    whole layout) and appended as new files under their cell_id
    directories. Existing files are
    never rewritten, so concurrent probes stay consistent and the append
    costs O(new vectors) regardless of index size.

    Centroid drift is the operator's documented trade: a corpus whose
    distribution shifts eventually wants a re-train + rewrite (offline,
    like any index rebuild); until then appended vectors are still
    exactly queryable — probes read cells, and each vector lives in its
    argmax cell under the ORIGINAL metric. Equality with a from-scratch
    write over the union (same centroids) is pinned by
    tests/test_llm_ops.py::test_ivf_index_append_equals_rewrite."""
    import os

    spark = emb.sparkSession
    cents = spark.read.parquet(os.path.join(path, "_centroids"))
    assigned = _argmax_cell(emb, cents, id_col, vec_col).drop("cos_to_centroid")
    assigned.write.partitionBy("cell_id").mode("append").parquet(path)


def ivf_filtered_topk(
    emb: DataFrame,
    allowed: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    mode: str = "inprobe",
    expansion: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    iters: int = 3,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Predicate-filtered ANN top-k (VERDICT r10 task 5) — the retrieval
    shape hybrid-RAG / curation pipelines hit constantly: "top-k cosine
    neighbors WHERE a document predicate holds". ``allowed`` is the
    one-column (``id_col``) relation of ids satisfying the predicate
    (caller derives it — e.g. documents WHERE lang='en' — keeping this
    operator metadata-agnostic).

    Two classic strategies, selected by ``mode``:

    - ``inprobe``: the predicate is pushed INTO the probe — candidates
      are restricted to ``allowed`` (semi-join) BEFORE any distance is
      computed, then the query's nprobe best cells are scanned. Cost is
      O(matching vectors in probed cells); returns up to k and recall
      only degrades through cell pruning (same nprobe dial as unfiltered
      IVF). This is the scale path for selective predicates.
    - ``postfilter``: run the UNFILTERED probe for k·``expansion``
      candidates, then apply the predicate and keep k. Cost is the
      unfiltered probe (no second scan), but a predicate of selectivity
      s keeps ~s·k·expansion rows — under-fills (and under-recalls)
      whenever expansion < 1/s. This is what naive vector-DB usage does;
      the entry ``similarity_filtered_ann_eval`` measures both against
      filtered exact ground truth.

    Probe cells are ranked by query→centroid cosine over the FULL-corpus
    centroids (the index layout is built unfiltered; a per-predicate
    index would not compose). Output (id_col, cell_id, cos_sim), ordered
    cos desc / id asc, deterministic across engines.

    ``assigned`` (round 15): optional precomputed
    :func:`ivf_assignments` relation over the SAME ``emb``/``centroids``
    — a caller evaluating several modes shares one assignment plan
    (one centroid collect, one kernel) instead of rebuilding it per
    call; value-identical by construction."""
    if mode not in ("inprobe", "postfilter"):
        raise ValueError(f"unknown mode: {mode!r}")
    if centroids is None:
        centroids = ivf_train_centroids(
            emb, n_cells, iters=iters, id_col=id_col, vec_col=vec_col
        )
    cents = centroids.select("cell_id", "centroid")
    if assigned is None:
        assigned = ivf_assignments(
            emb, id_col=id_col, vec_col=vec_col, centroids=cents
        )
    q_vec = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("q_vec")
    )
    probes = (
        q_vec.join(F.broadcast(cents))
        .select(
            "cell_id", "q_vec", cosine_expr("q_vec", "centroid").alias("c")
        )
        .orderBy(F.col("c").desc(), F.col("cell_id"))
        .limit(nprobe)
        .select("cell_id", "q_vec")
    )
    allowed = allowed.select(id_col).distinct()
    cand = assigned.filter(F.col(id_col) != query_vec_id)
    if mode == "inprobe":
        # predicate BELOW the probe join: no distance is ever computed
        # for a vector that fails the filter
        cand = cand.join(allowed, id_col)
    scored = cand.join(F.broadcast(probes), "cell_id").select(
        F.col(id_col),
        F.col("cell_id"),
        cosine_expr(vec_col, "q_vec").alias("cos_sim"),
    )
    if mode == "inprobe":
        return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)
    prefetch = scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(
        k * expansion
    )
    # the k·expansion prefetch is tiny by construction — broadcast it so
    # the post-filter join never shuffles the allowed relation
    return (
        F.broadcast(prefetch)
        .join(allowed, id_col)
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_query_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: F.Column | None = None,
) -> DataFrame:
    """ANN top-k against a materialized IVF layout (:func:`ivf_write_index`).

    Cell selection reads the n_cells-row centroid table to the driver —
    O(n_cells), the one intentionally-driver-side step (same as a planner
    reading a partition manifest) — then the candidate scan filters
    ``cell_id IN (probes)``, which Catalyst turns into partition-directory
    pruning (asserted in tests/test_llm_ops.py): the corpus outside the
    probed cells is never opened.

    ``predicate`` (round 11): an optional Column over the index's
    payload columns (anything ``ivf_write_index`` persisted alongside
    the vector, e.g. a ``lang`` tag), applied INSIDE the pruned probe —
    it lands in the parquet scan's PushedFilters, so row groups failing
    the predicate are skipped before any distance is computed (pinned by
    tests/test_round11_pins.py). This is the index-backed form of
    :func:`ivf_filtered_topk`'s ``inprobe`` mode."""
    import os

    q = double_array_sql(query_vec)
    cents = spark.read.parquet(os.path.join(path, "_centroids"))
    probes = [
        r["cell_id"]
        for r in cents.select("cell_id", cosine_expr("centroid", q).alias("c"))
        .orderBy(F.col("c").desc(), "cell_id")
        .limit(nprobe)
        .collect()
    ]
    idx = spark.read.parquet(path).filter(F.col("cell_id").isin(probes))
    if predicate is not None:
        idx = idx.filter(predicate)
    return (
        idx.select(
            F.col(id_col),
            F.col("cell_id"),
            cosine_expr(vec_col, q).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def embedding_norms(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Per-vector L2 norm + per-label aggregates feedstock."""
    return emb.select(
        F.col(id_col),
        F.col("label"),
        F.expr(norm_sql(vec_col)).alias("l2_norm"),
        F.size(F.col(vec_col)).alias("dim"),
    )


def _sub_slices_sql(src: str, n_sub: int, sub_dim: int, out: str) -> str:
    """SQL for the per-subspace slice explode shared by the PQ builders:
    ``explode(array(struct(s AS sub_id, slice(src, s*sub_dim+1, sub_dim)
    AS <out>) ...))`` — one py4j round-trip instead of ~130 × n_sub
    (round 15; identical expression tree to the old Python loop)."""
    structs = ",".join(
        f"struct({s} AS sub_id, slice({src}, {s * sub_dim + 1}, {sub_dim}) AS {out})"
        for s in range(n_sub)
    )
    return f"explode(array({structs}))"


def pq_codebooks(
    emb: DataFrame,
    n_sub: int = 16,
    n_codes: int = 32,
    sub_dim: int = 4,
    seed: str = "pq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: split the embedding into ``n_sub``
    contiguous ``sub_dim``-wide subspaces; subspace s's ``n_codes``
    codewords are the md5-ranked seeded sample's slices (same
    deterministic-init stance as :func:`ivf_train_centroids` — a k-means
    refinement of each codebook would reuse its Lloyd loop per subspace;
    the seeded form is what the SQL oracle can reproduce bit-for-bit).

    Returns (sub_id, code, codeword) — n_sub × n_codes rows, broadcast
    wherever used.
    """
    from pyspark.sql.window import Window as W

    ranked = (
        emb.select(
            F.col(vec_col).cast("array<double>").alias("e"),
            F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))).alias("_r"),
        )
        .orderBy("_r")
        .limit(n_codes)
        .select((F.row_number().over(W.orderBy("_r")) - 1).alias("code"), "e")
    )
    # one-round-trip subspace explode (round 15 — see dot_sql): the old
    # per-subspace Python struct/slice loop cost ~130 py4j calls × n_sub
    return ranked.select(
        "code", F.expr(_sub_slices_sql("e", n_sub, sub_dim, "codeword")).alias("sc")
    ).select("sc.sub_id", "code", "sc.codeword")


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 16,
    sub_dim: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``n_sub`` codes (min-L2 codeword per
    subspace; ties → lowest code). Broadcast codebooks + per-(vector,
    subspace) argmin: map-side except the tiny argmin window. L2 is
    computed as dot(v,v) - 2·dot(v,c) + dot(c,c) — three left-to-right
    folds, the exact expression the SQL oracle mirrors (a subtraction
    chain keeps the float ops order-identical across engines).

    Output (vec_id, sub_id, code): the 100 TB representation — n_sub
    small ints per vector instead of dim floats (here 16 bytes vs 256,
    a 16× memory compression for the candidate scan; 5-bit packing gets
    10 bytes).

    The argmin is ``min(struct(d2, code))`` — lexicographic struct-min
    gives (smallest distance, lowest code on ties), identical to an
    ordered row_number but with MAP-SIDE PARTIAL AGGREGATION: the
    vectors × codes intermediate collapses to vectors × subspaces rows
    before the shuffle (a row_number window would shuffle the whole
    cross product).
    """
    sliced = emb.select(
        F.col(id_col),
        F.expr(
            _sub_slices_sql(f"CAST({vec_col} AS ARRAY<DOUBLE>)", n_sub, sub_dim, "sv")
        ).alias("sc"),
    ).select(
        id_col,
        "sc.sub_id",
        "sc.sv",
        # hoist the loop-invariant self-dots out of the vectors × codes
        # product: dot(v,v) once per slice, dot(c,c) once per codeword
        # (projected before the broadcast exchange). The d2 expression
        # keeps the exact (v·v - 2·v·c) + c·c float-op order the SQL
        # oracle uses, so results are unchanged — only 1/3 of the folds
        # remain in the hot cross product.
        dot_expr("sc.sv", "sc.sv").alias("sv2"),
    )
    cbs2 = codebooks.withColumn("cw2", dot_expr("codeword", "codeword"))
    return (
        sliced.join(F.broadcast(cbs2), "sub_id")
        .select(
            F.col(id_col),
            "sub_id",
            F.expr(
                f"struct(sv2 - 2.0D * {dot_sql('sv', 'codeword')} + cw2 AS d2, "
                "code AS code)"
            ).alias("dc"),
        )
        .groupBy(id_col, "sub_id")
        .agg(F.min("dc")["code"].alias("code"))
    )


def pq_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    rerank: int = 50,
    n_sub: int = 16,
    n_codes: int = 32,
    sub_dim: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN top-k by asymmetric distance computation (ADC): the query
    stays exact; each candidate's dot product is approximated by summing
    the per-subspace dot(query_slice, codeword[code]) — a lookup in an
    ``n_sub × n_codes`` table (broadcast; 512 rows here), so the
    candidate scan reads codes, never vectors. The top-``rerank`` window
    by approx_dot is then re-ranked with the TRUE cosine (vectors fetched
    for ``rerank`` rows only) and the best ``k`` returned — the window is
    the recall dial (measured on the seeded codebooks over this corpus:
    true top-10 fully inside the ADC top-50, tests/test_llm_ops.py).

    The ADC sum adds the n_sub partials in fixed subspace order
    (p0+p1+...), not via an unordered SUM aggregate — float addition
    order is what keeps Spark and the SQL oracle bit-identical.

    This is the memory-compression half of FAISS-style IVF-PQ; compose
    with ivf_assignments for the partition-pruning half (filter to
    nprobe cells first, ADC-scan the survivors) — :func:`ivfpq_topk`
    does exactly that via ``candidates``.

    ``candidates`` (round 11): optional one-column (``id_col``) relation
    restricting the ADC scan — only these vectors are encoded/scored
    (codebooks still train on the FULL corpus sample, as an index build
    would). Per-vector codes are independent, so restricting the scan is
    value-identical to encoding everything and filtering after.
    """
    cbs = pq_codebooks(
        emb, n_sub=n_sub, n_codes=n_codes, sub_dim=sub_dim, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=True)
    scan = emb if candidates is None else emb.join(
        candidates.select(id_col).distinct(), id_col, "left_semi"
    )
    codes = pq_encode_arrow(
        scan, cbs, n_sub=n_sub, n_codes=n_codes, sub_dim=sub_dim,
        id_col=id_col, vec_col=vec_col,
    )
    # every per-subspace Python expression loop below is a single F.expr
    # round-trip since round 15 (identical trees — see dot_sql)
    q = (
        emb.filter(F.col(id_col) == query_vec_id)
        .select(
            F.expr(
                _sub_slices_sql(
                    f"CAST({vec_col} AS ARRAY<DOUBLE>)", n_sub, sub_dim, "qv"
                )
            ).alias("sc")
        )
        .select("sc.sub_id", "sc.qv")
    )
    partials = (
        cbs.join(F.broadcast(q), "sub_id")
        .select("sub_id", "code", dot_expr("qv", "codeword").alias("pd"))
    )
    per_sub = [
        F.expr(f"sum(CASE WHEN sub_id = {s} THEN pd END) AS p{s}")
        for s in range(n_sub)
    ]
    approx = (
        codes.join(F.broadcast(partials), ["sub_id", "code"])
        .groupBy(id_col)
        .agg(*per_sub)
    )
    adc = F.expr(" + ".join(f"p{s}" for s in range(n_sub)))
    top = (
        approx.filter(F.col(id_col) != query_vec_id)
        .select(F.col(id_col), adc.alias("approx_dot"))
        .orderBy(F.col("approx_dot").desc(), F.col(id_col))
        .limit(rerank)
    )
    qfull = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("q_vec")
    )
    return (
        top.join(emb.select(id_col, vec_col), id_col)
        .join(F.broadcast(qfull))
        .select(
            F.col(id_col),
            "approx_dot",
            cosine_expr(vec_col, "q_vec").alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivfpq_write_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 8,
    iters: int = 3,
    n_sub: int = 16,
    n_codes: int = 32,
    sub_dim: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the composed FAISS-style IVF-PQ index: coarse cells AS
    the partition layout (pruning half) + PQ codes AS the row payload
    (compression half). The main index table is ``(vec_id, codes[],
    cell_id=partition)`` — NO vector column, so the candidate scan reads
    n_sub small ints per row instead of dim floats. Sidecars (underscore
    prefix, invisible to partition discovery): ``_centroids`` (n_cells
    rows), ``_codebooks`` (n_sub x n_codes rows), ``_vectors`` (full
    vectors, touched only to re-rank the final window).
    """
    import os

    cents = ivf_train_centroids(emb, n_cells, iters=iters, id_col=id_col, vec_col=vec_col)
    cbs = pq_codebooks(
        emb, n_sub=n_sub, n_codes=n_codes, sub_dim=sub_dim, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=True)
    codes_arr = (
        pq_encode_arrow(emb, cbs, n_sub=n_sub, n_codes=n_codes, sub_dim=sub_dim, id_col=id_col, vec_col=vec_col)
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("sub_id", "code"))).alias("sc"))
        .select(id_col, F.transform("sc", lambda s: s["code"]).alias("codes"))
    )
    assigned = _argmax_cell(emb, cents, id_col, vec_col).select(id_col, "cell_id")
    (
        assigned.join(codes_arr, id_col)
        .write.partitionBy("cell_id")
        .mode("overwrite")
        .parquet(path)
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "_centroids"))
    cbs.write.mode("overwrite").parquet(os.path.join(path, "_codebooks"))
    emb.select(id_col, vec_col).write.mode("overwrite").parquet(
        os.path.join(path, "_vectors")
    )


def ivfpq_query_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 50,
    n_sub: int = 16,
    sub_dim: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a materialized IVF-PQ index: probe ``nprobe``
    cells (partition-directory pruning), ADC-score their CODES against a
    broadcast per-(subspace, code) partial-dot table, re-rank the top
    ``rerank`` window with true cosine from ``_vectors``, return ``k``.

    Driver-side steps are O(n_cells) + O(n_sub x n_codes): the centroid
    read for probe selection and nothing else — codes, partials, and
    vectors all stay distributed.
    """
    import os

    q = double_array_sql(query_vec)
    cents = spark.read.parquet(os.path.join(path, "_centroids"))
    probes = [
        r["cell_id"]
        for r in cents.select("cell_id", cosine_expr("centroid", q).alias("c"))
        .orderBy(F.col("c").desc(), "cell_id")
        .limit(nprobe)
        .collect()
    ]
    qsubs = spark.createDataFrame(
        [
            (s, [float(x) for x in query_vec[s * sub_dim : (s + 1) * sub_dim]])
            for s in range(n_sub)
        ],
        "sub_id int, qv array<double>",
    )
    partials = (
        spark.read.parquet(os.path.join(path, "_codebooks"))
        .join(F.broadcast(qsubs), "sub_id")
        .select("sub_id", "code", dot_expr("qv", "codeword").alias("pd"))
    )
    idx = spark.read.parquet(path).filter(F.col("cell_id").isin(probes))
    per_sub = [
        F.sum(F.when(F.col("sub_id") == s, F.col("pd"))).alias(f"p{s}")
        for s in range(n_sub)
    ]
    approx = (
        idx.select(id_col, F.posexplode("codes").alias("sub_id", "code"))
        .join(F.broadcast(partials), ["sub_id", "code"])
        .groupBy(id_col)
        .agg(*per_sub)
    )
    adc = F.col("p0")
    for s in range(1, n_sub):
        adc = adc + F.col(f"p{s}")
    window = (
        approx.select(F.col(id_col), adc.alias("approx_dot"))
        .orderBy(F.col("approx_dot").desc(), F.col(id_col))
        .limit(rerank)
    )
    vecs = spark.read.parquet(os.path.join(path, "_vectors"))
    return (
        window.join(vecs, id_col)
        .select(
            F.col(id_col),
            "approx_dot",
            cosine_expr(vec_col, q).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth path
    for embedding columns at corpus scale (4x smaller than float32, 8x
    smaller than the float64 compute form; ADC/dot kernels consume the
    codes directly).

    ``scale = max(|x|)``; ``code = floor(x * 127 / scale + 0.5)`` (round
    half toward +inf, written out as floor(+0.5) so both engines — and the
    DuckDB oracle — evaluate the identical IEEE expression; a zero vector
    quantizes to all-zero codes). Emits the codes plus exact integer
    summaries (sum/min/max) — codes are integers in [-127, 127], so their
    sums are order-independent in double math.

    Map-only codegen over the scan: zero shuffles at any corpus size.
    """
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(e, F.abs))
    code = lambda x: F.when(  # noqa: E731
        scale > 0, F.floor(x * F.lit(127.0) / scale + F.lit(0.5))
    ).otherwise(F.lit(0)).cast("long")
    codes = F.transform(e, code)
    return emb.select(
        F.col(id_col),
        scale.alias("scale"),
        F.aggregate(
            codes, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("code_sum"),
        F.array_min(codes).alias("code_min"),
        F.array_max(codes).alias("code_max"),
        codes.alias("codes"),
    )


def pq_encode_arrow(
    emb: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 16,
    n_codes: int = 32,
    sub_dim: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched PQ encoder — same function as :func:`pq_encode`
    (min-L2 codeword per subspace, ties → lowest code), computed as
    vectorized numpy per Arrow batch instead of the vectors × codes join.

    The join form materializes |emb|·n_sub·n_codes rows through a
    broadcast join + two-stage aggregate; at bench scale that dominates
    the whole PQ query. Here the same arithmetic runs as a handful of
    numpy array ops per batch (mapInPandas), with IEEE op order kept
    IDENTICAL to the join form and the SQL oracle: every dot is the
    left-to-right fold ``((x0·y0 + x1·y1) + x2·y2) + x3·y3`` (explicit
    unrolled adds — never np.dot/einsum, whose summation order is
    unspecified), and d2 is ``(v·v - 2·v·c) + c·c``. Ties therefore
    break bit-identically, and ``np.argmin``'s first-minimum rule IS the
    lexicographic (d2, code) struct-min (codes ascend along the axis).
    Asserted row-identical to the join form in tests/test_llm_ops.py.

    This is the deliberate "Python where builtins genuinely lose"
    exception: the work is dense per-row linear algebra over a tiny
    broadcast constant — exactly the Arrow-batch + numpy shape — while
    the relational form pays per-row join/agg machinery for it.
    """
    import numpy as np

    from pyspark.sql import types as T

    rows = codebooks.collect()
    # A missing (sub_id, code) cell would silently become an all-zero
    # codeword that can win argmin — a row-level divergence from the join
    # form, which never considers absent codes. Demand the codebook is
    # complete and in range instead (callers train with kmeans_codebooks /
    # seeded ranking, both of which emit exactly n_sub x n_codes rows).
    if len(rows) != n_sub * n_codes:
        raise ValueError(
            f"codebooks must have exactly n_sub*n_codes={n_sub * n_codes} "
            f"rows (got {len(rows)}); a partial codebook would decode "
            "absent codes as zero vectors"
        )
    cb = np.full((n_sub, n_codes, sub_dim), np.nan, dtype=np.float64)
    for r in rows:
        s, c = int(r["sub_id"]), int(r["code"])
        if not (0 <= s < n_sub and 0 <= c < n_codes):
            raise ValueError(f"codebook entry out of range: sub_id={s} code={c}")
        cb[s, c] = [float(x) for x in r["codeword"]]
    if np.isnan(cb).any():
        raise ValueError("codebooks contain duplicate/missing (sub_id, code) cells")
    # cw2[s,c]: left-to-right self-dot fold, identical to dot(c, c)
    cw2 = np.zeros((n_sub, n_codes), dtype=np.float64)
    for j in range(sub_dim):
        cw2 += cb[:, :, j] * cb[:, :, j]

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("sub_id", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
        ]
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            ).reshape(n, n_sub, sub_dim)
            sv2 = np.zeros((n, n_sub), dtype=np.float64)
            svc = np.zeros((n, n_sub, n_codes), dtype=np.float64)
            for j in range(sub_dim):
                sv2 += V[:, :, j] * V[:, :, j]
                svc += V[:, :, j, None] * cb[None, :, :, j]
            d2 = (sv2[:, :, None] - 2.0 * svc) + cw2[None, :, :]
            codes = np.argmin(d2, axis=2)  # first min == lowest code on ties
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, n_sub),
                    "sub_id": np.tile(np.arange(n_sub, dtype=np.int32), n),
                    "code": codes.reshape(-1).astype(np.int32),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(batches, out_schema)


def ivfpq_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    rerank: int = 50,
    n_cells: int = 8,
    nprobe: int = 2,
    iters: int = 0,
    n_sub: int = 16,
    n_codes: int = 32,
    sub_dim: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Composed FAISS-style IVF-PQ ANN top-k, relational form (round 11):
    the partition-pruning half (IVF cell probe) feeding the
    memory-compression half (PQ ADC scan + exact rerank) in one plan.

    Stage 1 (IVF): assign every vector its max-cosine coarse cell
    (broadcast centroids, map-side argmax); the query probes its
    ``nprobe`` best cells, and ONLY their members become candidates —
    at scale this is partition-directory pruning (cell_id is the
    layout's partition key, see :func:`ivfpq_write_index` for the
    materialized twin of this plan).

    Stage 2 (PQ/ADC): candidates are scored from their ``n_sub`` small
    int codes against a broadcast (sub_id, code) → partial-dot table —
    the scan reads 16 bytes per vector, never the floats — then the ADC
    top-``rerank`` window is re-ranked with TRUE cosine (vectors fetched
    for ``rerank`` rows only) and ``k`` returned.

    Cost at 100 TB: nprobe/n_cells of the corpus scanned, at 16x code
    compression, with exactly ``rerank`` full vectors touched. Both
    dials (nprobe, rerank) trade recall for cost; the oracle-checked
    catalog entry (``similarity_ivfpq_adc``) uses the seeded 0-Lloyd
    centroids/codebooks so DuckDB reproduces every float bit-for-bit.

    No reference counterpart (the reference has no vector surface —
    SURVEY.md §2D); LLM-training-data layer.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            emb, n_cells, iters=iters, id_col=id_col, vec_col=vec_col
        )
    cents = centroids.select("cell_id", "centroid")
    assigned = ivf_assignments(
        emb, id_col=id_col, vec_col=vec_col, centroids=cents
    ).select(id_col, "cell_id")
    q_vec = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("q_vec")
    )
    probes = (
        q_vec.join(F.broadcast(cents))
        .select(
            "cell_id", cosine_expr("q_vec", "centroid").alias("c")
        )
        .orderBy(F.col("c").desc(), F.col("cell_id"))
        .limit(nprobe)
        .select("cell_id")
    )
    cand = assigned.join(F.broadcast(probes), "cell_id").select(id_col)
    return pq_topk(
        emb,
        query_vec_id,
        k=k,
        rerank=rerank,
        n_sub=n_sub,
        n_codes=n_codes,
        sub_dim=sub_dim,
        id_col=id_col,
        vec_col=vec_col,
        candidates=cand,
    )


#: Auto-salt budget: within-cell pair evaluations one shuffle task may
#: own before the cell is split. Calibrated from SCALE_PROBE_r12_skew:
#: a 9,328-member hot cell (~87M pairs) on one task ran 262 s; salt 32
#: (~2.7M pairs/task) ran 33 s and sat in the flat region of the curve,
#: while salt 8 (~11M/task) still straggled at 86 s. 3M pairs/task keeps
#: the derived salt in that flat region (87M → salt 29) and leaves
#: healthy cells unsalted (a cell at the ~2,000-member design target is
#: ~4-5M pairs → salt 2 — a negligible 2x a-side replication).
AUTO_SALT_TARGET_PAIRS = 3_000_000
#: Cap on the derived salt: the a-side shuffle grows S-fold, so an
#: absurdly hot cell should spill into "re-cluster finer" territory
#: (rollover) rather than unbounded replication.
AUTO_SALT_MAX = 64


#: Pair-matrix entries one kernel chunk may hold (float64 accumulator ≈
#: 32 MB at this size); groups bigger than this stream the b-side in
#: chunks — peak memory stays bounded no matter how hot a (salted) cell.
PAIR_KERNEL_CHUNK = 4_000_000


def _cogroup_dropped(
    a: DataFrame,
    b: DataFrame,
    join_keys: list,
    threshold: float,
    id_col: str,
) -> DataFrame:
    """Dropped-id relation of :func:`semantic_dedup`'s within-cell pair
    compare, as a cogrouped Arrow kernel: for every group (``cell_id``
    [, ``_blk``]) it receives the a-side (potential droppers) and b-side
    (candidates) rows and returns the b-ids having some a-partner with
    ``id_a < id_b`` and cosine ≥ threshold.

    Exactness vs the relational ``zip_with``/``aggregate`` form it
    replaces (every rule below is the JVM expression's observable
    behavior, pinned by test):

    - elements upcast float→double per element, dot folded STRICTLY
      left-to-right (one ``acc += A[:,j]·B[:,j]`` step per dimension),
      norms the same fold over squares then one sqrt — identical IEEE
      op sequence, identical doubles;
    - zero/underflowed ``norm_a * norm_b`` → the JVM's nullif made the
      cosine NULL → pair never drops; here ``denom != 0`` masks it out;
    - NULL vectors: ``zip_with(NULL, e)`` → NULL cosine on every pair →
      the row neither drops nor is dropped; here None rows are excluded
      from both sides outright — same decisions;
    - mismatched lengths: the JVM pads the shorter side with NULLs → the
      fold goes NULL → pair excluded; here vectors are bucketed by
      length and only equal-length blocks compare — same exclusions.
      NaN elements propagate to a NaN cosine on both engines, but Spark
      SQL orders NaN ABOVE all doubles (``NaN >= threshold`` is true on
      the JVM, false under IEEE), so the kernel or-joins ``isnan`` into
      the threshold test.
    """
    import numpy as np
    import pandas as pd

    id_type = a.schema["_id_a"].dataType.simpleString()

    def _stack(pdf, id_name, vec_name):
        ids = pdf[id_name].to_numpy()
        by_len: dict = {}
        for i, v in enumerate(pdf[vec_name]):
            if v is None:
                continue
            try:
                arr = np.asarray(v, dtype=np.float64)
            except (TypeError, ValueError):
                continue  # null elements → NULL fold on the JVM: excluded
            if arr.ndim != 1:
                continue
            by_len.setdefault(arr.shape[0], ([], []))
            by_len[arr.shape[0]][0].append(ids[i])
            by_len[arr.shape[0]][1].append(arr)
        return {
            d: (np.asarray(idl), np.stack(vl))
            for d, (idl, vl) in by_len.items()
        }

    def _norms(m: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(m.shape[0], dtype=np.float64)
        for j in range(m.shape[1]):
            acc += m[:, j] * m[:, j]
        return np.sqrt(acc)

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out: list = []
        if len(left) and len(right):
            A = _stack(left, "_id_a", "_e_a")
            B = _stack(right, "_id_b", "_e_b")
            for d, (ib, bm) in B.items():
                if d not in A:
                    continue
                ia, am = A[d]
                na, nb = _norms(am), _norms(bm)
                step = max(1, PAIR_KERNEL_CHUNK // max(1, len(ia)))
                hit = np.zeros(len(ib), dtype=bool)
                for s in range(0, len(ib), max(1, step)):
                    bc, ibc = bm[s : s + step], ib[s : s + step]
                    acc = np.zeros((len(ia), len(ibc)), dtype=np.float64)
                    for j in range(d):
                        acc += am[:, j][:, None] * bc[:, j][None, :]
                    denom = na[:, None] * nb[s : s + step][None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = acc / denom
                        # Spark SQL orders NaN ABOVE every double, so the
                        # JVM's `cos >= threshold` is TRUE for a NaN
                        # cosine (a NaN-carrying vector drops/gets
                        # dropped); IEEE/numpy would say false — mirror
                        # Spark explicitly
                        ok = (
                            (denom != 0.0)
                            & (ia[:, None] < ibc[None, :])
                            & ((cos >= threshold) | np.isnan(cos))
                        )
                    hit[s : s + step] |= ok.any(axis=0)
                out.append(ib[hit])
        ids = np.concatenate(out) if out else np.asarray([], dtype=np.int64)
        return pd.DataFrame({id_col: ids})

    return (
        a.groupBy(*join_keys)
        .cogroup(b.groupBy(*join_keys))
        .applyInPandas(kernel, schema=f"{id_col} {id_type}")
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.6,
    n_cells: int = 8,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    skew_salt: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (round 11): cluster the
    corpus by embedding (coarse k-means cells, the IVF machinery), then
    WITHIN each cell mark near-duplicates by pairwise cosine — a doc is
    dropped iff some LOWER-id doc in its cell has cosine ≥ ``threshold``
    with it (deterministic keep-first; the published heuristic keeps one
    representative per ε-ball, and any fixed tie-break is as principled
    as another — lowest-id is the one two engines can agree on
    bit-for-bit). Cross-cell near-dups are invisible by design: that is
    SemDeDup's recall/cost trade — the pair space shrinks from O(n²) to
    Σ|cell|², and clustering granularity (n_cells ∝ corpus size, fixed
    target cell cardinality) caps the per-cell quadratic term.

    Skewed cells (round 12, VERDICT r11 task 6): with a hot cell, the
    within-cell join puts the whole |hot|² pair space on ONE task —
    wall-clock becomes the straggler even though total work is the same.
    ``skew_salt = S`` splits it exactly: the b-side is hashed into S
    blocks, the a-side is replicated to every block, and the join key
    becomes (cell_id, block) — every (a, b) pair still meets exactly
    once (b has exactly one block), so the output is IDENTICAL (pinned
    by tests), but the hot cell's pairs spread across S tasks at the
    cost of an S× bigger a-side shuffle.

    The salt is AUTO-derived by default (round 13, VERDICT r12 task 1 —
    the measured 262→33 s win shipped as a manual knob nobody turns):
    ``skew_salt=None`` reads the hottest cell's population off the
    already-checkpointed assignment (one bounded agg — n_cells rows) and
    sets ``S = clamp(ceil(hottest² / AUTO_SALT_TARGET_PAIRS), 1,
    AUTO_SALT_MAX)``, so a skewed corpus spreads its straggler with no
    operator knob while a healthy corpus keeps S ≤ 2. Pass ``0``/``1``
    to force the unsalted plan, or an explicit S ≥ 2 to pin one.
    Note the LSH hub trick
    (operators/dedup.simhash_hub_pairs — compare members only against a
    bucket hub) does NOT transfer here: band-equality is transitive
    within a bucket, cosine-above-tau is not, so star comparisons would
    miss drops. Salting preserves exactness; raising n_cells remains the
    volume knob (finer cells lose only duplicates straddling a
    boundary).

    Returns one row per vector: (vec_id, cell_id, cos_to_centroid,
    is_dropped) — the full curation decision relation, aggregable to
    per-cell stats (catalog entry) or semi-joinable as a keep-filter.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            emb, n_cells, iters=iters, id_col=id_col, vec_col=vec_col
        )
    # checkpoint: three consumers below (both self-join sides + the final
    # decision join) would otherwise re-run the argmax window each
    assigned = (
        _argmax_cell(
            emb.select(id_col, vec_col),
            centroids.select("cell_id", "centroid"),
            id_col, vec_col,
        )
        .select(id_col, vec_col, "cell_id", "cos_to_centroid")
        .localCheckpoint(eager=True)
    )
    a = assigned.select(
        F.col("cell_id"),
        F.col(id_col).alias("_id_a"),
        F.col(vec_col).alias("_e_a"),
    )
    b = assigned.select(
        F.col("cell_id"),
        F.col(id_col).alias("_id_b"),
        F.col(vec_col).alias("_e_b"),
    )
    if skew_salt is None:
        # auto-engage (VERDICT r12 task 1): the hottest cell's quadratic
        # pair space, divided by the per-task budget, IS the number of
        # blocks it must spread over. One n_cells-row agg over the
        # checkpointed assignment — no extra scan of the corpus.
        hottest = (
            assigned.groupBy("cell_id").count().agg(F.max("count")).first()[0]
            or 0
        )
        skew_salt = min(
            AUTO_SALT_MAX,
            max(1, -(-(hottest * hottest) // AUTO_SALT_TARGET_PAIRS)),
        )
    if skew_salt > 1:
        # exact triangle-salt: b keeps its one hash block, a replicates
        # to all S blocks — the hot cell's pair space spreads over S
        # tasks, every pair still met exactly once
        s = int(skew_salt)
        # BOTH sides' _blk must be the SAME type (long): cogrouped
        # applyInPandas aligns the two sides' groups by key, and an
        # int-lit a-side vs a long pmod b-side silently produces
        # LEFT-ONLY and RIGHT-ONLY groups once the children span multiple
        # partitions — every salted pair compare vanishes (caught in
        # round 14 at 48k vectors; the relational join form this kernel
        # replaced inserted the int→long cast implicitly, and
        # single-partition unit scale masked it). Pinned at
        # multi-partition scale by
        # test_semantic_dedup_kernel_salted_multipartition.
        a = a.withColumn(
            "_blk",
            F.explode(F.array(*[F.lit(i).cast("long") for i in range(s)])),
        )
        b = b.withColumn("_blk", F.pmod(F.xxhash64(F.col("_id_b")), F.lit(s)))
        join_keys = ["cell_id", "_blk"]
    else:
        join_keys = ["cell_id"]
    # Within-cell pair compare as a COGROUPED Arrow kernel (round 14):
    # the relational join evaluated one interpreted zip_with/aggregate
    # fold PER PAIR (~µs/pair — the exact cost bisect/PAIR_KERNEL_r13.md
    # measured turning a fold into a 7× cliff), and AQE coalesces the
    # pair stage by shuffle BYTES, so the whole Σ|cell|² CPU term landed
    # on one task at bench scale (measured 1.6 s single-task stage).
    # Cogrouping on the SAME keys the join used ships each vector once
    # per group — identical shuffle volume, including the S× a-side
    # replication under the triangle salt — and computes each group's
    # pair block in numpy with the identical left-to-right fold order,
    # so every cosine is the same double and the decision relation is
    # bit-identical (see _cogroup_dropped for the exactness argument;
    # pinned by tests/test_round14_opt_pins.py::
    # test_semantic_dedup_kernel_equals_relational).
    dropped = (
        _cogroup_dropped(a, b, join_keys, threshold, id_col)
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            id_col,
            "cell_id",
            "cos_to_centroid",
            F.coalesce(F.col("_dropped"), F.lit(False)).alias("is_dropped"),
        )
    )
