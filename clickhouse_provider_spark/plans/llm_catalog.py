"""LLM-data-pipeline catalog entries: dedup, similarity search, text
analysis over the `documents` / `embeddings` tables (BASELINE.json north
star — no reference counterpart; built Spark-first).

Oracle strategy: every operator is decomposed into md5-based hashing,
integer counting, and left-to-right double folds — primitives that behave
bit-identically in Spark and DuckDB (verified: list_dot_product ==
F.aggregate/zip_with fold; CAST('0x..' AS BIGINT) == conv(hex,16,10);
lexicographic min over md5 hex == minhash). Several oracles are generated
programmatically so both sides share one parameterization.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_provider_spark.operators import dedup, similarity, text
from clickhouse_provider_spark.plans.catalog import register

# Shared DuckDB fragments -----------------------------------------------------

SQL_WORDS = (
    "list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), "
    "w -> w <> '')"
)
SQL_SHINGLES = f"""
  WITH d AS (SELECT doc_id, {SQL_WORDS} AS words FROM documents),
  sh AS (
    SELECT doc_id, unnest(list_distinct(
      [array_to_string(words[i:i+{dedup.N_SHINGLE - 1}], ' ')
       for i in generate_series(1, len(words) - {dedup.N_SHINGLE - 1})]
    )) AS shingle
    FROM d WHERE len(words) >= {dedup.N_SHINGLE}
  )
"""


def _minhash_cols_sql() -> str:
    cols = []
    for i in range(dedup.N_HASHES):
        seed, off = divmod(i, 4)
        cols.append(
            f"min(substr(md5(concat('{seed}|', shingle)), {1 + 8 * off}, 8)) AS mh_{i}"
        )
    return ", ".join(cols)


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(32)
    )
    assemble = " + ".join(
        f"(CASE WHEN v_{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)" for i in range(32)
    )
    return f"""
    WITH d AS (SELECT doc_id, {SQL_WORDS} AS words FROM documents),
    w AS (SELECT doc_id, unnest(words) AS word FROM d),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS h FROM w),
    votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
    SELECT doc_id, {assemble} AS simhash FROM votes
    """


SQL_DOT = "list_dot_product({a}, {b})"


def _cos_sql(a: str, b: str) -> str:
    # nullif mirrors operators/similarity.cosine_sql: zero vectors yield NULL
    # (not a crash / inf), and NULLS LAST under DESC agrees cross-engine
    return (
        f"list_dot_product({a}, {b}) / "
        f"nullif(sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})), 0.0)"
    )


# Dedup -----------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS survivor_doc_id,
           count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup by content hash: groupBy(md5(text)), survivor = min "
    "doc_id. Scale: one shuffle on a uniform 128-bit key — no skew; at "
    "100 TB hash first, never shuffle full texts.",
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark, t):
    return dedup.exact_duplicates(t["documents"])


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    {SQL_SHINGLES}
    SELECT doc_id, {_minhash_cols_sql()}
    FROM sh GROUP BY doc_id
    """,
    doc="MinHash signatures (k=8) per document: shingle→seeded-md5→min. "
    "Lexicographic min over hex == min over 128-bit ints, so the signature "
    "is portable. Scale: explode+groupBy(doc_id) — narrow, combiner-"
    "friendly; signature table is k×16 bytes/doc regardless of doc size.",
    tags=("llm", "dedup"),
)
def q_dedup_minhash_signatures(spark, t):
    return dedup.minhash_signatures(t["documents"])


@register(
    "dedup_lsh_pairs",
    oracle=f"""
    {SQL_SHINGLES},
    sig AS (SELECT doc_id, {_minhash_cols_sql()} FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, band_id,
             CASE band_id
               WHEN 0 THEN concat(mh_0, '|', mh_1) WHEN 1 THEN concat(mh_2, '|', mh_3)
               WHEN 2 THEN concat(mh_4, '|', mh_5) ELSE concat(mh_6, '|', mh_7)
             END AS band_hash
      FROM sig, (SELECT unnest([0,1,2,3]) AS band_id)
    )
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
    """,
    doc="MinHash-LSH candidate pairs: 4 bands × 2 rows; docs sharing any "
    "band collide. Scale: the self-join key is (band_id, band_hash) — "
    "candidate generation without the O(n²) pair space.",
    tags=("llm", "dedup", "scale-path"),
)
def q_dedup_lsh_pairs(spark, t):
    return dedup.lsh_candidate_pairs(dedup.minhash_signatures(t["documents"]))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    {SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, sa.n_shingles AS n_a, sb.n_shingles AS n_b,
           CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common)
             AS jaccard
    FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    """,
    doc="Exact n-gram Jaccard for every pair sharing ≥1 shingle. "
    "VERIFICATION BASELINE, not the scale path: the shared-shingle pair "
    "space explodes on stopword-like shingles — at 100 TB run "
    "dedup_lsh_verified (LSH candidates → candidate-first Jaccard) "
    "instead; this entry exists as the oracle-checkable exact baseline.",
    tags=("llm", "dedup", "verification-baseline"),
)
def q_dedup_ngram_jaccard(spark, t):
    return dedup.jaccard_pairs(t["documents"])


@register(
    "dedup_lsh_verified",
    oracle=f"""
    {SQL_SHINGLES},
    sig AS (SELECT doc_id, {_minhash_cols_sql()} FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, band_id,
             CASE band_id
               WHEN 0 THEN concat(mh_0, '|', mh_1) WHEN 1 THEN concat(mh_2, '|', mh_3)
               WHEN 2 THEN concat(mh_4, '|', mh_5) ELSE concat(mh_6, '|', mh_7)
             END AS band_hash
      FROM sig, (SELECT unnest([0,1,2,3]) AS band_id)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b, n_common, sa.n_shingles AS n_a, sb.n_shingles AS n_b,
           CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common)
             AS jaccard
    FROM common c JOIN cand USING (doc_a, doc_b)
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.1
    """,
    doc="The full near-dedup pipeline as one operator: MinHash → LSH "
    "candidates → exact Jaccard verification ≥ 0.1. This is the shape "
    "that runs at 100 TB: verification cost is bounded by the candidate "
    "set, never the pair space.",
    tags=("llm", "dedup", "scale-path"),
)
def q_dedup_lsh_verified(spark, t):
    docs = t["documents"]
    cand = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs), distinct=False)
    return dedup.jaccard_pairs(docs, pairs=cand, threshold=0.1)


@register(
    "dedup_simhash",
    oracle=_simhash_sql(),
    doc="32-bit SimHash per document (frequency-weighted ±1 votes per bit "
    "from word md5). One explode+groupBy folding 32 conditional sums — "
    "no UDF. Near-dup pairs via byte-banding: operators/dedup.py:"
    "simhash_near_pairs (tested on synthetic dups).",
    tags=("llm", "dedup"),
)
def q_dedup_simhash(spark, t):
    return dedup.simhash32(t["documents"])


@register(
    "dedup_survivors",
    oracle=f"""
    {SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE)
            / (sa.n_shingles + sb.n_shingles - n_common) >= 0.1
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS component_id
      FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           coalesce(comp.component_id, d.doc_id) AS survivor_doc_id,
           coalesce(comp.component_id, d.doc_id) = d.doc_id AS is_survivor
    FROM documents d LEFT JOIN comp USING (doc_id)
    """.replace("WITH d AS", "WITH RECURSIVE d AS", 1),
    doc="The dedup END DECISION: near-dup pairs (Jaccard ≥ 0.1) →"
    " connected components via min-label propagation (same shallow "
    "fixpoint shape as the receipt→tx closure) → min-doc_id survivor per "
    "cluster. Oracle computes the identical closure with a recursive CTE. "
    "Scale: iterations = cluster diameter; label state 2 longs/doc.",
    tags=("llm", "dedup"),
)
def q_dedup_survivors(spark, t):
    docs = t["documents"]
    pairs = dedup.jaccard_pairs(docs, threshold=0.1).select("doc_a", "doc_b")
    return dedup.dedup_survivors(docs, pairs, oriented_distinct=True)


@register(
    "dedup_delta_labels",
    oracle=f"""
    {SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE)
            / (sa.n_shingles + sb.n_shingles - n_common) >= 0.1
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS component_id
      FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           coalesce(comp.component_id, d.doc_id) AS component_id
    FROM documents d LEFT JOIN comp USING (doc_id)
    """.replace("WITH d AS", "WITH RECURSIVE d AS", 1),
    doc="INCREMENTAL label maintenance equals batch CC (round 14 — the "
    "label-delta path, surfaced in the oracle gate): documents are "
    "ingested as two waves (even doc_ids, then "
    "odd), wave 1's labels become DELTA history, wave 2's edges fold in "
    "via operators/dedup.components_delta (localized relabel of "
    "only touched components, O(edges + touched members) — never a "
    "corpus-wide fixpoint or rewrite), and the min(component_id) "
    "resolution over history ∪ delta must equal one-shot connected "
    "components over ALL edges (the oracle's recursive CTE). Exactness "
    "rests on labels being per-doc non-increasing and dead labels never "
    "reviving — the argument in components_delta's docstring.",
    tags=("llm", "dedup"),
)
def q_dedup_delta_labels(spark, t):
    docs = t["documents"].select("doc_id", "text")
    all_pairs = dedup.jaccard_pairs(docs, threshold=0.1).select(
        "doc_a", "doc_b"
    )
    even = F.col("doc_id") % 2 == 0
    b0, b1 = docs.filter(even), docs.filter(~even)
    edges0 = all_pairs.filter(
        (F.col("doc_a") % 2 == 0) & (F.col("doc_b") % 2 == 0)
    )
    edges1 = all_pairs.filter(
        (F.col("doc_a") % 2 == 1) | (F.col("doc_b") % 2 == 1)
    )
    hist0 = dedup.dedup_survivors(b0, edges0, oriented_distinct=True).select(
        "doc_id", F.col("survivor_doc_id").alias("component_id")
    )
    delta1 = dedup.components_delta(hist0, edges1)
    resolved = (
        hist0.unionByName(
            b1.select("doc_id", F.col("doc_id").alias("component_id"))
        )
        .unionByName(delta1)
        .groupBy("doc_id")
        .agg(F.min("component_id").alias("component_id"))
    )
    return resolved


# Similarity ------------------------------------------------------------------


@register(
    "similarity_topk",
    oracle=f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id <> 0)
    SELECT vec_id, {_cos_sql('v', 'qv')} AS cos_sim
    FROM c, q
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    doc="Brute-force exact top-k cosine against a query vector (vec_id=0) "
    "— the ANN correctness baseline. Left-to-right double folds are bit-"
    "identical across engines. Scale: map-only scan + TakeOrdered; the "
    "1-row query broadcast.",
    tags=("llm", "similarity"),
)
def q_similarity_topk(spark, t):
    return similarity.cosine_topk(t["embeddings"], query_vec_id=0, k=10)


@register(
    "similarity_ann_lsh",
    # The whole index is deterministic: hyperplane p's j-th component is ±1
    # by the parity of md5(f"{p}|{j}")'s first byte (similarity.
    # hyperplane_signs) — in SQL, parity of the md5 hex string's LOW nibble
    # of byte 0 = its 2nd hex char. Dot/cosine folds are left-to-right
    # doubles on both engines (same as the green similarity_topk), so
    # signatures, bucket membership, and scores are value-identical.
    oracle=f"""
    WITH planes AS (
      SELECT p, list_transform(range(64), j ->
        CASE WHEN substr(md5(CAST(p AS VARCHAR) || '|' || CAST(j AS VARCHAR)), 2, 1)
                  IN ('0','2','4','6','8','a','c','e')
             THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS plane
      FROM (SELECT unnest(range(4)) AS p)
    ),
    v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
    sigs AS (
      SELECT v.vec_id, any_value(v.e) AS e,
             CAST(sum(CASE WHEN list_dot_product(v.e, p.plane) >= 0
                           THEN power(2, p.p) ELSE 0 END) AS BIGINT) AS lsh_bucket
      FROM v CROSS JOIN planes p
      GROUP BY v.vec_id
    ),
    q AS (SELECT e AS qv, lsh_bucket AS qb FROM sigs WHERE vec_id = 0)
    SELECT s.vec_id, s.lsh_bucket, {_cos_sql('s.e', 'q.qv')} AS cos_sim
    FROM sigs s, q
    WHERE s.vec_id <> 0 AND s.lsh_bucket = q.qb
    ORDER BY cos_sim DESC, s.vec_id LIMIT 10
    """,
    doc="ANN top-k via deterministic random-hyperplane LSH (md5-derived "
    "±1 planes, 4 bits → 16 buckets), exact cosine within the query's "
    "bucket. Scale path for similarity_topk: bucketed/partitioned-by-"
    "signature layout means a query touches 1/2^p of the data; recall "
    "tuned by plane count + multi-probe. Also verified against the exact "
    "baseline in tests/test_llm_ops.py.",
    tags=("llm", "similarity"),
)
def q_similarity_ann_lsh(spark, t):
    from pyspark.sql import functions as F

    return similarity.lsh_bucket_topk(
        t["embeddings"], query_vec_id=0, k=10, dim=64
    ).withColumn("lsh_bucket", F.col("lsh_bucket").cast("long"))


@register(
    "dedup_embedding_pairs",
    # Candidate-first (banded hyperplane LSH) → exact verify. The oracle
    # MIRRORS the deterministic banding (same md5-derived planes as the
    # Spark side) instead of the all-pairs form: banded LSH has <1 recall
    # at this threshold by construction, so "candidates then verify" and
    # "all pairs" are different relations — pretending otherwise would
    # make the gate flaky. The exact all-pairs form stays available as
    # similarity.cosine_near_pairs and is the recall baseline in
    # tests/test_llm_ops.py.
    oracle=f"""
    WITH planes AS (
      SELECT p, list_transform(range(64), j ->
        CASE WHEN substr(md5(CAST(p AS VARCHAR) || '|' || CAST(j AS VARCHAR)), 2, 1)
                  IN ('0','2','4','6','8','a','c','e')
             THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS plane
      FROM (SELECT unnest(range(32)) AS p)
    ),
    v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
    sigs AS (
      SELECT v.vec_id, p.p // 4 AS band,
             CAST(sum(CASE WHEN list_dot_product(v.e, p.plane) >= 0
                           THEN power(2, p.p % 4) ELSE 0 END) AS BIGINT) AS sig
      FROM v CROSS JOIN planes p
      GROUP BY v.vec_id, p.p // 4
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b, {_cos_sql('va.e', 'vb.e')} AS cos_sim
    FROM cand c JOIN v va ON va.vec_id = c.vec_a
                JOIN v vb ON vb.vec_id = c.vec_b
    WHERE {_cos_sql('va.e', 'vb.e')} >= 0.4
    """,
    doc="Embedding-cosine near-duplicate pairs, CANDIDATE-FIRST: banded "
    "hyperplane-LSH candidates (8 bands × 4 md5-derived planes) → exact "
    "cosine ≥ 0.4 on candidates only. The 100 TB path: signature compute "
    "is map-only codegen, the candidate join shuffles on (band, sig) "
    "buckets — never all-pairs (no-cartesian plan guard in "
    "tests/test_plans.py). Exact all-pairs kept as the test-only recall "
    "baseline (similarity.cosine_near_pairs).",
    tags=("llm", "dedup", "similarity"),
)
def q_dedup_embedding_pairs(spark, t):
    return similarity.banded_lsh_pairs(
        t["embeddings"], threshold=0.4, n_bands=8, band_planes=4, dim=64
    )


@register(
    "similarity_ivf_topk",
    # Oracle-checkable IVF twin: centroids = the deterministic seeded
    # sample (rank by md5('ivf|'||vec_id), take n_cells) with ZERO Lloyd
    # rounds — the float means of Lloyd iterations are not reproducible
    # across engines (summation order), the seeded init is. The full
    # trained path (ivf_train_centroids with Lloyd rounds) is the same
    # plan with iters>0; its quality is verified by tests/test_llm_ops.py
    # (recall-vs-exact + cell-balance assertions).
    oracle=f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    r AS (SELECT vec_id, e, md5('ivf|' || CAST(vec_id AS VARCHAR)) AS _r FROM v),
    cents AS (
      SELECT row_number() OVER (ORDER BY _r) - 1 AS cell_id, e AS centroid
      FROM r ORDER BY _r LIMIT 8
    ),
    assigned AS (
      SELECT vec_id, e, cell_id FROM (
        SELECT v.vec_id, v.e, c.cell_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_cos_sql('v.e', 'c.centroid')} DESC, c.cell_id
               ) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    q AS (SELECT e AS qv FROM v WHERE vec_id = 0),
    probes AS (
      SELECT c.cell_id, q.qv FROM cents c, q
      ORDER BY {_cos_sql('q.qv', 'c.centroid')} DESC, c.cell_id LIMIT 2
    )
    SELECT a.vec_id, a.cell_id, {_cos_sql('a.e', 'p.qv')} AS cos_sim
    FROM assigned a JOIN probes p USING (cell_id)
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id LIMIT 10
    """,
    doc="IVF-flat ANN top-k: deterministic seeded-sample centroids "
    "(md5-ranked; Lloyd refinement available via "
    "similarity.ivf_train_centroids iters>0 — oracle twin uses 0 rounds "
    "for cross-engine value-exactness), max-cosine cell assignment "
    "(broadcast centroids, map-only argmax), query probes its 2 best "
    "cells, exact cosine inside. Scale: the cell id is the vector "
    "table's partition key — a query reads nprobe partitions instead of "
    "the corpus.",
    tags=("llm", "similarity"),
)
def q_similarity_ivf_topk(spark, t):
    from pyspark.sql import functions as F

    return similarity.ivf_topk(
        t["embeddings"], query_vec_id=0, k=10, n_cells=8, nprobe=2, iters=0
    ).withColumn("cell_id", F.col("cell_id").cast("long"))


@register(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                 list_transform(embedding, x -> CAST(x AS DOUBLE))))
             AS l2_norm,
           len(embedding) AS dim
    FROM embeddings
    """,
    doc="Per-vector L2 norms (array fold, no UDF) — embedding hygiene "
    "check feeding normalization decisions.",
    tags=("llm", "similarity"),
)
def q_embedding_norms(spark, t):
    return similarity.embedding_norms(t["embeddings"])


# Text analysis ---------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id, length(text) AS n_chars,
           len(regexp_extract_all(text, '{text.TOKEN_RE}')) AS n_tokens,
           len(regexp_extract_all(text, '{text.BPE_RE}')) AS n_bpe_tokens,
           len(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')))
             AS n_unique_tokens
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish regex classes + "
    "distinct tokens. Pure regexp codegen; linear scan at any scale.",
    tags=("llm", "text"),
)
def q_text_token_stats(spark, t):
    return text.token_counts(t["documents"])


@register(
    "text_quality",
    oracle=f"""
    WITH x AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '\\S')) AS n_nonspace,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks,
             len(regexp_extract_all(text, '[A-Za-z0-9]')) AS n_alnum
      FROM documents
    )
    SELECT doc_id, n_chars, len(toks) AS n_tokens,
           CASE WHEN len(toks) > 0
                THEN CAST(n_nonspace AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_token_len,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, t -> t IN {text.STOPWORDS!r})) AS DOUBLE)
                     / len(toks) ELSE 0.0 END AS stopword_ratio,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                ELSE 0.0 END AS unique_ratio,
           CASE WHEN n_chars > 0
                THEN CAST(n_chars - n_alnum AS DOUBLE) / n_chars ELSE 0.0 END
             AS non_alnum_ratio
    FROM x
    """,
    doc="Quality scoring: length / mean token length / stopword / unique / "
    "non-alnum ratios — exact integer counts, double division (rule 3).",
    tags=("llm", "text"),
)
def q_text_quality(spark, t):
    return text.quality_scores(t["documents"])


def _lang_id_oracle() -> str:
    langs = sorted(text.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "CASE "
    for lang in langs:
        pred += f"WHEN {best} > 0 AND score_{lang} = {best} THEN '{lang}' "
    pred += "ELSE 'und' END"
    return f"""
    WITH s AS (SELECT doc_id, {text.lang_id_sql_scores()} FROM documents)
    SELECT doc_id, {', '.join(f'score_{lang}' for lang in langs)}, {pred} AS pred_lang
    FROM s
    """


@register(
    "text_lang_id",
    oracle=_lang_id_oracle(),
    doc="Language-ID heuristic: marker-stopword overlap score per language, "
    "deterministic argmax (tie → lexicographically first language; no hits "
    "→ 'und').",
    tags=("llm", "text"),
)
def q_text_lang_id(spark, t):
    return text.lang_id(t["documents"])


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
           length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_len
    FROM documents
    """,
    doc="Normalized-content fingerprint (md5 of lowercased, punctuation-"
    "collapsed text) — dedup key robust to formatting noise.",
    tags=("llm", "text"),
)
def q_text_fingerprint(spark, t):
    return text.fingerprints(t["documents"])
