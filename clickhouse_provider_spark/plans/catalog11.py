"""Round-7 batch 11: distribution tests + higher moments + evaluation ops.

- ``kolmogorovSmirnovTest`` analog — the two-sample KS D statistic is a
  MAX over exactly computable ECDF gaps, so unlike a float sum it is
  addition-order-free and cross-engine exact;
- ``analysisOfVariance`` (one-way ANOVA F) — group moments as exact
  decimals, the between-group sum folded in fixed group order;
- ``skewPop`` / ``kurtPop`` — third/fourth moments of value*100; the
  fourth-power sum is decomposed into three int64 sums each below 2^53
  (DuckDB's int128→double conversion is not correctly rounded past
  2^63 — measured), reassembled with identical double arithmetic;
- ``similarity_recall_eval`` — recall@k of the LSH ANN path against the
  brute-force exact top-k: the evaluation loop every ANN deployment
  needs, expressed as a join of two deterministic top-k sets;
- ``dedup_cluster_stats`` — near-dup component-size distribution, the
  curation dashboard over dedup_survivors' connected components.

Exactness rules as in catalog10 (decimal moments, mirrored double
expression shapes, fixed-order folds, scale-0 exports).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from clickhouse_provider_spark.operators import dedup, similarity
from clickhouse_provider_spark.plans.catalog import as_double, dec, register
from clickhouse_provider_spark.plans.llm_catalog import (
    SQL_SHINGLES,
    _cos_sql,
    _minhash_cols_sql,
)


@register(
    "ks_test_2samp",
    oracle="""
    WITH s AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('click', 'view')
    ), tot AS (
      SELECT count(*) FILTER (event_type = 'click') AS nx,
             count(*) FILTER (event_type = 'view') AS ny
      FROM s
    ), c AS (
      SELECT value,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               OVER (ORDER BY value) AS cx,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER (ORDER BY value) AS cy
      FROM s
    ), gaps AS (
      SELECT value,
             abs(CAST(cx AS DOUBLE) / nullif(nx, 0)
                 - CAST(cy AS DOUBLE) / nullif(ny, 0)) AS gap
      FROM c, tot
    )
    SELECT max(nx) AS nx, max(ny) AS ny, max(gap) AS d_stat,
           min(CASE WHEN gap = mx THEN value END) AS d_location
    FROM (SELECT *, max(gap) OVER () AS mx FROM gaps), tot
    """,
    doc="ClickHouse kolmogorovSmirnovTest analog ('click' vs 'view' "
    "values): two-sample KS D statistic + the smallest value where the "
    "ECDF gap peaks. The default peers-inclusive RANGE frame makes both "
    "cumulative counts well-defined at tied values on both engines, each "
    "gap is an identical-operand double expression, and D is a MAX (not "
    "a sum) — order-free, so the statistic is cross-engine exact. The "
    "p-value needs the KS distribution series — documented out of "
    "exact-arithmetic scope. Scale: the raw rows pay one combiner "
    "groupBy; both ECDF running counts then go through the two-level "
    "bucketed prefix sum (operators/ranking.bucketed_cumsum, one shared "
    "pass) so NO stage serializes the distinct-value relation into one "
    "task — distinct doubles grow with data, so the old single global "
    "window was a 100x scale-killer; the arg-max value is a struct-max "
    "fold, not a second global window.",
    tags=("analytics", "stats", "tests"),
)
def q_ks_test_2samp(spark, t):
    from clickhouse_provider_spark.operators.ranking import bucketed_cumsum

    s = t["events"].filter(F.col("event_type").isin("click", "view"))
    tot = s.agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", F.lit(1))), F.lit(0)
        ).alias("nx"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "view", F.lit(1))), F.lit(0)
        ).alias("ny"),
    )
    # value-collapse before the cumulative pass (operators/ranking.py
    # rationale): the ECDF gap is a function of per-DISTINCT-value counts,
    # so the raw rows pay one combiner groupBy and the prefix sums run
    # over |distinct values| rows — the raw relation is never sorted
    g = s.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "dx"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "dy"
        ),
    )
    # both running counts in ONE bucketed two-level prefix sum: coarse
    # value-range buckets keep every stage parallel (offsets = |buckets|
    # rows, broadcast-bounded per the operator contract); integer sums,
    # so cx/cy are bit-identical to the single-window formulation
    c = bucketed_cumsum(
        g,
        "value",
        ["dx", "dy"],
        bucket=F.floor(F.col("value") / F.lit(16.0)),
        out_col=["cx", "cy"],
    )
    gaps = c.crossJoin(F.broadcast(tot)).select(
        "value",
        "nx",
        "ny",
        F.abs(
            F.col("cx").cast("double") / F.nullif(F.col("nx"), F.lit(0))
            - F.col("cy").cast("double") / F.nullif(F.col("ny"), F.lit(0))
        ).alias("gap"),
    )
    # d_location = smallest value at the peak gap: max over
    # struct(gap, -value) picks max gap then (via the negation) the MIN
    # value among ties — one ordinary aggregate instead of a global
    # max-window + equality re-scan (the gap set is identical doubles on
    # both engines, so the argmax tie-break is exact). Rows with NULL gap
    # (an empty sample makes every gap NULL) must not elect a location:
    # struct-max would otherwise rank on the -value field alone, where
    # the oracle's "value WHERE gap = mx" stays NULL.
    best = F.max(
        F.when(
            F.col("gap").isNotNull(),
            F.struct(F.col("gap").alias("g"), (-F.col("value")).alias("nv")),
        )
    )
    return gaps.agg(
        F.max("nx").alias("nx"),
        F.max("ny").alias("ny"),
        F.max("gap").alias("d_stat"),
        best.alias("_best"),
    ).select("nx", "ny", "d_stat", (-F.col("_best.nv")).alias("d_location"))


@register(
    "anova_f",
    oracle="""
    WITH g AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(value AS DECIMAL(12,2))) AS sdec,
             sum(CAST(CAST(value AS DECIMAL(12,2))
                      * CAST(value AS DECIMAL(12,2)) AS DECIMAL(24,4))) AS ssdec
      FROM events GROUP BY event_type
    ), m AS (
      SELECT count(*) AS k,
             CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(sdec) AS DOUBLE) AS s_all,
             CAST(sum(ssdec) AS DOUBLE) AS ss_all,
             list_reduce(
               list(CAST(sdec AS DOUBLE) * CAST(sdec AS DOUBLE) / n
                    ORDER BY event_type),
               (a, b) -> a + b) AS sb_fold
      FROM g
    )
    SELECT k, n_total,
           ((sb_fold - s_all * s_all / n_total) / nullif(k - 1.0, 0.0))
             / nullif((ss_all - sb_fold)
                      / nullif(n_total - CAST(k AS DOUBLE), 0.0), 0.0)
             AS f_stat,
           k - 1 AS df_between,
           n_total - k AS df_within
    FROM m
    """,
    doc="ClickHouse analysisOfVariance (one-way ANOVA F) analog across "
    "all event_type groups on value: F = (SSB/(k-1)) / (SSW/(N-k)) with "
    "SSB = sum_j(S_j^2/n_j) - S^2/N and SSW = SS_total - SSB. Group and "
    "grand moments are exact decimals (decimal sums of decimal sums stay "
    "exact); the only order-sensitive float sum — the k between-group "
    "terms — folds in fixed event_type order on both engines. Scale: one "
    "combiner-friendly group agg, then a k-row fold.",
    tags=("analytics", "stats", "tests"),
)
def q_anova_f(spark, t):
    v = dec(F.col("value"))
    g = t["events"].groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("sdec"),
        F.sum((v * v).cast(T.DecimalType(24, 4))).alias("ssdec"),
    )
    m = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        as_double(F.sum("sdec")).alias("s_all"),
        as_double(F.sum("ssdec")).alias("ss_all"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "event_type",
                            (
                                as_double(F.col("sdec"))
                                * as_double(F.col("sdec"))
                                / F.col("n")
                            ).alias("term"),
                        )
                    )
                ),
                lambda x: x["term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("sb_fold"),
    )
    k, n = F.col("k"), F.col("n_total")
    ssb = F.col("sb_fold") - F.col("s_all") * F.col("s_all") / n
    ssw = F.col("ss_all") - F.col("sb_fold")
    return m.select(
        "k",
        "n_total",
        (
            (ssb / F.nullif(k - F.lit(1.0), F.lit(0.0)))
            / F.nullif(
                ssw / F.nullif(n - k.cast("double"), F.lit(0.0)), F.lit(0.0)
            )
        ).alias("f_stat"),
        (k - F.lit(1)).alias("df_between"),
        (n - k).alias("df_within"),
    )


@register(
    "skew_kurtosis",
    oracle="""
    WITH u AS (
      SELECT event_type,
             CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(12,0))
                  AS BIGINT) AS u
      FROM events
    ), p AS (
      SELECT event_type, u, u * u AS u2 FROM u
    ), q AS (
      SELECT event_type, u, u2, u2 // 1024 AS a, u2 % 1024 AS b FROM p
    ), m AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(u) AS DOUBLE) AS s1,
             CAST(sum(u2) AS DOUBLE) AS s2,
             CAST(sum(CAST(CAST(u2 AS DECIMAL(19,0)) * u AS DECIMAL(31,0)))
                  AS DOUBLE) AS s3,
             CAST(sum(a * a) AS DOUBLE) * 1048576.0
               + CAST(sum(a * b) AS DOUBLE) * 2048.0
               + CAST(sum(b * b) AS DOUBLE) AS s4
      FROM q GROUP BY event_type
    )
    SELECT event_type, n,
           (s3 / n - 3.0 * (s1 / n) * (s2 / n)
              + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
             / nullif((s2 / n - (s1 / n) * (s1 / n))
                * sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)), 0.0)
             AS skew_pop,
           (s4 / n - 4.0 * (s1 / n) * (s3 / n)
              + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / nullif((s2 / n - (s1 / n) * (s1 / n))
                * (s2 / n - (s1 / n) * (s1 / n)), 0.0) AS kurt_pop
    FROM m
    """,
    doc="ClickHouse skewPop + kurtPop analog per event_type. Moments run "
    "on u = value*100 (exact 2dp integerization). The fourth-power sum "
    "is the interesting one: sum(u^4) can exceed 2^63, where DuckDB's "
    "int128->double conversion is NOT correctly rounded (measured: off "
    "by 1 ulp vs Spark's BigDecimal single rounding). So u^4 is "
    "decomposed in the LONG domain — u^2 = a*2^10 + b gives "
    "u^4 = (a^2)*2^20 + (a*b)*2^11 + b^2, and the three component sums "
    "each stay below 2^53 (exact int64 sums, exact exports); s4 is then "
    "reassembled with identical double arithmetic on both engines. "
    "Skewness/kurtosis are scale-invariant so the *100 cancels; "
    "kurt_pop is raw mu4/sigma^4 (not excess), matching ClickHouse; "
    "sigma^3 composes as sigma^2*sqrt(sigma^2) since pow(x,1.5) is "
    "libm-unstable. Scale: one combiner-friendly 6-sum aggregation; "
    "component sums stay exact through ~sf0.1 — beyond that, widen to "
    "scale-0 decimals and re-split.",
    tags=("analytics", "stats"),
)
def q_skew_kurtosis(spark, t):
    u = (
        (dec(F.col("value")) * F.lit(100))
        .cast(T.DecimalType(12, 0))
        .cast("long")
    )
    p = t["events"].select("event_type", u.alias("u")).withColumn(
        "u2", F.col("u") * F.col("u")
    )
    # Spark DIV truncates, DuckDB // floors — identical on the
    # non-negative u2
    q = p.withColumn("a", F.expr("u2 DIV 1024")).withColumn(
        "b", F.col("u2") % 1024
    )
    m = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        as_double(F.sum("u")).alias("s1"),
        as_double(F.sum("u2")).alias("s2"),
        as_double(
            F.sum(
                (F.col("u2").cast(T.DecimalType(19, 0)) * F.col("u")).cast(
                    T.DecimalType(31, 0)
                )
            )
        ).alias("s3"),
        (
            as_double(F.sum(F.col("a") * F.col("a"))) * F.lit(1048576.0)
            + as_double(F.sum(F.col("a") * F.col("b"))) * F.lit(2048.0)
            + as_double(F.sum(F.col("b") * F.col("b")))
        ).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") / n
    m2 = F.col("s2") / n
    m3 = F.col("s3") / n
    m4 = F.col("s4") / n
    var = m2 - m1 * m1
    skew = (m3 - F.lit(3.0) * m1 * m2 + F.lit(2.0) * m1 * m1 * m1) / F.nullif(
        var * F.sqrt(F.greatest(var, F.lit(0.0))), F.lit(0.0)
    )
    kurt = (
        m4
        - F.lit(4.0) * m1 * m3
        + F.lit(6.0) * m1 * m1 * m2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    ) / F.nullif(var * var, F.lit(0.0))
    return m.select(
        "event_type", "n", skew.alias("skew_pop"), kurt.alias("kurt_pop")
    )


@register(
    "similarity_recall_eval",
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
                           THEN power(2, p.p) ELSE 0 END) AS BIGINT) AS b
      FROM v CROSS JOIN planes p GROUP BY v.vec_id
    ),
    q AS (SELECT e AS qv, b AS qb FROM sigs WHERE vec_id = 0),
    brute AS (
      SELECT v.vec_id FROM v, q WHERE v.vec_id <> 0
      ORDER BY {_cos_sql('v.e', 'q.qv')} DESC, v.vec_id LIMIT 10
    ),
    ann AS (
      SELECT s.vec_id FROM sigs s, q WHERE s.vec_id <> 0 AND s.b = q.qb
      ORDER BY {_cos_sql('s.e', 'q.qv')} DESC, s.vec_id LIMIT 10
    )
    SELECT 10 AS k,
           (SELECT count(*) FROM brute JOIN ann USING (vec_id)) AS n_hits,
           (SELECT count(*) FROM brute JOIN ann USING (vec_id)) / 10.0
             AS recall_at_k
    """,
    doc="ANN evaluation harness: recall@10 of the deterministic LSH path "
    "(similarity_ann_lsh) against the brute-force exact top-10 "
    "(similarity_topk) for the same query — the measurement loop every "
    "ANN deployment runs before trading recall for speed. Both top-k "
    "sets are fully deterministic (shared md5 planes, left-fold "
    "cosines, (score, id) tie order), so the overlap count is exact. "
    "Scale: the brute side is the one full scan; the eval is usually "
    "run over a query SAMPLE — swap the single query for a broadcast "
    "query set, the plan shape is unchanged.",
    tags=("llm", "similarity", "eval"),
)
def q_similarity_recall_eval(spark, t):
    emb = t["embeddings"]
    brute = similarity.cosine_topk(emb, query_vec_id=0, k=10).select("vec_id")
    ann = similarity.lsh_bucket_topk(emb, query_vec_id=0, k=10, dim=64).select(
        "vec_id"
    )
    hits = brute.join(ann, "vec_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return hits.select(
        F.lit(10).alias("k"),
        "n_hits",
        (F.col("n_hits") / F.lit(10.0)).alias("recall_at_k"),
    )


@register(
    "dedup_cluster_stats",
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
    hubs AS (
      SELECT band_id, band_hash, min(doc_id) AS hub
      FROM bands GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    cand AS (
      SELECT DISTINCT h.hub AS doc_a, b.doc_id AS doc_b
      FROM bands b JOIN hubs h USING (band_id, band_hash)
      WHERE b.doc_id <> h.hub
    ),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN cand ON a.doc_id = cand.doc_a
      JOIN sh b ON b.doc_id = cand.doc_b AND a.shingle = b.shingle
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
    ),
    labeled AS (
      SELECT d.doc_id, coalesce(comp.component_id, d.doc_id) AS comp_id
      FROM documents d LEFT JOIN comp USING (doc_id)
    ),
    clusters AS (
      SELECT comp_id, count(*) AS cluster_size FROM labeled GROUP BY comp_id
    )
    SELECT cluster_size, count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM clusters GROUP BY cluster_size
    """.replace("WITH d AS", "WITH RECURSIVE d AS", 1),
    doc="Curation dashboard over the near-dup graph: the component-size "
    "distribution of LSH near-dup connected components (singletons "
    "included) — how much of the corpus sits in duplicate clusters and "
    "how large they run, the first summary any dedup rollout reports. "
    "Edges come from the SCALE PATH, r10 form: MinHash→LSH band buckets "
    "→ HUB (star) edges to each bucket's min doc_id "
    "(operators/dedup.py:lsh_hub_edges) → candidate-first exact-Jaccard "
    "verification ≥ 0.1 → CC. A size-m bucket costs m−1 edges, not m²/2 "
    "pairs — giant boilerplate clusters, the 100 TB dedup regime, stay "
    "linear (the r9 pair-join plan went 3.55× for 2× data at the 32× "
    "probe; VERDICT r9 #1). Oracle mirrors the hub construction verbatim "
    "and recomputes the identical closure with a recursive CTE. "
    "SEMANTICS / RECALL (stated per ADVICE r10): the stat is 'clusters "
    "recalled by b=4,r=2 banding, hub-verified at Jaccard ≥ 0.1', NOT "
    "the all-pairs ≥ 0.1 closure. Two recall losses are inherent: "
    "(a) banding — near the 0.1 threshold the collision probability is "
    "1−(1−s²)⁴ ≈ 4%, rising through the S-curve midpoint ≈ 0.35 to "
    "~99.9% at s=0.9, so threshold-grazing pairs are mostly unseen (true "
    "of any LSH formulation, including the r9 pair plan); (b) hub edges "
    "— a bucket whose hub fails verification against a member drops that "
    "edge where the all-pairs clique might keep a member–member edge. "
    "For pairwise-similar clusters (every pair ≥ 0.1 — what the banding "
    "is tuned to catch, and all exact-duplicate clusters) hub components "
    "EQUAL pair components (pinned by test_hub_edges_components_match_"
    "pairs). Scale: hub build is one shuffle of the band relation, "
    "verification O(|edges|·shingles/doc), then the CC fixpoint and two "
    "count shuffles; cluster ids are min-doc-id labels, stable across "
    "reruns.",
    tags=("llm", "dedup", "scale-path"),
)
def q_dedup_cluster_stats(spark, t):
    docs = t["documents"]
    cand = dedup.lsh_hub_edges(dedup.minhash_signatures(docs), distinct=False)
    pairs = dedup.jaccard_pairs(docs, pairs=cand, threshold=0.1).select(
        "doc_a", "doc_b"
    )
    labeled = dedup.dedup_survivors(docs, pairs, oriented_distinct=True).select(
        "doc_id", F.col("survivor_doc_id").alias("comp_id")
    )
    clusters = labeled.groupBy("comp_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
    )


@register(
    "dedup_survivors_lsh",
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
    hubs AS (
      SELECT band_id, band_hash, min(doc_id) AS hub
      FROM bands GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    cand AS (
      SELECT DISTINCT h.hub AS doc_a, b.doc_id AS doc_b
      FROM bands b JOIN hubs h USING (band_id, band_hash)
      WHERE b.doc_id <> h.hub
    ),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN cand ON a.doc_id = cand.doc_a
      JOIN sh b ON b.doc_id = cand.doc_b AND a.shingle = b.shingle
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
    doc="The dedup END DECISION in its SCALE form: MinHash→LSH hub edges "
    "(O(m) per band bucket, operators/dedup.py:lsh_hub_edges) → "
    "candidate-first Jaccard ≥ 0.1 → min-label CC → min-doc_id survivor "
    "per cluster. Complements dedup_survivors, which keeps the exact "
    "all-shared-shingle closure as the oracle-checkable recall baseline "
    "— at 100 TB THIS is the plan a curation rollout runs (the baseline "
    "pair space explodes on hot shingles), and operators/dedup"
    ".components_delta maintains these labels incrementally, batch over "
    "batch (dedup_delta_labels). Same banding/hub recall semantics "
    "as dedup_cluster_stats (stated there); oracle mirrors the hub "
    "construction and recomputes the closure with a recursive CTE.",
    tags=("llm", "dedup", "scale-path"),
)
def q_dedup_survivors_lsh(spark, t):
    docs = t["documents"]
    cand = dedup.lsh_hub_edges(dedup.minhash_signatures(docs), distinct=False)
    pairs = dedup.jaccard_pairs(docs, pairs=cand, threshold=0.1).select(
        "doc_a", "doc_b"
    )
    return dedup.dedup_survivors(docs, pairs, oriented_distinct=True)


@register(
    "association_measures",
    oracle="""
    WITH cells AS (
      SELECT l_returnflag AS f, l_linestatus AS s, count(*) AS o
      FROM lineitem GROUP BY 1, 2
    ), tot AS (
      SELECT f, s, o,
             sum(o) OVER (PARTITION BY f) AS r,
             sum(o) OVER (PARTITION BY s) AS c,
             sum(o) OVER () AS n
      FROM cells
    ), terms AS (
      SELECT f, s, n,
             (CAST(o AS DOUBLE) - (r * c) / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE) - (r * c) / CAST(n AS DOUBLE))
               / ((r * c) / CAST(n AS DOUBLE)) AS term
      FROM tot
    ), folded AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             count(DISTINCT f) AS k, count(DISTINCT s) AS m,
             list_reduce(list(term ORDER BY f, s), (a, b) -> a + b) AS chi2
      FROM terms
    )
    SELECT n, k, m,
           sqrt(greatest(chi2 / n - (k - 1.0) * (m - 1.0)
                           / nullif(n - 1.0, 0.0), 0.0)
                / greatest(least(k - (CAST(k AS DOUBLE) - 1.0)
                                   * (k - 1.0) / nullif(n - 1.0, 0.0),
                                 m - (CAST(m AS DOUBLE) - 1.0)
                                   * (m - 1.0) / nullif(n - 1.0, 0.0)) - 1.0,
                           1.0))
             AS cramers_v_bias_corrected,
           sqrt(chi2 / (chi2 + n)) AS contingency_coeff
    FROM folded
    """,
    doc="ClickHouse cramersVBiasCorrected + contingencyCoefficient "
    "(Pearson's C) analog over the same returnflag x linestatus table as "
    "cramers_v: the Bergsma bias correction (phi2 - (k-1)(m-1)/(n-1), "
    "floored at 0, over the corrected min(k~, m~) - 1) and "
    "C = sqrt(chi2/(chi2+n)). Same fixed-order chi-square fold as "
    "cramers_v; every subsequent op is identical-operand double "
    "arithmetic + IEEE sqrt. Scale: k*m cells after one count shuffle.",
    tags=("analytics", "stats", "tests"),
)
def q_association_measures(spark, t):
    cells = (
        t["lineitem"]
        .groupBy(F.col("l_returnflag").alias("f"), F.col("l_linestatus").alias("s"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    # grand total via agg + broadcast, not sum() OVER () — the global
    # window compiles to a single-partition WindowExec even over the
    # bounded cells relation (tests/test_plan_audit.py flags it)
    grand = cells.agg(F.sum("o").alias("n"))
    tot = cells.select(
        "f",
        "s",
        "o",
        F.sum("o").over(W.partitionBy("f")).alias("r"),
        F.sum("o").over(W.partitionBy("s")).alias("c"),
    ).crossJoin(F.broadcast(grand))
    e = (F.col("r") * F.col("c")) / F.col("n").cast("double")
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    terms = tot.select("f", "s", "n", term.alias("term"))
    folded = terms.agg(
        F.max("n").alias("n"),
        F.countDistinct("f").alias("k"),
        F.countDistinct("s").alias("m"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("f", "s", "term"))),
                lambda x: x["term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("chi2"),
    )
    n, k, m, chi2 = F.col("n"), F.col("k"), F.col("m"), F.col("chi2")
    nm1 = F.nullif(n - F.lit(1.0), F.lit(0.0))
    phi2_corr = F.greatest(
        chi2 / n - (k - F.lit(1.0)) * (m - F.lit(1.0)) / nm1,
        F.lit(0.0),
    )
    k_corr = k - (k.cast("double") - F.lit(1.0)) * (k - F.lit(1.0)) / nm1
    m_corr = m - (m.cast("double") - F.lit(1.0)) * (m - F.lit(1.0)) / nm1
    denom = F.greatest(F.least(k_corr, m_corr) - F.lit(1.0), F.lit(1.0))
    return folded.select(
        "n",
        "k",
        "m",
        F.sqrt(phi2_corr / denom).alias("cramers_v_bias_corrected"),
        F.sqrt(chi2 / (chi2 + n)).alias("contingency_coeff"),
    )


_SPARK_BLOCKS = ["▁", "▂", "▃", "▄", "▅", "▆", "▇", "█"]


@register(
    "sparkbar_render",
    oracle="""
    WITH d AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), mx AS (
      SELECT event_type, day_idx, cnt,
             max(cnt) OVER (PARTITION BY event_type) AS mc
      FROM d
    )
    SELECT event_type,
           count(*) AS n_days,
           CAST(max(mc) AS BIGINT) AS max_daily,
           string_agg(
             (['▁','▂','▃','▄','▅','▆','▇','█'])[CAST(cnt * 7 // mc AS INT) + 1],
             '' ORDER BY day_idx) AS sparkline
    FROM mx GROUP BY event_type
    """,
    doc="ClickHouse sparkbar analog: per series, the daily event counts "
    "rendered as an 8-level unicode block string in day order — the "
    "terminal/dashboard sparkline next to histogram_adaptive and "
    "lttb_downsample. Level = cnt*7 // max (pure integer arithmetic), "
    "glyph picked from a shared literal array, concatenated in day "
    "order on both engines. Scale: |series|x|days| rows after the count "
    "shuffle; the string build is a per-group ordered fold over days.",
    tags=("analytics", "timeseries", "serving"),
)
def q_sparkbar_render(spark, t):
    d = (
        t["events"]
        .withColumn("ts_us", F.expr("ts DIV 1000"))
        .groupBy(
            "event_type",
            F.floor(F.col("ts_us") / F.lit(86_400_000_000)).alias("day_idx"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    mx = d.withColumn("mc", F.max("cnt").over(W.partitionBy("event_type")))
    glyphs = F.array(*[F.lit(c) for c in _SPARK_BLOCKS])
    # integer floor division on both engines (Spark DIV == DuckDB // for
    # the non-negative counts) — no float in the glyph selection
    level = F.expr("(cnt * 7) DIV mc")
    mx = mx.withColumn("glyph", F.element_at(glyphs, (level + F.lit(1)).cast("int")))
    return mx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("mc").alias("max_daily"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day_idx", "glyph"))),
                lambda x: x["glyph"],
            ),
            "",
        ).alias("sparkline"),
    )
