"""Degenerate-input cross-engine parity for the similarity / embedding
family on a REAL-dimension (64) fixture — the 2-dim fixture in
test_catalog13_degenerate can't drive these entries because their
oracles hardcode the embedding-dimension contract (md5 hyperplanes,
IVF centroids).

The fixture carries the zero vector (what an empty document embeds to)
through every cosine path — brute-force top-k, banded hyperplane LSH,
IVF probes, quantized k-means, the recall@k eval, and the 5-NN label
eval — plus an exact-duplicate vector pair (cosine exactly 1.0, tie
order) and a corpus far below every trained structure's intended size.
All must yield identical rows cross-engine (the zero vector is
NULL-similarity on both, sorted last), never crash. similarity_pq_topk
is pinned separately: its documented completeness assert must REFUSE a
corpus too small to train full codebooks rather than silently decode
absent codes as zero vectors."""

import pytest

from clickhouse_provider_spark.plans import CATALOG
from tools.parity import compare

ENTRIES = [
    "similarity_topk",
    "similarity_ann_lsh",
    "similarity_ivf_topk",
    "similarity_recall_eval",
    "dedup_embedding_pairs",
    "embedding_norms",
    "embedding_quantize_int8",
    "array_lambda_ops",
    "semantic_cluster_kmeans",
    "cluster_balanced_selection",
    "knn_label_accuracy",
]


def _vec(seed):
    if seed is None:
        return [0.0] * 64  # the zero vector
    return [float(((seed * 31 + i * 7) % 13) - 6) for i in range(64)]


@pytest.fixture(scope="module")
def degenerate_emb(spark, tmp_path_factory):
    import duckdb

    d = tmp_path_factory.mktemp("degenerate_emb")
    emb = spark.createDataFrame(
        [
            (0, _vec(None), 1),  # zero vector; vec_id%20==0 -> also a query
            (20, _vec(2), 1),  # query vector
            (3, _vec(3), 2),
            (4, _vec(4), 2),
            (5, _vec(2), 1),  # exact duplicate of vec 20 (cosine 1.0)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    docs = spark.createDataFrame(
        [(1, "", "en", "web", 0), (2, "a b a b", "en", "crawl", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tables = {}
    con = duckdb.connect()
    for name, df in (("embeddings", emb), ("documents", docs)):
        df.coalesce(1).write.parquet(str(d / f"{name}.parquet"))
        tables[name] = spark.read.parquet(str(d / f"{name}.parquet"))
        con.execute(
            f"CREATE VIEW {name} AS SELECT *"
            f" FROM read_parquet('{d}/{name}.parquet/*.parquet')"
        )
    return tables, con


@pytest.mark.parametrize("name", ENTRIES)
def test_degenerate_inputs_stay_cross_engine_consistent(
    name, spark, degenerate_emb
):
    tables, con = degenerate_emb
    spec = CATALOG[name]
    sdf = spec.build(spark, tables).toPandas()
    odf = con.execute(spec.oracle).df()
    assert not compare(sdf, odf)


def test_pq_refuses_partial_codebooks(spark, degenerate_emb):
    tables, _ = degenerate_emb
    with pytest.raises(ValueError, match="codebooks must have exactly"):
        CATALOG["similarity_pq_topk"].build(spark, tables).collect()


def test_query_vector_literal_matches_column_form(spark):
    """Python query vectors reach the vector builders as SQL double-array
    literals. Every double must round-trip bit for bit (the sign of zero,
    NaN and ±infinity included), and cosine/dot over them must give the
    values of the equivalent Column-API tree: F.lit doubles under the
    same zip_with/aggregate fold."""
    import struct

    from pyspark.sql import functions as F

    from clickhouse_provider_spark.operators.similarity import (
        cosine_expr,
        dot_expr,
        double_array_sql,
    )

    def bits(xs):
        return [None if x is None else struct.pack(">d", x) for x in xs]

    q = [0.1, -0.0, float("nan"), float("inf"), float("-inf"), 5e-324,
         1.7976931348623157e308, 1 / 3]
    got = spark.sql(f"SELECT {double_array_sql(q)} AS a").collect()[0]["a"]
    assert bits(got) == bits(q)

    def col_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def col_cos(a, b):
        return col_dot(a, b) / F.nullif(
            F.sqrt(col_dot(a, a)) * F.sqrt(col_dot(b, b)), F.lit(0.0)
        )

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [0.0, 0.0, 0.0]), (3, [-1.0, 0.5, 0.0])],
        "vec_id int, e array<double>",
    )
    for qv in ([0.1, -0.0, float("nan")], [0.1, -0.0, 0.25]):
        qc = F.array(*[F.lit(x) for x in qv])
        qs = double_array_sql(qv)
        want = emb.select(
            "vec_id", col_cos(F.col("e"), qc).alias("c"), col_dot(F.col("e"), qc).alias("d")
        ).orderBy("vec_id").collect()
        got = emb.select(
            "vec_id", cosine_expr("e", qs).alias("c"), dot_expr("e", qs).alias("d")
        ).orderBy("vec_id").collect()
        for col in ("c", "d"):
            assert bits([r[col] for r in got]) == bits([r[col] for r in want]), (qv, col)
