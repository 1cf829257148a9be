"""Degenerate-input cross-engine parity for batch 13 (and the cosine
family it shares helpers with).

Real 100 TB corpora contain empty documents, sub-trigram-length strings,
zero embeddings (an empty doc embeds to the zero vector), single-event
series, and absent categories. Two crash classes hide there: Spark 4's
ANSI mode throws DIVIDE_BY_ZERO where DuckDB returns inf/NULL, and
negative `length(s) - 2` gram counts silently flip division signs. Every
batch-13 entry must yield IDENTICAL rows on both engines for this
fixture — NULL statistics, never crashes. The zero-vector row also pins
the shared cosine guard (operators/similarity.cosine_sql and the oracles'
``_cos_sql`` both nullif the zero-norm denominator, so a zero vector is
NULL-similarity, sorted last, on both engines)."""

import pytest

from clickhouse_provider_spark.plans import CATALOG
from tools.parity import compare

ENTRIES = [
    "url_functions",
    "ipv4_functions",
    "string_search_multi",
    "ngram_string_distance",
    "bitmap_set_ops",
    "retention_aggregate",
    "geohash_encode",
    "date_time_functions",
    "neighbor_diffs",
    "group_array_sorted",
    "quality_logistic_score",
    "knn_label_accuracy",
    # cosine-helper users beyond batch 13: the zero vector must flow
    # through their top-k as NULL-sim on both engines, not crash
    "similarity_topk",
]


@pytest.fixture(scope="module")
def degenerate13(spark, tmp_path_factory):
    import duckdb

    d = tmp_path_factory.mktemp("degenerate13")
    ev = spark.createDataFrame(
        [
            (0, 1_000_000_000, 7, "solo", 5.25),  # single-event series
            (1, 2_000_000_000, 8, "pair", 3.00),  # tied ts + constant value
            (2, 2_000_000_000, 9, "pair", 3.00),
            (3, 3_000_000_000, 9, "click", 1.00),  # other types absent
        ],
        "event_id long, ts long, user_id long, event_type string, value double",
    )
    docs = spark.createDataFrame(
        [
            (1, "", "en", "web", 0),  # empty text
            (2, "   \n\t ", "en", "web", 6),  # whitespace only
            (3, "a", "xx", "crawl", 1),  # single char
            (4, "the the the", "en", "crawl", 11),  # stopwords only
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    part = spark.createDataFrame(
        [
            (1, "", "Brand#1", "t", 1, 1.0),  # empty name: zero grams
            (2, "ab", "Brand#2", "t", 1, 1.0),  # sub-trigram length
            (3, "abc", "Brand#2", "t", 1, 1.0),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0], 1),  # ZERO vector — and vec_id%20==0 query
            (20, [1.0, 2.0], 1),
            (3, [3.0, 4.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    tables = {}
    for name, df in (
        ("events", ev),
        ("documents", docs),
        ("part", part),
        ("embeddings", emb),
    ):
        df.coalesce(1).write.parquet(str(d / f"{name}.parquet"))
        tables[name] = spark.read.parquet(str(d / f"{name}.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT event_id,"
        " make_timestamp(ts // 1000) AS ts, user_id, event_type, value"
        f" FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    for name in ("documents", "part", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT *"
            f" FROM read_parquet('{d}/{name}.parquet/*.parquet')"
        )
    return tables, con


@pytest.mark.parametrize("name", ENTRIES)
def test_degenerate_inputs_stay_cross_engine_consistent(
    name, spark, degenerate13
):
    tables, con = degenerate13
    spec = CATALOG[name]
    sdf = spec.build(spark, tables).toPandas()  # must not raise (ANSI-safe)
    odf = con.execute(spec.oracle).df()  # must not raise
    assert not compare(sdf, odf)
