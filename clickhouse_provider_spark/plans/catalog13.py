"""Round-8 batch 13: ClickHouse scalar-function families + two LLM evals.

The reference delegates its analytic surface to ClickHouse, whose users
lean on large scalar-function families that Spark expresses with
different built-ins. Each entry here exercises one family end-to-end
(derive → transform → aggregate) with an exact DuckDB oracle:

- ``url_functions`` — the URL family (protocol / domain / topLevelDomain /
  path / queryString / extractURLParameter) via Spark's JVM ``parse_url``;
- ``ipv4_functions`` — IPv4NumToString / IPv4StringToNum round trip +
  /24 CIDR grouping, pure integer arithmetic;
- ``string_search_multi`` — multiSearchAny / multiSearchFirstIndex /
  countSubstrings / position over document text;
- ``ngram_string_distance`` — ngramDistance-style trigram multiset
  similarity between strings (exact integer intersection counts);
- ``bitmap_set_ops`` — groupBitmapAnd/Or/Xor cardinalities between the
  per-event-type user-id sets;
- ``retention_aggregate`` — the retention() aggregate proper (first
  condition gates the rest), unlike retention_cohorts' join shape;
- ``geohash_encode`` — geohashEncode via integer bit interleaving
  (exact: no float division anywhere);
- ``date_time_functions`` — toStartOfFifteenMinutes / toISOWeek /
  toMonday / toYYYYMM / age-style datediff;
- ``neighbor_diffs`` — neighbor()/runningDifference/runningAccumulate as
  per-key lag windows in integer micro-units;
- ``group_array_sorted`` — groupArraySorted(N) + arrayEnumerateUniq
  (occurrence numbering), CSV-serialized per the top-level-container ban;
- ``quality_logistic_score`` — LLM: a fixed-weight linear quality
  classifier evaluated wholly in scaled-integer space (monotone sigmoid
  ⇒ integer score ranks = probability ranks, no libm anywhere);
- ``knn_label_accuracy`` — LLM: leave-one-out kNN label-prediction
  accuracy over the embeddings table (the eval harness for the
  similarity_* retrieval entries).

Exactness rules as catalog10-12: integer/decimal arithmetic end-to-end,
single final double division of identical integers, mirrored expression
shapes, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from clickhouse_provider_spark.operators import similarity, text
from clickhouse_provider_spark.plans.catalog import register
from clickhouse_provider_spark.plans.llm_catalog import _cos_sql

# --------------------------------------------------------------------------
# url_functions
# --------------------------------------------------------------------------

# deterministic URL derivation shared by both engines (documents table)
_TLD_CASE_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END"
)


@register(
    "url_functions",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, lang, source,
             {_TLD_CASE_SQL} AS tld,
             source || '.example.' || {_TLD_CASE_SQL} AS host,
             '/docs/' || lang || '/' || CAST(doc_id AS VARCHAR) AS path,
             doc_id % 7 AS page
      FROM documents
    )
    SELECT tld, count(*) AS n_docs,
           count(DISTINCT host) AS n_hosts,
           count(DISTINCT path) AS n_paths,
           CAST(sum(page) AS BIGINT) AS sum_page,
           min(host) AS min_host,
           count(*) AS n_https
    FROM u GROUP BY tld
    """,
    doc="ClickHouse URL-function family (protocol/domain/topLevelDomain/"
    "path/extractURLParameter — string_functions.rs-adjacent serving "
    "surface) over a deterministically derived URL column: Spark side "
    "parses real URLs with the JVM parse_url built-in (HOST/PATH/QUERY/"
    "PROTOCOL + keyed QUERY extraction) and re-derives the TLD with "
    "substring_index; the oracle constructs the identical components "
    "algebraically, so any parse_url deviation breaks the hash. Scale: "
    "map-only expressions + one combiner groupBy on a 3-value key.",
    tags=("analytics", "strings"),
)
def q_url_functions(spark, t):
    d = t["documents"]
    tld = F.expr(_TLD_CASE_SQL)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example."), tld,
        F.lit("/docs/"), F.col("lang"), F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?page="), (F.col("doc_id") % 7).cast("string"),
        F.lit("&lang="), F.col("lang"),
    )
    u = d.select("doc_id", url.alias("url"))
    parsed = u.select(
        F.expr("parse_url(url, 'PROTOCOL')").alias("proto"),
        F.expr("parse_url(url, 'HOST')").alias("host"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("parse_url(url, 'QUERY', 'page')").cast("long").alias("page"),
        F.expr("substring_index(parse_url(url, 'HOST'), '.', -1)").alias("tld"),
    )
    return parsed.groupBy("tld").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.countDistinct("path").alias("n_paths"),
        F.sum("page").alias("sum_page"),
        F.min("host").alias("min_host"),
        F.count(F.when(F.col("proto") == "https", 1)).alias("n_https"),
    )


# --------------------------------------------------------------------------
# ipv4_functions
# --------------------------------------------------------------------------


@register(
    "ipv4_functions",
    oracle="""
    WITH ip AS (
      SELECT user_id, 167772160 + (user_id * 2654435761) % 16777216 AS ip_num FROM events
    ), s AS (
      SELECT user_id, ip_num,
             CAST(ip_num // 16777216 AS VARCHAR) || '.' ||
             CAST((ip_num // 65536) % 256 AS VARCHAR) || '.' ||
             CAST((ip_num // 256) % 256 AS VARCHAR) || '.' ||
             CAST(ip_num % 256 AS VARCHAR) AS ip_str,
             (ip_num // 256) * 256 AS subnet_num
      FROM ip
    ), rt AS (
      SELECT *,
             CAST(string_split(ip_str, '.')[1] AS BIGINT) * 16777216 +
             CAST(string_split(ip_str, '.')[2] AS BIGINT) * 65536 +
             CAST(string_split(ip_str, '.')[3] AS BIGINT) * 256 +
             CAST(string_split(ip_str, '.')[4] AS BIGINT) AS ip_roundtrip
      FROM s
    )
    SELECT CAST(subnet_num // 16777216 AS VARCHAR) || '.' ||
           CAST((subnet_num // 65536) % 256 AS VARCHAR) || '.' ||
           CAST((subnet_num // 256) % 256 AS VARCHAR) || '.0/24' AS subnet_cidr,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(min(ip_num) AS BIGINT) AS min_ip_num,
           CAST(sum(CASE WHEN ip_roundtrip = ip_num THEN 1 ELSE 0 END)
                AS BIGINT) AS n_roundtrip_ok
    FROM rt GROUP BY 1
    """,
    doc="ClickHouse IPv4 family (IPv4NumToString / IPv4StringToNum / "
    "CIDR grouping): a 10.0.0.0/8 address derived from user_id, rendered "
    "to dotted-quad with pure integer div/mod, parsed back (round-trip "
    "asserted in-query), grouped by /24 subnet. All-integer arithmetic — "
    "exact on any engine. Scale: map-only + one combiner groupBy.",
    tags=("analytics", "strings"),
)
def q_ipv4_functions(spark, t):
    e = t["events"].select(
        "user_id",
        (F.lit(167772160) + (F.col("user_id") * F.lit(2654435761)) % 16777216).alias("ip_num"),
    )
    s = e.select(
        "user_id",
        "ip_num",
        F.concat_ws(
            ".",
            F.expr("ip_num DIV 16777216"),
            F.expr("(ip_num DIV 65536) % 256"),
            F.expr("(ip_num DIV 256) % 256"),
            F.expr("ip_num % 256"),
        ).alias("ip_str"),
        F.expr("(ip_num DIV 256) * 256").alias("subnet_num"),
    )
    parts = F.split(F.col("ip_str"), r"\.")
    rt = s.withColumn(
        "ip_roundtrip",
        parts.getItem(0).cast("long") * 16777216
        + parts.getItem(1).cast("long") * 65536
        + parts.getItem(2).cast("long") * 256
        + parts.getItem(3).cast("long"),
    )
    subnet_cidr = F.concat(
        F.expr("CAST(subnet_num DIV 16777216 AS STRING)"), F.lit("."),
        F.expr("CAST((subnet_num DIV 65536) % 256 AS STRING)"), F.lit("."),
        F.expr("CAST((subnet_num DIV 256) % 256 AS STRING)"), F.lit(".0/24"),
    )
    return rt.groupBy(subnet_cidr.alias("subnet_cidr")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ip_num").alias("min_ip_num"),
        F.sum(F.when(F.col("ip_roundtrip") == F.col("ip_num"), 1).otherwise(0)).alias(
            "n_roundtrip_ok"
        ),
    )


# --------------------------------------------------------------------------
# string_search_multi
# --------------------------------------------------------------------------

_NEEDLES = ("spark", "hash", "join", "window")


def _search_oracle() -> str:
    pos = ", ".join(
        f"strpos(text, '{n}') AS p{i}" for i, n in enumerate(_NEEDLES, 1)
    )
    cnt = ", ".join(
        f"(length(text) - length(replace(text, '{n}', ''))) // {len(n)} AS c{i}"
        for i, n in enumerate(_NEEDLES, 1)
    )
    any_match = " OR ".join(f"p{i} > 0" for i in range(1, len(_NEEDLES) + 1))
    minpos = (
        "least("
        + ", ".join(
            f"CASE WHEN p{i} > 0 THEN p{i} ELSE 1000000000 END"
            for i in range(1, len(_NEEDLES) + 1)
        )
        + ")"
    )
    first_idx = "CASE " + " ".join(
        f"WHEN p{i} = mp THEN {i}" for i in range(1, len(_NEEDLES) + 1)
    ) + " ELSE 0 END"
    sums = ", ".join(
        f"CAST(sum(c{i}) AS BIGINT) AS count_{n}" for i, n in enumerate(_NEEDLES, 1)
    )
    return f"""
    WITH p AS (
      SELECT lang, text, {pos}, {cnt} FROM documents
    ), m AS (
      SELECT *, CASE WHEN {any_match} THEN {minpos} ELSE 0 END AS mp FROM p
    ), f AS (
      SELECT lang, mp, CASE WHEN mp > 0 THEN {first_idx} ELSE 0 END AS fidx,
             c1, c2, c3, c4
      FROM m
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN mp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
           {sums},
           CAST(sum(mp) AS BIGINT) AS sum_first_pos,
           CAST(sum(fidx) AS BIGINT) AS sum_first_index
    FROM f GROUP BY lang
    """


@register(
    "string_search_multi",
    oracle=_search_oracle(),
    doc="ClickHouse multi-search family over document text: position() per "
    "needle, countSubstrings() via length-difference division (exact — "
    "the difference is always a needle-length multiple), multiSearchAny, "
    "multiSearchFirstPosition (least positive position) and "
    "multiSearchFirstIndex (1-based needle index at that position; "
    "position ties → lowest index, matching the generated CASE order). "
    "All integer; one combiner groupBy on lang. Scale: map-only scan, "
    "JVM instr/replace — no Python, no shuffle of text.",
    tags=("analytics", "strings"),
)
def q_string_search_multi(spark, t):
    d = t["documents"]
    cols = [F.col("lang")]
    for i, n in enumerate(_NEEDLES, 1):
        cols.append(F.instr(F.col("text"), F.lit(n)).alias(f"p{i}"))
        cols.append(
            F.expr(
                f"(length(text) - length(replace(text, '{n}', ''))) DIV {len(n)}"
            ).alias(f"c{i}")
        )
    p = d.select(*cols)
    minpos = F.least(
        *[
            F.when(F.col(f"p{i}") > 0, F.col(f"p{i}")).otherwise(F.lit(1000000000))
            for i in range(1, len(_NEEDLES) + 1)
        ]
    )
    any_match = None
    for i in range(1, len(_NEEDLES) + 1):
        c = F.col(f"p{i}") > 0
        any_match = c if any_match is None else (any_match | c)
    m = p.withColumn("mp", F.when(any_match, minpos).otherwise(F.lit(0)))
    fidx = F.lit(0)
    for i in range(len(_NEEDLES), 0, -1):
        fidx = F.when(F.col(f"p{i}") == F.col("mp"), F.lit(i)).otherwise(fidx)
    f = m.withColumn("fidx", F.when(F.col("mp") > 0, fidx).otherwise(F.lit(0)))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("mp") > 0, 1).otherwise(0)).alias("n_any"),
    ]
    aggs += [
        F.sum(f"c{i}").alias(f"count_{n}") for i, n in enumerate(_NEEDLES, 1)
    ]
    aggs += [
        F.sum("mp").alias("sum_first_pos"),
        F.sum("fidx").alias("sum_first_index"),
    ]
    return f.groupBy("lang").agg(*aggs)


# --------------------------------------------------------------------------
# ngram_string_distance
# --------------------------------------------------------------------------

_TRIGRAMS_SQL = """
    ref AS (
      SELECT p_brand, min(p_name) AS ref_name FROM part GROUP BY p_brand
    ),
    pairs AS (
      SELECT p.p_partkey, p.p_brand, p.p_name AS s1, r.ref_name AS s2
      FROM part p JOIN ref r ON p.p_brand = r.p_brand
    ),
    g1 AS (
      SELECT p_partkey, g, count(*) AS c1 FROM (
        SELECT p_partkey, unnest(list_transform(range(1, length(s1) - 1),
                                 i -> substr(s1, CAST(i AS INTEGER), 3))) AS g
        FROM pairs
      ) GROUP BY 1, 2
    ),
    g2 AS (
      SELECT p_partkey, g, count(*) AS c2 FROM (
        SELECT p_partkey, unnest(list_transform(range(1, length(s2) - 1),
                                 i -> substr(s2, CAST(i AS INTEGER), 3))) AS g
        FROM pairs
      ) GROUP BY 1, 2
    ),
    common AS (
      SELECT g1.p_partkey, sum(least(c1, c2)) AS n_common
      FROM g1 JOIN g2 ON g1.p_partkey = g2.p_partkey AND g1.g = g2.g
      GROUP BY 1
    ),
    per_part AS (
      SELECT p.p_partkey, p.p_brand,
             coalesce(c.n_common, 0) AS n_common,
             greatest(length(s1) - 2, 0) + greatest(length(s2) - 2, 0)
               AS n_total
      FROM pairs p LEFT JOIN common c ON p.p_partkey = c.p_partkey
    )
"""


@register(
    "ngram_string_distance",
    oracle=f"""
    WITH {_TRIGRAMS_SQL}
    SELECT p_brand, count(*) AS n_parts,
           CAST(sum(n_common) AS BIGINT) AS sum_common,
           CAST(sum(n_total) AS BIGINT) AS sum_total,
           1.0 - 2.0 * sum(n_common) / nullif(sum(n_total), 0)
             AS pooled_distance,
           max(1.0 - 2.0 * n_common / nullif(n_total, 0))
             AS max_part_distance
    FROM per_part GROUP BY p_brand
    """,
    doc="ClickHouse ngramDistance analog: trigram MULTISET similarity "
    "between each part name and its brand's lexicographically-min name "
    "(Sørensen–Dice complement, 1 − 2·|∩| / (|A|+|B|)). Multiset "
    "intersection = Σ least(count_a, count_b) per gram — exact integers; "
    "the only doubles are one division per part (max is order-free) and "
    "one per brand. Scale: grams are exploded with a per-(key,gram) "
    "combiner groupBy, the per-brand reference is a broadcast join, and "
    "nothing ever pairs parts all-to-all.",
    tags=("analytics", "strings"),
)
def q_ngram_string_distance(spark, t):
    p = t["part"]
    ref = p.groupBy("p_brand").agg(F.min("p_name").alias("ref_name"))
    pairs = p.select("p_partkey", "p_brand", F.col("p_name").alias("s1")).join(
        F.broadcast(ref), "p_brand"
    ).withColumnRenamed("ref_name", "s2")

    def grams(col: str) -> F.Column:
        # guard: sequence(1, 0) would run DESCENDING in Spark, so short
        # strings (< 3 chars) must yield an empty gram list explicitly
        return F.expr(
            f"CASE WHEN length({col}) >= 3 THEN "
            f"transform(sequence(1, length({col}) - 2), i -> substring({col}, i, 3)) "
            f"ELSE array() END"
        )

    g1 = (
        pairs.select("p_partkey", "p_brand", F.explode(grams("s1")).alias("g"))
        .groupBy("p_partkey", "p_brand", "g")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # Reference-side gram counts depend ONLY on (brand, ref_name) — ~25
    # distinct strings — yet the old plan exploded s2 once PER PART ROW
    # (20k copies of the same 25 gram lists) and then shuffled a
    # (p_partkey, g) join against it. Exploding the brand-level ref
    # relation instead yields a few hundred rows, broadcast into the g1
    # stream (round 14, guide §1.2-1 "don't compute things you throw
    # away" + §3.1). c2 per (brand, g) is the identical count the
    # per-part explode produced for that part's s2 — same string — and
    # the inner join keeps the same gram set (g in s1 AND in the ref),
    # so Σ least(c1, c2) is unchanged, bit for bit.
    g2 = (
        ref.select("p_brand", F.explode(grams("ref_name")).alias("g"))
        .groupBy("p_brand", "g")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    common = (
        g1.join(F.broadcast(g2), ["p_brand", "g"])
        .groupBy("p_partkey")
        .agg(F.sum(F.least("c1", "c2")).alias("n_common"))
    )
    per_part = (
        pairs.join(common, "p_partkey", "left")
        .select(
            "p_partkey",
            "p_brand",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            # greatest(.., 0): the TRUE gram count for sub-trigram-length
            # names (a bare length-2 goes negative and an ANSI divide on 0
            # would kill the job on real-world junk part names); mirrored
            # in the oracle
            (
                F.greatest(F.length("s1") - 2, F.lit(0))
                + F.greatest(F.length("s2") - 2, F.lit(0))
            ).alias("n_total"),
        )
    )
    return per_part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("n_common").alias("sum_common"),
        F.sum("n_total").alias("sum_total"),
        (
            F.lit(1.0)
            - F.lit(2.0) * F.sum("n_common") / F.nullif(F.sum("n_total"), F.lit(0))
        ).alias("pooled_distance"),
        F.max(
            F.lit(1.0)
            - F.lit(2.0) * F.col("n_common") / F.nullif(F.col("n_total"), F.lit(0))
        ).alias("max_part_distance"),
    )


# --------------------------------------------------------------------------
# bitmap_set_ops
# --------------------------------------------------------------------------


@register(
    "bitmap_set_ops",
    oracle="""
    WITH m AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, count(*) AS n FROM m GROUP BY 1),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_and
      FROM m a JOIN m b ON a.user_id = b.user_id
                        AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CAST(sa.n AS BIGINT) AS card_a, CAST(sb.n AS BIGINT) AS card_b,
           CAST(n_and AS BIGINT) AS card_and,
           CAST(sa.n + sb.n - n_and AS BIGINT) AS card_or,
           CAST(sa.n + sb.n - 2 * n_and AS BIGINT) AS card_xor,
           CAST(n_and AS DOUBLE) / (sa.n + sb.n - n_and) AS jaccard
    FROM inter
      JOIN sizes sa ON sa.event_type = type_a
      JOIN sizes sb ON sb.event_type = type_b
    """,
    doc="ClickHouse groupBitmap / bitmapAnd/Or/Xor cardinalities over the "
    "per-event-type user-id sets, pairwise for all type pairs — the "
    "audience-overlap query. Set algebra by inclusion–exclusion from "
    "exact distinct counts (|A∪B| = |A|+|B|−|A∩B|), so only the "
    "intersection joins. Scale: the distinct-pairs relation is one "
    "combiner shuffle; the self-join key is user_id (uniform); sizes "
    "broadcast. At 100 TB the same shape runs on roaring bitmaps per "
    "partition — the counts here are the semantics those bitmaps encode.",
    tags=("analytics", "sets"),
)
def q_bitmap_set_ops(spark, t):
    m = t["events"].select("event_type", "user_id").distinct()
    sizes = m.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = m.select(F.col("event_type").alias("type_a"), "user_id")
    b = m.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_and"))
    )
    sa = F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("card_a")))
    sb = F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("card_b")))
    j = inter.join(sa, "type_a").join(sb, "type_b")
    return j.select(
        "type_a",
        "type_b",
        "card_a",
        "card_b",
        F.col("n_and").alias("card_and"),
        (F.col("card_a") + F.col("card_b") - F.col("n_and")).alias("card_or"),
        (F.col("card_a") + F.col("card_b") - 2 * F.col("n_and")).alias("card_xor"),
        (
            F.col("n_and").cast("double")
            / (F.col("card_a") + F.col("card_b") - F.col("n_and"))
        ).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# retention_aggregate
# --------------------------------------------------------------------------

#: epoch-day indices of the cohort day and the day-1/7/14 revisit days
#: (2024-01-01 = epoch day 19723); integer day_idx = epoch_us // 86.4e9 on
#: both engines — no calendar/timezone function anywhere.
_RETENTION_DAYS = (19723, 19724, 19730, 19737)


@register(
    "retention_aggregate",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             max(CASE WHEN epoch_us(ts) // 86400000000 = {_RETENTION_DAYS[0]}
                      THEN 1 ELSE 0 END) AS c1,
             max(CASE WHEN epoch_us(ts) // 86400000000 = {_RETENTION_DAYS[1]}
                      THEN 1 ELSE 0 END) AS c2,
             max(CASE WHEN epoch_us(ts) // 86400000000 = {_RETENTION_DAYS[2]}
                      THEN 1 ELSE 0 END) AS c3,
             max(CASE WHEN epoch_us(ts) // 86400000000 = {_RETENTION_DAYS[3]}
                      THEN 1 ELSE 0 END) AS c4
      FROM events GROUP BY user_id
    )
    SELECT CAST(sum(c1) AS BIGINT) AS r1,
           CAST(sum(c1 * c2) AS BIGINT) AS r2,
           CAST(sum(c1 * c3) AS BIGINT) AS r3,
           CAST(sum(c1 * c4) AS BIGINT) AS r4,
           CAST(sum(c1 * c2) AS DOUBLE) / nullif(sum(c1), 0) AS ratio_d1,
           CAST(sum(c1 * c3) AS DOUBLE) / nullif(sum(c1), 0) AS ratio_d7,
           CAST(sum(c1 * c4) AS DOUBLE) / nullif(sum(c1), 0) AS ratio_d14
    FROM per_user
    """,
    doc="ClickHouse retention(cond1, …, condN) aggregate proper: per user "
    "an array of flags where the FIRST condition gates all the others "
    "(r_i = c1 AND c_i), summed over users — day-0 cohort retained at "
    "day 1 / 7 / 14. Distinct from retention_cohorts (which joins "
    "per-day activity): this is the one-pass gated-flag form, a single "
    "combiner groupBy on user_id plus a global fold of four integers.",
    tags=("analytics", "temporal"),
)
def q_retention_aggregate(spark, t):
    # ts is the canonical ns LongType column (catalog.ts_us convention)
    e = t["events"].select(
        "user_id", F.expr("(ts DIV 1000) DIV 86400000000").alias("d")
    )
    flags = [
        F.max(F.when(F.col("d") == F.lit(day), 1).otherwise(0)).alias(f"c{i}")
        for i, day in enumerate(_RETENTION_DAYS, 1)
    ]
    per_user = e.groupBy("user_id").agg(*flags)
    return per_user.agg(
        F.sum("c1").alias("r1"),
        F.sum(F.col("c1") * F.col("c2")).alias("r2"),
        F.sum(F.col("c1") * F.col("c3")).alias("r3"),
        F.sum(F.col("c1") * F.col("c4")).alias("r4"),
        (
            F.sum(F.col("c1") * F.col("c2")).cast("double")
            / F.nullif(F.sum("c1"), F.lit(0))
        ).alias("ratio_d1"),
        (
            F.sum(F.col("c1") * F.col("c3")).cast("double")
            / F.nullif(F.sum("c1"), F.lit(0))
        ).alias("ratio_d7"),
        (
            F.sum(F.col("c1") * F.col("c4")).cast("double")
            / F.nullif(F.sum("c1"), F.lit(0))
        ).alias("ratio_d14"),
    )


# --------------------------------------------------------------------------
# geohash_encode
# --------------------------------------------------------------------------

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_exprs(shr: str, shl_mul: bool = True):
    """Generate the dialect-specific interleave + base32 expressions.

    ``shr(expr, n)`` renders a right shift; Spark uses shiftright(),
    DuckDB uses >>. Multiplication stands in for left shift (exact for
    the 40-bit domain).
    """
    def sr(e: str, n: int) -> str:
        return shr.format(e=e, n=n)

    terms = []
    for i in range(20):
        terms.append(f"(({sr('lonq', 19 - i)}) & 1) * {1 << (39 - 2 * i)}")
        terms.append(f"(({sr('latq', 19 - i)}) & 1) * {1 << (38 - 2 * i)}")
    interleaved = " + ".join(terms)
    chars = []
    for c in range(8):
        idx = f"(({sr('gh', 35 - 5 * c)}) & 31)"
        chars.append(f"substr('{_B32}', CAST({idx} AS INTEGER) + 1, 1)")
    return interleaved, " || ".join(chars)


_GH_INTERLEAVE_DUCK, _GH_CHARS_DUCK = _geohash_exprs("(({e}) >> {n})")
_GH_INTERLEAVE_SPARK, _GH_CHARS_SPARK = _geohash_exprs("shiftright({e}, {n})")
_GH_CHARS_SPARK = _GH_CHARS_SPARK.replace(" || ", ", ")  # concat() args


@register(
    "geohash_encode",
    oracle=f"""
    WITH coords AS (
      SELECT user_id,
             4 * ((user_id * 7) % 180 - 90) + 1 AS lat4,
             2 * ((user_id * 13) % 360 - 180) + 1 AS lon2
      FROM events
    ), q AS (
      SELECT user_id,
             ((lat4 + 360) * 1048576) // 720 AS latq,
             ((lon2 + 360) * 1048576) // 720 AS lonq
      FROM coords
    ), gh0 AS (
      SELECT user_id, {_GH_INTERLEAVE_DUCK} AS gh FROM q
    ), g AS (
      SELECT user_id, {_GH_CHARS_DUCK} AS geohash FROM gh0
    )
    SELECT substr(geohash, 1, 3) AS prefix3,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           min(geohash) AS min_geohash,
           max(geohash) AS max_geohash
    FROM g GROUP BY 1
    """,
    doc="ClickHouse geohashEncode analog at 8-char precision over "
    "deterministically derived coordinates (lat = k + 0.25°, lon = "
    "m + 0.5° — exact binary fractions carried as scaled integers lat4/"
    "lon2): quantize each axis to 20 bits with pure integer multiply-"
    "divide, interleave lon-first into a 40-bit code, emit base32 — no "
    "float appears anywhere, so the hash is bit-identical on any "
    "engine. Grouped by 3-char prefix (the ~156 km cell). Scale: "
    "map-only integer expressions + one combiner groupBy; this is the "
    "standard spatial-bucketing trick for co-locating geo joins.",
    tags=("analytics", "geo"),
)
def q_geohash_encode(spark, t):
    e = t["events"].select("user_id")
    q = e.select(
        "user_id",
        F.expr("((4 * ((user_id * 7) % 180 - 90) + 1 + 360) * 1048576) DIV 720").alias(
            "latq"
        ),
        F.expr("((2 * ((user_id * 13) % 360 - 180) + 1 + 360) * 1048576) DIV 720").alias(
            "lonq"
        ),
    )
    g = (
        q.withColumn("gh", F.expr(_GH_INTERLEAVE_SPARK))
        .withColumn("geohash", F.expr(f"concat({_GH_CHARS_SPARK})"))
    )
    return g.groupBy(F.substring("geohash", 1, 3).alias("prefix3")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("geohash").alias("min_geohash"),
        F.max("geohash").alias("max_geohash"),
    )


# --------------------------------------------------------------------------
# date_time_functions
# --------------------------------------------------------------------------


@register(
    "date_time_functions",
    oracle="""
    WITH x AS (
      SELECT ts,
             CAST(year(ts) * 100 + month(ts) AS BIGINT) AS yyyymm,
             (epoch_us(ts) // 900000000) * 900 AS slot15,
             CAST(weekofyear(ts) AS INTEGER) AS iso_week,
             CAST(date_trunc('week', ts) AS DATE) AS monday,
             CAST(ts AS DATE) AS d
      FROM events
    )
    SELECT yyyymm, count(*) AS n_events,
           count(DISTINCT slot15) AS n_15min_slots,
           count(DISTINCT iso_week) AS n_iso_weeks,
           CAST(min(monday) AS VARCHAR) AS min_monday,
           CAST(max(d) - min(d) AS BIGINT) AS span_days
    FROM x GROUP BY yyyymm
    """,
    doc="ClickHouse date-time family: toYYYYMM, toStartOfFifteenMinutes "
    "(epoch-seconds integer floor — no timezone arithmetic), toISOWeek "
    "(both engines implement ISO-8601 week numbering), toMonday "
    "(date_trunc('week') → Monday on both), and an age()-style day span "
    "per month. Scale: map-only datetime expressions + one combiner "
    "groupBy on the month key.",
    tags=("analytics", "temporal"),
)
def q_date_time_functions(spark, t):
    # ts is the canonical ns LongType column — materialize a proper
    # timestamp once, and take the 15-min slot straight off the integer
    e = t["events"].select(
        F.timestamp_micros(F.expr("ts DIV 1000")).alias("tts"),
        F.expr("((ts DIV 1000) DIV 900000000) * 900").alias("slot15"),
    )
    x = e.select(
        (F.year("tts") * 100 + F.month("tts")).cast("long").alias("yyyymm"),
        "slot15",
        F.weekofyear("tts").alias("iso_week"),
        F.date_trunc("week", F.col("tts")).cast("date").alias("monday"),
        F.col("tts").cast("date").alias("d"),
    )
    return x.groupBy("yyyymm").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("slot15").alias("n_15min_slots"),
        F.countDistinct("iso_week").alias("n_iso_weeks"),
        F.min("monday").cast("string").alias("min_monday"),
        F.datediff(F.max("d"), F.min("d")).cast("long").alias("span_days"),
    )


# --------------------------------------------------------------------------
# neighbor_diffs
# --------------------------------------------------------------------------


@register(
    "neighbor_diffs",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000.0) AS BIGINT) AS v_micro
      FROM events
    ), d AS (
      SELECT user_id, v_micro,
             v_micro - lag(v_micro) OVER w AS delta,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(max(n) - 1 AS BIGINT) AS n_steps,
           CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT)
             AS sum_pos_delta,
           CAST(sum(CASE WHEN delta < 0 THEN delta ELSE 0 END) AS BIGINT)
             AS sum_neg_delta,
           CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_increases,
           CAST(max(CASE WHEN rn = n THEN v_micro END)
                - max(CASE WHEN rn = 1 THEN v_micro END) AS BIGINT)
             AS last_minus_first
    FROM d GROUP BY user_id
    """,
    doc="ClickHouse neighbor()/runningDifference/runningAccumulate as "
    "proper per-key lag windows (the ClickHouse docs themselves now "
    "steer users to window functions — these legacy functions are "
    "block-scoped and order-fragile; the window form is the correct "
    "semantics). Values are floored to integer micro-units FIRST, so "
    "every delta and sum is integer-exact and order-free. Scale: one "
    "shuffle on user_id, one sequential window per key, then a combiner "
    "groupBy — the telescoping last-minus-first is read off rn bounds.",
    tags=("analytics", "temporal"),
)
def q_neighbor_diffs(spark, t):
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wp = W.partitionBy("user_id")
    v = t["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1000000.0).cast("long").alias("v_micro"),
    )
    d = v.select(
        "user_id",
        "v_micro",
        (F.col("v_micro") - F.lag("v_micro").over(w)).alias("delta"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    return d.groupBy("user_id").agg(
        (F.max("n") - 1).alias("n_steps"),
        F.sum(F.when(F.col("delta") > 0, F.col("delta")).otherwise(0)).alias(
            "sum_pos_delta"
        ),
        F.sum(F.when(F.col("delta") < 0, F.col("delta")).otherwise(0)).alias(
            "sum_neg_delta"
        ),
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias("n_increases"),
        (
            F.max(F.when(F.col("rn") == F.col("n"), F.col("v_micro")))
            - F.max(F.when(F.col("rn") == 1, F.col("v_micro")))
        ).alias("last_minus_first"),
    )


# --------------------------------------------------------------------------
# group_array_sorted
# --------------------------------------------------------------------------


@register(
    "group_array_sorted",
    oracle="""
    WITH v AS (
      SELECT event_type, user_id, event_id,
             CAST(floor(value * 100.0) AS BIGINT) AS v_cs
      FROM events
    ), ranked AS (
      SELECT event_type, v_cs, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v_cs, event_id) AS rn
      FROM v
    ), occ AS (
      SELECT event_type, user_id,
             row_number() OVER (PARTITION BY event_type, user_id
                                ORDER BY event_id) AS occurrence
      FROM v
    )
    SELECT r.event_type,
           string_agg(CASE WHEN r.rn <= 10 THEN CAST(r.v_cs AS VARCHAR) END,
                      ',' ORDER BY r.rn) AS bottom10_csv,
           CAST(max(o.max_occ) AS BIGINT) AS max_occurrence,
           count(*) AS n
    FROM ranked r
    JOIN (SELECT event_type, max(occurrence) AS max_occ FROM occ GROUP BY 1) o
      ON r.event_type = o.event_type
    GROUP BY r.event_type
    """,
    doc="ClickHouse groupArraySorted(10) (the 10 smallest centi-values per "
    "group, CSV-serialized per the top-level-container rule, "
    "deterministic (value, event_id) order) + arrayEnumerateUniq "
    "(occurrence numbering of repeated user_ids inside each group's "
    "event sequence — its max = the most repetitions by one user). "
    "Scale: bounded-N per-group selection runs as rank-and-filter (a "
    "TakeOrdered per group, combiner-friendly); occurrence numbering is "
    "one window on (event_type, user_id).",
    tags=("analytics", "arrays"),
)
def q_group_array_sorted(spark, t):
    v = t["events"].select(
        "event_type",
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100.0).cast("long").alias("v_cs"),
    )
    ranked = v.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("event_type").orderBy("v_cs", "event_id")),
    )
    occ = (
        v.withColumn(
            "occurrence",
            F.row_number().over(
                W.partitionBy("event_type", "user_id").orderBy("event_id")
            ),
        )
        .groupBy("event_type")
        .agg(F.max("occurrence").alias("max_occ"))
    )
    agg = ranked.groupBy("event_type").agg(
        F.concat_ws(
            ",",
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("rn") <= 10,
                        F.struct(F.col("rn"), F.col("v_cs").cast("string").alias("s")),
                    )
                )
            ).getField("s"),
        ).alias("bottom10_csv"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.join(F.broadcast(occ), "event_type").select(
        "event_type",
        "bottom10_csv",
        F.col("max_occ").alias("max_occurrence"),
        "n",
    )


# --------------------------------------------------------------------------
# quality_logistic_score (LLM)
# --------------------------------------------------------------------------

#: fixed interpretable weights in millionths (scaled-integer domain):
#: score_u = Σ w_f · ratio_f_u  where ratio_u = (count · 10^6) DIV denom.
#: Positive: stopword ratio (fluent text), unique ratio (non-repetitive).
#: Negative: non-alnum ratio (markup/noise). Bias centers the decision.
_W_STOP, _W_UNIQ, _W_NONALNUM, _BIAS_U = 3, 2, -5, -1_100_000


@register(
    "quality_logistic_score",
    oracle=f"""
    WITH x AS (
      SELECT doc_id, source,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[A-Za-z0-9]')) AS n_alnum,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      FROM documents
    ), f AS (
      SELECT doc_id, source,
             (len(list_filter(toks, t -> t IN {text.STOPWORDS!r}))
              * 1000000) // len(toks) AS r_stop_u,
             (len(list_distinct(toks)) * 1000000) // len(toks) AS r_uniq_u,
             ((n_chars - n_alnum) * 1000000) // n_chars AS r_nonalnum_u
      FROM x WHERE len(toks) > 0 AND n_chars > 0
    ), s AS (
      SELECT doc_id, source,
             {_W_STOP} * r_stop_u + {_W_UNIQ} * r_uniq_u
               + {_W_NONALNUM} * r_nonalnum_u + {_BIAS_U} AS score_u
      FROM f
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN score_u > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           CAST(min(score_u) AS BIGINT) AS min_score_u,
           CAST(max(score_u) AS BIGINT) AS max_score_u,
           CAST(sum(score_u) AS BIGINT) AS sum_score_u,
           CAST(sum(CASE WHEN score_u > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS keep_rate
    FROM s GROUP BY source
    """,
    doc="LLM quality classifier: a fixed-weight logistic model over the "
    "text_quality features, evaluated ENTIRELY in scaled-integer space — "
    "ratios floored to millionths, integer weight dot product, decision "
    "= score > 0. The sigmoid is monotone, so integer score order IS "
    "probability order and the threshold decision is exact without a "
    "single libm call (the cross-engine-portable way to ship a linear "
    "quality gate). Per-source keep rates = the curation yield report. "
    "Scale: map-only feature extraction (JVM regex), one combiner "
    "groupBy on source.",
    tags=("llm", "text"),
)
def q_quality_logistic_score(spark, t):
    c = F.col("text")
    toks = text.tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    n_alnum = F.regexp_count(c, F.lit(r"[A-Za-z0-9]"))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*text.STOPWORDS)))
    n_uniq = F.size(F.array_distinct(toks))
    f = (
        t["documents"]
        .select(
            "doc_id",
            "source",
            n_tok.alias("n_tok"),
            n_chars.alias("n_chars"),
            n_alnum.alias("n_alnum"),
            n_stop.alias("n_stop"),
            n_uniq.alias("n_uniq"),
        )
        .filter((F.col("n_tok") > 0) & (F.col("n_chars") > 0))
        .select(
            "doc_id",
            "source",
            F.expr("(n_stop * 1000000) DIV n_tok").alias("r_stop_u"),
            F.expr("(n_uniq * 1000000) DIV n_tok").alias("r_uniq_u"),
            F.expr("((n_chars - n_alnum) * 1000000) DIV n_chars").alias(
                "r_nonalnum_u"
            ),
        )
    )
    score = (
        F.lit(_W_STOP) * F.col("r_stop_u")
        + F.lit(_W_UNIQ) * F.col("r_uniq_u")
        + F.lit(_W_NONALNUM) * F.col("r_nonalnum_u")
        + F.lit(_BIAS_U)
    )
    s = f.select("source", score.alias("score_u"))
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("score_u") > 0, 1).otherwise(0)).alias("n_keep"),
        F.min("score_u").alias("min_score_u"),
        F.max("score_u").alias("max_score_u"),
        F.sum("score_u").alias("sum_score_u"),
        (
            F.sum(F.when(F.col("score_u") > 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("keep_rate"),
    )


# --------------------------------------------------------------------------
# knn_label_accuracy (LLM)
# --------------------------------------------------------------------------


@register(
    "knn_label_accuracy",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, label AS true_label, e AS qe
          FROM v WHERE vec_id % 20 = 0),
    scored AS (
      SELECT q.q_id, q.true_label, v.vec_id, v.label,
             {_cos_sql('v.e', 'q.qe')} AS cos_sim
      FROM q JOIN v ON v.vec_id <> q.q_id
    ),
    topk AS (
      SELECT * FROM (
        SELECT q_id, true_label, label,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT q_id, true_label, label, count(*) AS n_votes
      FROM topk GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT q_id, true_label, label AS pred_label FROM (
        SELECT q_id, true_label, label,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY n_votes DESC, label) AS vrn
        FROM votes
      ) WHERE vrn = 1
    )
    SELECT true_label, count(*) AS n_queries,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS accuracy
    FROM pred GROUP BY true_label
    """,
    doc="LLM eval harness: leave-one-out 5-NN label prediction over the "
    "embeddings table — exact cosine (left-to-right double folds, "
    "bit-identical cross-engine like similarity_topk), deterministic "
    "ties (cos desc, vec_id), majority vote (tie → smallest label), "
    "accuracy per true label. The eval twin of the similarity_* "
    "retrieval entries: eval sets are small by construction, so the "
    "brute-force candidate pass is a broadcast of the query rows against a map-only "
    "candidate scan + per-query TakeOrdered — the production-scale "
    "retrieval path (IVF/PQ) is already covered by similarity_ivf_topk.",
    tags=("llm", "similarity"),
)
def q_knn_label_accuracy(spark, t):
    # norms are per-VECTOR, not per-pair: fold each side's ||x|| once
    # before the |q| x |v| join instead of re-folding it per scored row
    # (3 array folds/pair -> 1). sqrt(fold) of the same operands in the
    # same order is the same double, so cos_sim is bit-identical to the
    # per-pair formulation and the oracle.
    from clickhouse_provider_spark.operators import spread_scan

    # spread the probe side before the broadcast join (round 14): the
    # |v| × |q| cosine evaluation is map-side work, and a single-split
    # embeddings scan serialized all of it into ONE task (measured 1.4 s
    # single-task CPU at sf0.1); no-op on well-split inputs
    v = spread_scan(t["embeddings"], "vec_id").withColumn(
        "v_norm", F.expr(similarity.norm_sql("embedding"))
    )
    q = v.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qe"),
        F.col("v_norm").alias("q_norm"),
    )
    scored = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "true_label",
            "vec_id",
            "label",
            F.expr(
                f"{similarity.dot_sql('embedding', 'qe')}"
                " / nullif(v_norm * q_norm, 0.0D)"
            ).alias("cos_sim"),
        )
    )
    topk = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
        ),
    ).filter(F.col("rn") <= 5)
    votes = topk.groupBy("q_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    pred = votes.groupBy("q_id", "true_label").agg(
        F.min_by(
            F.col("label"), F.struct((-F.col("n_votes")).alias("neg"), F.col("label"))
        ).alias("pred_label")
    )
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(
            F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
        ).alias("n_correct"),
        (
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("accuracy"),
    )
