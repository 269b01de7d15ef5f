"""Extension queries: embedding near-dup, IVF ANN, language-ID, UDF parity,
multimodal blobs, data-quality, format round-trips, schema drift
(SURVEY.md §2.2a/i/j/l).

Oracle notes: mapInPandas payloads use a fixed raster format whose sizes are
schema-derivable, so blob *accounting* is oracle-checkable even though the
pixel bytes (numpy PCG64) have no DuckDB analog; decode features are
rows-only, verified by unit tests instead.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inspectadb_spark.functions.udfs import net_price_pandas
from inspectadb_spark.operators.multimodal import (
    attach_image_blobs,
    blob_stats,
    decode_image_features,
)
from inspectadb_spark.operators.quality import profile, referential_orphans, uniqueness
from inspectadb_spark.operators.similarity import cosine_pairs_exact, ivf_topk
from inspectadb_spark.operators.text import LANG_MARKERS_CORPUS, lang_id
from inspectadb_spark.queries.registry import dec, dsum, query, tables
from inspectadb_spark.sources.files import read_with_drift, roundtrip


def _tmp(sf_dir: str, tag: str) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"inspectadb_{tag}_{os.path.basename(sf_dir.rstrip('/'))}",
    )


# --------------------------------------------------------------------------
# Q43c exact embedding-cosine near-duplicate pairs (threshold tuned to the
# corpus: random 64-dim vectors top out ~0.51 pairwise cosine).
@query(
    "q43c_cosine_neardup",
    oracle="""
    WITH z AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2,
             UNNEST(a.embedding) AS x, UNNEST(b.embedding) AS y
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    s AS (
      SELECT v1, v2,
             SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
             SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n1,
             SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS n2
      FROM z GROUP BY v1, v2
    )
    SELECT v1, v2,
           CAST(ROUND(CAST(dot / (SQRT(n1) * SQRT(n2)) AS DECIMAL(18,6)), 4) AS DOUBLE) AS sim
    FROM s
    WHERE CAST(ROUND(CAST(dot / (SQRT(n1) * SQRT(n2)) AS DECIMAL(18,6)), 4) AS DOUBLE) >= 0.45
    ORDER BY v1, v2
    """,
)
def q43c(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables(spark, sf_dir)["embeddings"]
    return cosine_pairs_exact(e, threshold=0.45).orderBy("v1", "v2")


# --------------------------------------------------------------------------
# Q43d IVF ANN top-k (rows-only; recall property-tested vs Q43 brute force)
@query("q43d_ivf_topk", oracle=None,
       check="P: probe-all ≡ exact brute parity + partial-probe recall "
             "bars in tests/test_cluster.py / tests/test_properties.py; "
             "the oracled index-serving sibling is q340")
def q43d(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables(spark, sf_dir)["embeddings"]
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return ivf_topk(e, [float(x) for x in qvec], k=10, n_centroids=16, n_probe=4)


# --------------------------------------------------------------------------
# Q45f heuristic language-ID (marker stopword scores + deterministic argmax)
def _langid_oracle() -> str:
    score_cols = ",\n             ".join(
        f"""CAST(LEN(list_filter(string_split(text, ' '),
                 t -> t IN ({', '.join("'" + m + "'" for m in markers)}))) AS INT) AS s_{lang}"""
        for lang, markers in LANG_MARKERS_CORPUS
    )
    langs = [lang for lang, _ in LANG_MARKERS_CORPUS]
    best = f"GREATEST({', '.join('s_' + lang for lang in langs)})"
    case = "CASE WHEN " + f"{best} <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH s AS (
      SELECT doc_id,
             {score_cols}
      FROM documents
    )
    SELECT doc_id, {', '.join('s_' + lang for lang in langs)}, {case} AS pred_lang
    FROM s ORDER BY doc_id
    """


@query("q45f_lang_id", oracle=_langid_oracle())
def q45f(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(
        tables(spark, sf_dir)["documents"], markers=LANG_MARKERS_CORPUS
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Q52 UDF parity: Arrow scalar pandas UDF must agree with the codegen
# expression / DuckDB for the same net-price aggregation.
@query(
    "q52_udf_parity",
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM({dec('l_extendedprice * (1 - l_discount)')}) AS DOUBLE) AS net,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    return (
        li.withColumn("net1", net_price_pandas("l_extendedprice", "l_discount"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("net1").cast("decimal(18,6)")).cast("double").alias("net"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Q53 multimodal blob accounting: attach fixed-format image payloads via
# mapInPandas, then pure-SQL stats. Blob size is 12-byte header + 16x16 px,
# so the oracle derives the expected sizes from the row count alone — this
# checks the Arrow plumbing really attached one well-formed blob per doc.
@query(
    "q53_multimodal_blobs",
    oracle="""
    SELECT COUNT(*) AS n_blobs,
           CAST(COUNT(*) * 268 AS BIGINT) AS total_bytes,
           CAST(268 AS BIGINT) AS min_bytes,
           CAST(268 AS BIGINT) AS max_bytes
    FROM documents
    """,
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    return blob_stats(attach_image_blobs(d, width=16, height=16))


# Q53b decode + feature extraction (rows-only: pixels are numpy-PCG64)
@query("q53b_multimodal_decode", oracle=None,
       check="rows-only: decode is the stubbed modality slot (PIL absent "
             "in env) over deterministic blobs; schema/batch-shape/feature "
             "parity vs numpy in tests/test_multimodal.py; the oracled "
             "accounting sibling is q337")
def q53b(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    blobs = attach_image_blobs(d, width=16, height=16)
    return decode_image_features(blobs).orderBy("doc_id")


# --------------------------------------------------------------------------
# Q53c audio modality path: deterministic PCM blobs -> Arrow-batched feature
# extraction (duration/RMS/zero-crossing). Rows-only: payloads are generated
# engine-side (the real pipeline's decode slot), no SQL analog.
@query("q53c_audio_features", oracle=None,
       check="rows-only: engine-generated PCM payloads (no SQL analog); "
             "decode-roundtrip + feature parity vs numpy in "
             "tests/test_multimodal.py; the oracled sibling is "
             "q271_audio_pcm8_features")
def q53c(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.multimodal import attach_audio_blobs, audio_features

    d = tables(spark, sf_dir)["documents"]
    clips = attach_audio_blobs(d.select("doc_id"), sr=8000, seconds=0.25)
    return audio_features(clips).orderBy("doc_id")


# --------------------------------------------------------------------------
# Q53d perceptual-hash near-dup over the image modality: phash via Arrow
# batches (rows-only: the mosaic math is numpy), then banded candidate join
# with a pigeonhole completeness guarantee (tests/test_multimodal.py checks
# banding == brute force and perturbation tolerance).
@query("q53d_image_phash_neardup", oracle=None,
       check="P: banded candidate join ≡ brute force (pigeonhole "
             "completeness) + perturbation tolerance in "
             "tests/test_multimodal.py; phash mosaic math is numpy")
def q53d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.multimodal import (
        image_phash,
        phash_near_dup_pairs,
    )

    d = tables(spark, sf_dir)["documents"]
    # seed on doc_id mod 250: every raster appears (at least) twice, so the
    # banded join provably surfaces the planted hamming-0 duplicates
    # (independent rasters sit ~32 bits apart and never collide at <= 6)
    blobs = attach_image_blobs(
        d.select("doc_id", (F.col("doc_id") % 250).alias("img_seed")),
        seed_col="img_seed", width=16, height=16,
    )
    return (
        phash_near_dup_pairs(image_phash(blobs), max_hamming=6)
        .orderBy("i1", "i2")
    )


# --------------------------------------------------------------------------
# Q54 data-quality profile over orders (int/string columns: min/max rendered
# as strings identically in both engines; doubles excluded by design).
_DQ_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


@query(
    "q54_dq_profile",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, COUNT(*) AS n,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_str, CAST(MAX({c}) AS VARCHAR) AS max_str
    FROM orders"""
        for c in _DQ_COLS
    )
    + "\nORDER BY col_name",
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    return profile(o, _DQ_COLS).withColumnRenamed("column", "col_name").orderBy("col_name")


# Q54b referential + uniqueness checks as one summary row
@query(
    "q54b_dq_integrity",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
         (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS orphan_orders,
      (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lineitems,
      (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS dup_orderkeys
    """,
)
def q54b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    orphans_o = referential_orphans(t["orders"], t["customer"], "o_custkey", "c_custkey")
    orphans_l = referential_orphans(t["lineitem"], t["orders"], "l_orderkey", "o_orderkey")
    dup = uniqueness(t["orders"], ["o_orderkey"]).select("n_dup")
    return (
        orphans_o.agg(F.count(F.lit(1)).alias("orphan_orders"))
        .crossJoin(orphans_l.agg(F.count(F.lit(1)).alias("orphan_lineitems")))
        .crossJoin(dup.select(F.col("n_dup").alias("dup_orderkeys")))
    )


# --------------------------------------------------------------------------
# Q55 family: format round-trips. Write orders out in each format, read it
# back schema-explicit, aggregate — must equal the direct aggregation.
_Q55_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS tot,
       CAST(MIN(o_orderdate) AS VARCHAR) AS first_dt
FROM orders GROUP BY 1 ORDER BY 1
"""


def _q55(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    back = roundtrip(o, _tmp(sf_dir, f"q55_{fmt}"), fmt)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("tot"),
            F.min("o_orderdate").cast("string").alias("first_dt"),
        )
        .orderBy("o_orderstatus")
    )


@query("q55_csv_roundtrip", oracle=_Q55_ORACLE)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q55(spark, sf_dir, "csv")


@query("q55b_json_roundtrip", oracle=_Q55_ORACLE)
def q55b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q55(spark, sf_dir, "json")


@query("q55c_orc_roundtrip", oracle=_Q55_ORACLE)
def q55c(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q55(spark, sf_dir, "orc")


@query("q55d_xml_roundtrip", oracle=_Q55_ORACLE)
def q55d(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark 4 ships the XML source natively (spark-xml merged upstream).
    return _q55(spark, sf_dir, "xml")


# --------------------------------------------------------------------------
# Q56 schema drift: two parquet generations (second adds o_channel), merged
# read presents the unified target schema with typed NULLs for the old gen.
@query(
    "q56_schema_drift",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN 'web' END AS o_channel,
           COUNT(*) AS n, COUNT(o_channel) AS n_set
    FROM (SELECT o_orderkey, CASE WHEN o_orderkey % 2 = 1 THEN 'web' END AS o_channel
          FROM orders) t
    GROUP BY 1 ORDER BY 1 NULLS FIRST
    """,
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    base = _tmp(sf_dir, "q56_gen1")
    drift = _tmp(sf_dir, "q56_gen2")
    o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_custkey").write.mode(
        "overwrite"
    ).parquet(base)
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", F.lit("web").alias("o_channel")
    ).write.mode("overwrite").parquet(drift)
    target = (
        o.select("o_orderkey", "o_custkey", F.lit("x").alias("o_channel")).limit(0).schema
    )
    merged = read_with_drift(spark, [base, drift], target)
    return (
        merged.groupBy("o_channel")
        .agg(F.count("*").alias("n"), F.count("o_channel").alias("n_set"))
        .orderBy(F.col("o_channel").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# Q57 pivot: orderstatus x orderpriority counts as a wide table. Spark's
# groupBy().pivot() with explicit values (explicit = one pass, no distinct
# pre-scan — the 100 TB rule); the oracle spells it as conditional aggs.
_PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@query(
    "q57_pivot",
    oracle="SELECT o_orderstatus, "
    + ", ".join(
        f"""CAST(SUM(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END) AS BIGINT) AS p{i}"""
        for i, p in enumerate(_PRIOS, 1)
    )
    + " FROM orders GROUP BY 1 ORDER BY 1",
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(_PRIOS))
        .count()
    )
    renamed = piv.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("bigint").alias(f"p{i}")
            for i, p in enumerate(_PRIOS, 1)
        ],
    )
    return renamed.orderBy("o_orderstatus")


# --------------------------------------------------------------------------
# Q58 scalar + correlated subqueries (Catalyst decorrelation, SURVEY §4.1):
# customers whose account balance exceeds their nation's average.
@query(
    "q58_scalar_subquery",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,6)), 2) AS DOUBLE) AS bal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
      AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    ORDER BY c_custkey LIMIT 300
    """,
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.queries.registry import sql

    return sql(
        spark,
        sf_dir,
        """
        SELECT c_custkey, c_nationkey,
               CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,6)), 2) AS DOUBLE) AS bal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
          AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        ORDER BY c_custkey LIMIT 300
        """,
    )


# --------------------------------------------------------------------------
# Q44e near-dup clusters: connected components over the (oracle-checkable)
# Jaccard pair list. Spark runs iterative min-label propagation; DuckDB's
# recursive CTE computes the same transitive closure exactly.
@query(
    "q44e_dedup_clusters",
    oracle="""
    WITH RECURSIVE tok AS (
      SELECT DISTINCT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      FROM tok a JOIN tok b ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT d1, d2 FROM inter
      JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= 0.5
    ),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
    )
    SELECT node, MIN(r) AS comp FROM reach GROUP BY node ORDER BY node
    """,
)
def q44e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.cluster import connected_components
    from inspectadb_spark.operators.dedup import jaccard_similar_pairs

    d = tables(spark, sf_dir)["documents"]
    pairs = jaccard_similar_pairs(d, block_col="lang", threshold=0.5)
    # unique_pairs: the blocked-GEMM emits each unordered pair exactly once
    return connected_components(pairs, unique_pairs=True).orderBy("node")


# --------------------------------------------------------------------------
# Q59 hierarchical rollup (continuous-aggregate pattern): the daily answer is
# computed FROM the hourly materialization, never from raw rows — valid
# because the decimal SUM and COUNT are associative (the engine's money-math
# rule, registry.py). At 100 TB this is the hypertable trick: each coarser
# tier re-aggregates ~24x fewer rows than raw. The oracle aggregates raw
# directly — the two must agree exactly.
@query(
    "q59_hierarchical_rollup",
    oracle="""
    SELECT DATE_TRUNC('day', ts) AS d, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv_dec"),
    )
    daily = (
        # cast to DATE: Spark's date_trunc keeps timestamp type, DuckDB's is DATE
        hourly.groupBy(F.date_trunc("day", "h").cast("date").alias("d"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sv_dec").cast("double").alias("sv"),
        )
        .orderBy("d", "event_type")
    )
    return daily.select("d", "event_type", "n", "sv")


# --------------------------------------------------------------------------
# Q42b structured JSON parsing: from_json with an explicit schema (the
# production path — one parse per row into a typed struct, vs per-field
# get_json_object re-parses in q42).
@query(
    "q42b_from_json",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props ->> '$.k' AS INT)) AS BIGINT) AS sk,
           CAST(MIN(CAST(props ->> '$.k' AS INT)) AS INT) AS mn,
           CAST(MAX(CAST(props ->> '$.k' AS INT)) AS INT) AS mx,
           COUNT(*) AS n
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q42b(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    parsed = ev.withColumn(
        "p", F.from_json("props", "k INT")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum("p.k").cast("bigint").alias("sk"),
            F.min("p.k").cast("int").alias("mn"),
            F.max("p.k").cast("int").alias("mx"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q60 interval/range join, explicit (SURVEY §2.2c last row): per purchase,
# clicks by the same user in the preceding hour. Equi-key on user_id keeps
# the join bounded; the range predicate filters within each key group — at
# 100 TB this is the stream-stream join's batch shape (S5b analog).
@query(
    "q60_range_join",
    oracle="""
    SELECT p.event_id AS purchase_id, COUNT(c.event_id) AS clicks_1h
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    GROUP BY 1 ORDER BY 1
    """,
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    p = ev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), F.col("user_id"), F.col("ts").alias("c_ts")
    )
    cond = (
        (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    joined = p.join(
        c.withColumnRenamed("user_id", "c_user"),
        (F.col("user_id") == F.col("c_user")) & cond,
        "left",
    )
    return (
        joined.groupBy("purchase_id")
        .agg(F.count("click_id").alias("clicks_1h"))
        .orderBy("purchase_id")
    )


# --------------------------------------------------------------------------
# Q61 NOT IN three-valued logic (null-aware anti join, SURVEY §4.1): with a
# NULL in the subquery result NOT IN yields no rows; the engine must plan a
# null-aware anti join, not a plain one. The subquery is restricted to the
# first order month so `plain` is provably NONZERO at every SF (134 /
# 1326 customers without an early order) — against the full orders table
# every customer has an order, plain == with_null == 0, and a broken
# plain-anti-join plan would hash-match anyway (the q326 degeneracy class,
# caught by the round-9 oracle-constant sweep). plain > 0 = with_null is
# exactly the 3VL contrast the query exists to prove.
@query(
    "q61_not_in_3vl",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_orderdate < TIMESTAMP '1995-01-31'))
        AS plain,
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey = -1 THEN o_custkey END
                               FROM orders
                               WHERE o_orderdate < TIMESTAMP '1995-01-31'))
        AS with_null
    """,
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.queries.registry import sql

    return sql(
        spark,
        sf_dir,
        """
        SELECT
          (SELECT COUNT(*) FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                   WHERE o_orderdate < TIMESTAMP '1995-01-31'))
            AS plain,
          (SELECT COUNT(*) FROM customer
           WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey = -1 THEN o_custkey END
                                   FROM orders
                                   WHERE o_orderdate < TIMESTAMP '1995-01-31'))
            AS with_null
        """,
    )


# --------------------------------------------------------------------------
# Q62 UDTF lateral join: the table-function path (one doc row -> token rows)
# must reproduce the built-in explode pipeline's vocabulary counts. Uses the
# arrow-optimized UDTF if available.
@query(
    "q62_udtf_tokens",
    oracle="""
    SELECT tok, COUNT(*) AS n FROM
      (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents) t
    GROUP BY tok ORDER BY n DESC, tok LIMIT 30
    """,
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.functions.udfs import SplitWordsUDTF
    from inspectadb_spark.queries.registry import sql

    spark.udtf.register("split_words", SplitWordsUDTF)
    return sql(
        spark,
        sf_dir,
        """
        SELECT t.word AS tok, COUNT(*) AS n
        FROM documents d, LATERAL split_words(d.text) t
        GROUP BY 1 ORDER BY n DESC, tok LIMIT 30
        """,
    )


# --------------------------------------------------------------------------
# Q57b unpivot (melt): wide per-flag measures back to long (measure, val)
# rows — the inverse of Q57's pivot, via the native unpivot operator
# (no UNION-of-scans: single pass, values carried through one Expand node).
@query(
    "q57b_unpivot",
    oracle=f"""
    WITH wide AS (
      SELECT l_returnflag,
             {dsum('l_quantity', 'sum_qty')},
             {dsum('l_extendedprice', 'sum_price')},
             {dsum('l_discount', 'sum_disc')}
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
    """,
)
def q57b(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.expr(dec("l_quantity"))).cast("double").alias("sum_qty"),
        F.sum(F.expr(dec("l_extendedprice"))).cast("double").alias("sum_price"),
        F.sum(F.expr(dec("l_discount"))).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="val",
    )


# --------------------------------------------------------------------------
# Q72 pairwise edit distance between successive documents (bounded: 60-char
# prefixes keep the O(n*m) DP cell count constant per pair).
@query(
    "q72_edit_distance",
    oracle="""
    WITH p AS (SELECT doc_id, substr(text, 1, 60) AS pre FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.pre, b.pre) AS INT) AS dist
    FROM p a JOIN p b ON b.doc_id = a.doc_id + 1
    ORDER BY a.doc_id
    """,
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    p = docs.select("doc_id", F.expr("substr(text, 1, 60)").alias("pre"))
    a = p.select(F.col("doc_id").alias("doc_a"), F.col("pre").alias("pre_a"))
    b = p.select(F.col("doc_id").alias("doc_b"), F.col("pre").alias("pre_b"))
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select("doc_a", "doc_b",
                F.levenshtein("pre_a", "pre_b").alias("dist"))
        .orderBy("doc_a")
    )


# --------------------------------------------------------------------------
# Q43g scalable near-dup pairs with an ORACLE-EXPRESSIBLE blocking key: the
# sign pattern of the first 8 dims (axis-aligned SRP — float sign is exact,
# so the key is engine-portable with no RNG/float hyperplanes). Candidates =
# same-key pairs (equi-join, E[pairs] = n²/256), verified by exact cosine.
# The verified-at-scale sibling of q43c's O(n²) baseline.
_Q43G_BLK = " + ".join(
    f"CASE WHEN embedding[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END"
    for j in range(8)
)
_Q43G_ORACLE = f"""
WITH k AS (
  SELECT vec_id, embedding, ({_Q43G_BLK}) AS blk FROM embeddings
), p AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         a.embedding AS e1, b.embedding AS e2
  FROM k a JOIN k b ON a.blk = b.blk AND a.vec_id < b.vec_id
), z AS (
  SELECT v1, v2, UNNEST(e1) AS x, UNNEST(e2) AS y FROM p
), s AS (
  SELECT v1, v2,
         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
         SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n1,
         SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS n2
  FROM z GROUP BY v1, v2
)
SELECT v1, v2,
       CAST(ROUND(CAST(dot / (SQRT(n1) * SQRT(n2)) AS DECIMAL(18,6)), 4) AS DOUBLE) AS sim
FROM s
WHERE CAST(ROUND(CAST(dot / (SQRT(n1) * SQRT(n2)) AS DECIMAL(18,6)), 4) AS DOUBLE) >= 0.3
ORDER BY v1, v2
"""


@query(
    "q43g_blocked_neardup",
    oracle=_Q43G_ORACLE,
    doc="Sign-blocked near-dup pairs: deterministic axis-SRP blocking key "
        "(equi-join on a small int, never O(n²)) + exact cosine verify — "
        "the oracle-checkable scale path next to q43c's exact baseline.",
)
def q43g(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.similarity import sign_blocked_near_dup_pairs

    e = tables(spark, sf_dir)["embeddings"]
    return sign_blocked_near_dup_pairs(e, threshold=0.3).orderBy("v1", "v2")


# --------------------------------------------------------------------------
# Q135 semantic dedup end-to-end: q43g's oracle-expressible blocked pair
# generation -> exact-cosine verify -> iterative connected components ->
# canonical survivor per cluster (min id), with never-matched vectors kept
# as their own singleton component. The full iterative pipeline is
# hash-verified: DuckDB replays the blocking + cosine rule and computes the
# same transitive closure with a recursive CTE.
_Q135_ORACLE = f"""
WITH RECURSIVE k AS (
  SELECT vec_id, embedding, ({_Q43G_BLK}) AS blk FROM embeddings
), p AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         a.embedding AS e1, b.embedding AS e2
  FROM k a JOIN k b ON a.blk = b.blk AND a.vec_id < b.vec_id
), z AS (
  SELECT v1, v2, UNNEST(e1) AS x, UNNEST(e2) AS y FROM p
), s AS (
  SELECT v1, v2,
         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
         SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n1,
         SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS n2
  FROM z GROUP BY v1, v2
), pairs AS (
  SELECT v1, v2 FROM s
  WHERE CAST(ROUND(CAST(dot / (SQRT(n1) * SQRT(n2)) AS DECIMAL(18,6)), 4)
             AS DOUBLE) >= 0.3
), edges AS (
  SELECT v1 AS a, v2 AS b FROM pairs UNION SELECT v2, v1 FROM pairs
), reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
), lab AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node)
SELECT e.vec_id, COALESCE(lab.comp, e.vec_id) AS comp,
       e.vec_id = COALESCE(lab.comp, e.vec_id) AS kept
FROM embeddings e LEFT JOIN lab ON e.vec_id = lab.node
ORDER BY e.vec_id
"""


@query(
    "q135_semantic_dedup",
    oracle=_Q135_ORACLE,
    doc="Semantic dedup pipeline: sign-blocked candidates -> exact-cosine "
        "verify -> iterative min-label connected components -> canonical "
        "min-id survivor per cluster (singletons kept). The whole iterative "
        "pipeline matches DuckDB's recursive-CTE transitive closure.",
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.cluster import connected_components
    from inspectadb_spark.operators.similarity import sign_blocked_near_dup_pairs

    e = tables(spark, sf_dir)["embeddings"]
    pairs = sign_blocked_near_dup_pairs(e, threshold=0.3)
    # unique_pairs: one block per id and v1 < v2 — each pair emitted once
    comps = connected_components(pairs, src="v1", dst="v2",
                                 unique_pairs=True)
    out = (
        e.select("vec_id")
        .join(comps, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("comp"), F.col("vec_id")).alias("comp"),
        )
        .withColumn("kept", F.col("vec_id") == F.col("comp"))
    )
    return out.orderBy("vec_id")


# --------------------------------------------------------------------------
# Q141 skew-safe aggregation as a VERIFIED corpus query: the two-level
# salted groupBy (operators/scale.py) must produce byte-identical results to
# the plain single-shuffle aggregate the oracle runs — the guarantee that
# lets a cluster turn it on for a hot key without a correctness review.
# Exact-decimal SUM keeps the merge associative; the salt is a row-content
# hash (no RNG), so retries agree.
@query(
    "q141_salted_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
           MIN(user_id) AS mn, MAX(user_id) AS mx
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Two-level salted aggregation over the skew-prone event_type key; "
        "hash-verified equal to the plain aggregate (associative decimal "
        "sum, deterministic content-hash salt).",
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.scale import two_level_agg

    ev = tables(spark, sf_dir)["events"].withColumn(
        "value_dec", F.col("value").cast("decimal(18,6)"))
    out = two_level_agg(
        ev,
        ["event_type"],
        {"n": "count(*)", "sv": "sum(value_dec)",
         "mn": "min(user_id)", "mx": "max(user_id)"},
    )
    return out.select(
        "event_type", "n", F.col("sv").cast("double").alias("sv"), "mn", "mx"
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Q158 Pareto skyline of the part catalog (cheapest-for-the-size frontier):
# sort-scan formulation — distinct pairs + ONE sort + running max — never
# the O(n²) dominance join the oracle deliberately uses as an independent
# specification.
@query(
    "q158_skyline",
    oracle="""
    SELECT b.p_partkey, b.p_name, b.p_retailprice, b.p_size
    FROM part b
    WHERE NOT EXISTS (
      SELECT 1 FROM part a
      WHERE a.p_retailprice <= b.p_retailprice AND a.p_size >= b.p_size
        AND (a.p_retailprice < b.p_retailprice OR a.p_size > b.p_size))
    ORDER BY b.p_partkey
    """,
    doc="2-D Pareto frontier (min price, max size) via sort+running-max; "
        "oracle is the brute-force dominance spec.",
)
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.skyline import skyline_2d

    part = tables(spark, sf_dir)["part"]
    return skyline_2d(part, "p_retailprice", "p_size").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# Q159 inverted-index construction: per-term sorted posting lists over the
# corpus — the search-index build step. Distinct-first so term repeats in
# a doc add one posting; postings sorted in-array (exact integer order).
@query(
    "q159_inverted_index",
    oracle="""
    WITH t AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w <> ''))
               AS term
      FROM documents)
    SELECT term, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM t GROUP BY term ORDER BY df DESC, term LIMIT 20
    """,
    doc="Top-20-term inverted index: df + sorted posting lists (rendered "
        "as comma-joined strings — the driver's pandas canonicalizer "
        "cannot sort list cells), one term-keyed shuffle carrying "
        "(term, doc_id) pairs.",
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    t = docs.select(
        "doc_id",
        F.explode(F.expr("filter(split(text, ' '), w -> w <> '')")).alias("term"),
    ).distinct()
    return (
        t.groupBy("term")
        .agg(F.count("*").alias("df"),
             F.concat_ws(",", F.sort_array(F.collect_set("doc_id")))
             .alias("postings"))
        .orderBy(F.desc("df"), "term")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q177 GROUP BY ALL / ORDER BY ALL dialect parity: both engines support
# the modern grouping sugar, and the resolution rules (group by every
# non-aggregate select item, order by the full select list) agree — the
# SQL-surface check a migrating user hits on day one.
@query(
    "q177_group_by_all",
    oracle="""
    SELECT event_type, CAST(hour(ts) AS INT) AS hr, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY ALL ORDER BY ALL
    """,
    doc="GROUP BY ALL + ORDER BY ALL sugar parity (identical resolution "
        "rules in Spark 4 and DuckDB).",
)
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.queries.registry import sql

    return sql(
        spark, sf_dir,
        """
        SELECT event_type, CAST(hour(ts) AS INT) AS hr, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events
        GROUP BY ALL ORDER BY ALL
        """,
    )


# --------------------------------------------------------------------------
# Q193 hard-negative mining for contrastive training: for each query vector
# (the vec_id < 100 batch) the most-similar DIFFERENT-label vector.
# Winner selection is max over (sim, -candidate_id) so ties go to the
# lowest id — no engine ambiguity. The oracle states the same argmax via
# QUALIFY row_number.
@query(
    "q193_hard_negatives",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS q_label
               FROM embeddings WHERE vec_id < 100),
    z AS (
      SELECT q.q_id, q.q_label, c.vec_id AS c_id, c.label AS c_label,
             UNNEST(q.qe) AS x, UNNEST(c.embedding) AS y
      FROM q JOIN embeddings c ON q.q_label <> c.label),
    s AS (
      SELECT q_id, q_label, c_id, c_label,
             SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
             SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n1,
             SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS n2
      FROM z GROUP BY q_id, q_label, c_id, c_label),
    r AS (
      SELECT q_id, q_label, c_id AS neg_id, c_label AS neg_label,
             CAST(ROUND(CAST(dot / (SQRT(n1) * SQRT(n2)) AS DECIMAL(18,6)),
                        4) AS DOUBLE) AS sim
      FROM s)
    SELECT q_id, q_label, neg_id, neg_label, sim FROM r
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY sim DESC, neg_id) = 1
    ORDER BY q_id
    """,
    doc="Top-1 different-label neighbor per query vector (hard-negative "
        "miner): broadcast query batch, struct-packed max_by winner, "
        "deterministic lowest-id tiebreak.",
)
def q193(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.similarity import hard_negatives

    e = tables(spark, sf_dir)["embeddings"]
    return hard_negatives(e, e.filter(F.col("vec_id") < 100)).orderBy("q_id")


# --------------------------------------------------------------------------
# Q195 PCA projection of embeddings onto the top-2 principal components
# (rows-only: the eigendecomposition of the model-sized covariance runs on
# the driver; scores pinned against numpy PCA + variance-ordering
# properties in tests/test_stats.py).
@query(
    "q195_pca_project",
    oracle=None,
    check="P: driver-side eigendecomposition of the model-sized "
          "covariance (iterative, not SQL-expressible); scores pinned "
          "against numpy PCA + variance ordering in tests/test_stats.py; "
          "the oracled covariance input is q149",
    doc="Top-2 PCA scores per embedding over the first 16 dims: one "
        "integer-exact sufficient-stats pass, driver-side eigh on the "
        "dims x dims matrix, scan-side literal-weight projection.",
)
def q195(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.similarity import pca_project

    e = tables(spark, sf_dir)["embeddings"]
    return pca_project(e, k=2, dims=16).orderBy("vec_id")


# --------------------------------------------------------------------------
# Q211 financial reconciliation audit: per order, the recomputed line total
# Σ round(extendedprice·(1−discount)·(1+tax)) in cents against the stored
# o_totalprice — the cross-table NUMERIC consistency check that q54b's
# referential audit does not cover. Per-status report keeps the output
# bounded; the per-order diff table is the drill-down (same plan minus the
# rollup). One fact-fact equi-join on the order key (bucketing both tables
# on o_orderkey makes it exchange-free at rest).
@query(
    "q211_reconciliation",
    oracle="""
    WITH l AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 100) AS BIGINT))
                  AS BIGINT) AS line_cents
      FROM lineitem GROUP BY l_orderkey),
    j AS (
      SELECT o.o_orderstatus,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS order_cents,
             COALESCE(l.line_cents, 0) AS line_cents
      FROM orders o LEFT JOIN l ON l.l_orderkey = o.o_orderkey)
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN order_cents <> line_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatched,
           CAST(MAX(ABS(order_cents - line_cents)) AS BIGINT)
             AS max_abs_diff_cents,
           CAST(SUM(order_cents - line_cents) AS BIGINT)
             AS net_diff_cents
    FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="Order-vs-lineitem monetary reconciliation per status: mismatch "
        "counts, max absolute and net drift in exact integer cents — the "
        "replication/ETL financial consistency audit.",
)
def q211(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    l = t["lineitem"].groupBy("l_orderkey").agg(
        F.expr("CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)"
               " * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)")
        .alias("line_cents"))
    j = (t["orders"].join(l, F.col("l_orderkey") == F.col("o_orderkey"),
                          "left")
         .select("o_orderstatus",
                 F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
                 .alias("order_cents"),
                 F.coalesce("line_cents", F.lit(0)).alias("line_cents")))
    return (
        j.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"),
             F.sum(F.when(F.col("order_cents") != F.col("line_cents"), 1)
                   .otherwise(0)).alias("n_mismatched"),
             F.max(F.abs(F.col("order_cents") - F.col("line_cents")))
             .alias("max_abs_diff_cents"),
             F.sum(F.col("order_cents") - F.col("line_cents"))
             .alias("net_diff_cents"))
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Q227 fulfillment-SLA report: ship lag (days from order date to line ship
# date) percentiles and breach rate per order priority — the operational
# latency table. Lags are exact integer days; p50/p90 use discrete
# percentiles over integers (engine-identical on whole-number domains);
# the SLA breach (> 90 days) rate is integer ppm. One fact-fact equi-join
# on the order key (bucketing both sides makes it exchange-free at rest).
@query(
    "q227_ship_sla",
    oracle="""
    WITH l AS (
      SELECT o.o_orderpriority AS priority,
             CAST(date_diff('day', o.o_orderdate, li.l_shipdate) AS BIGINT)
               AS lag_days
      FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey)
    SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(quantile_disc(lag_days, 0.5) AS BIGINT) AS p50_days,
           CAST(quantile_disc(lag_days, 0.9) AS BIGINT) AS p90_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_days,
           CAST(SUM(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS breach_ppm
    FROM l GROUP BY priority ORDER BY priority
    """,
    doc="Ship-lag SLA per order priority: exact integer-day p50/p90/max "
        "and >90-day breach rate in ppm.",
)
def q227(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    l = (t["lineitem"].join(
        t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_orderpriority").alias("priority"),
                F.datediff("l_shipdate", "o_orderdate").cast("bigint")
                .alias("lag_days")))
    return (
        l.groupBy("priority")
        .agg(F.count("*").alias("n_lines"),
             F.expr("CAST(percentile_disc(0.5) WITHIN GROUP"
                    " (ORDER BY lag_days) AS BIGINT)").alias("p50_days"),
             F.expr("CAST(percentile_disc(0.9) WITHIN GROUP"
                    " (ORDER BY lag_days) AS BIGINT)").alias("p90_days"),
             F.max("lag_days").alias("max_days"),
             F.expr("SUM(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END)"
                    " * 1000000 DIV COUNT(*)").alias("breach_ppm"))
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# Q231 basket-size distribution: orders bucketed by line count, with order
# counts and the average basket value per bucket in exact integer cents
# (floor DIV). One per-order rollup, then a bucket-sized aggregation.
@query(
    "q231_basket_sizes",
    oracle="""
    WITH o AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_orderkey),
    b AS (
      SELECT CASE WHEN n_lines = 1 THEN '1'
                  WHEN n_lines = 2 THEN '2'
                  WHEN n_lines <= 4 THEN '3-4'
                  WHEN n_lines <= 7 THEN '5-7'
                  ELSE '8+' END AS bucket,
             cents
      FROM o)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(SUM(cents) AS BIGINT) // COUNT(*) AS avg_basket_cents
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    doc="Order (basket) size histogram with per-bucket order counts and "
        "average basket value in exact integer cents.",
)
def q231(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    o = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        F.expr("CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))"
               " AS BIGINT)").alias("cents"))
    bucket = (F.when(F.col("n_lines") == 1, "1")
              .when(F.col("n_lines") == 2, "2")
              .when(F.col("n_lines") <= 4, "3-4")
              .when(F.col("n_lines") <= 7, "5-7")
              .otherwise("8+"))
    return (
        o.select(bucket.alias("bucket"), "cents")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("cents"))
        .select("bucket", "n_orders", "cents",
                F.expr("cents DIV n_orders").alias("avg_basket_cents"))
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Q234 revenue waterfall: gross → discount → net → tax → charged, per
# return flag, every term an exact integer-cents sum rounded per line
# exactly as TPC-H's pricing expressions do — the finance decomposition
# that must tie out row-for-row with q15's aggregates.
@query(
    "q234_revenue_waterfall",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS gross_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100)
                         AS BIGINT)) AS BIGINT) AS discount_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS net_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * l_tax
                               * 100) AS BIGINT)) AS BIGINT) AS tax_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
             AS charged_cents
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="Per-flag revenue waterfall (gross/discount/net/tax/charged) in "
        "exact per-line-rounded integer cents.",
)
def q234(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]

    def cents(expr: str, alias: str):
        return F.expr(f"CAST(SUM(CAST(ROUND(({expr}) * 100) AS BIGINT))"
                      " AS BIGINT)").alias(alias)

    return (
        li.groupBy("l_returnflag")
        .agg(cents("l_extendedprice", "gross_cents"),
             cents("l_extendedprice * l_discount", "discount_cents"),
             cents("l_extendedprice * (1 - l_discount)", "net_cents"),
             cents("l_extendedprice * (1 - l_discount) * l_tax",
                   "tax_cents"),
             cents("l_extendedprice * (1 - l_discount) * (1 + l_tax)",
                   "charged_cents"))
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Q239 materialized-view aggregate rewrite: a monthly revenue query is
# answered from a DAILY summary table (operators/mv.py routing algebra),
# never re-scanning lineitem — the summary-table rewrite every warehouse
# runs; the oracle is the direct base-table aggregate, so the hash match
# proves routed == direct.
@query(
    "q239_mv_rewrite",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
           l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                                AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)), 4)
                AS DOUBLE) AS avg_qty
    FROM lineitem
    GROUP BY date_trunc('month', l_shipdate), l_returnflag
    ORDER BY month, l_returnflag
    """,
    doc="Monthly pricing rollup answered by ROUTING to a daily-grain "
        "materialized summary table (SUM/COUNT re-aggregation, AVG as "
        "sum/count) — plan-pinned to scan the MV parquet, not lineitem.",
)
def q239(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.mv import AggRequest, MVDef, route

    li = tables(spark, sf_dir)["lineitem"]
    base = li.withColumn("ship_day", F.date_trunc("day", F.col("l_shipdate")))
    mv = MVDef(
        name="mv_lineitem_daily_flag",
        keys=("ship_day", "l_returnflag"),
        measures={
            "sum_qty": ("sum", "l_quantity"),
            "sum_price": ("sum", "l_extendedprice"),
            "cnt": ("count", "*"),
            # non-null count of the SAME column avg derives from (the MV
            # algebra refuses avg without it — SQL AVG ignores NULLs)
            "cnt_qty": ("count", "l_quantity"),
        },
    )
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    # per-process suffix: concurrent sessions (e.g. a driver run beside
    # a dev pytest) must not overwrite each other's summary files
    path = os.path.join(tempfile.gettempdir(),
                        f"inspectadb_mv_{tag}_{os.getpid()}")
    mv.store(base, path)
    req = AggRequest(
        keys={
            "month": "date_trunc('month', ship_day)",
            "l_returnflag": None,
        },
        measures={
            "sum_qty": ("sum", "l_quantity"),
            "sum_price": ("sum", "l_extendedprice"),
            "n_rows": ("count", "*"),
            "avg_qty": ("avg", "l_quantity"),
        },
    )
    out, used = route(spark, req, {mv.name: (mv, path)}, base)
    assert used == mv.name, "daily->monthly rollup must route to the MV"
    return (
        out.withColumn("avg_qty",
                       F.round(F.col("avg_qty").cast("decimal(18,6)"), 4)
                       .cast("double"))
        .orderBy("month", "l_returnflag")
    )


# --------------------------------------------------------------------------
# Q240-Q242 schema-inspection suite: DISCOVER the constraint graph of a
# replicated schema (inclusion dependencies / FK candidates, functional
# dependencies, candidate keys) instead of checking declared constraints —
# the "inspect" in a CDC automation tool. q54/q54b check known rules;
# these audit a candidate lattice and report which rules actually hold.

_INCLUSION_CASES = [
    ("lineitem.l_orderkey -> orders.o_orderkey",
     "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part.p_partkey",
     "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier.s_suppkey",
     "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey -> customer.c_custkey",
     "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey -> nation.n_nationkey",
     "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey -> nation.n_nationkey",
     "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey -> region.r_regionkey",
     "nation", "n_regionkey", "region", "r_regionkey"),
    ("events.user_id -> customer.c_custkey",
     "events", "user_id", "customer", "c_custkey"),
    ("orders.o_orderkey -> lineitem.l_orderkey",
     "orders", "o_orderkey", "lineitem", "l_orderkey"),
]


def _inclusion_oracle() -> str:
    parts = []
    for label, child, fk, parent, pk in _INCLUSION_CASES:
        parts.append(f"""
    SELECT '{label}' AS relation,
           CAST(a.n_child_rows AS BIGINT) AS n_child_rows,
           CAST(b.n_child_keys AS BIGINT) AS n_child_keys,
           CAST(c.n_matched_keys AS BIGINT) AS n_matched_keys,
           CAST(b.n_child_keys - c.n_matched_keys AS BIGINT) AS n_orphan_keys,
           c.n_matched_keys * 1000000 // nullif(b.n_child_keys, 0)
             AS containment_ppm,
           (b.n_child_keys = c.n_matched_keys AND b.n_child_keys > 0)
             AS holds
    FROM (SELECT COUNT(*) AS n_child_rows FROM {child}
          WHERE {fk} IS NOT NULL) a
    CROSS JOIN (SELECT COUNT(DISTINCT {fk}) AS n_child_keys FROM {child}
                WHERE {fk} IS NOT NULL) b
    CROSS JOIN (SELECT COUNT(*) AS n_matched_keys FROM
                  (SELECT DISTINCT {fk} AS k FROM {child}
                   WHERE {fk} IS NOT NULL) ck
                WHERE EXISTS (SELECT 1 FROM {parent} p
                              WHERE p.{pk} = ck.k)) c""")
    return " UNION ALL ".join(parts) + " ORDER BY relation"


@query(
    "q240_inclusion_audit",
    oracle=_inclusion_oracle(),
    doc="Inclusion-dependency (FK-candidate) discovery across the star "
        "schema + events: per candidate edge, distinct-key containment in "
        "ppm, orphan keys, holds flag. Child sides reduce to DISTINCT keys "
        "before any join; parent key domains broadcast.",
)
def q240(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.quality import inclusion_audit

    t = tables(spark, sf_dir)
    cases = [(label, t[child], fk, t[parent], pk)
             for label, child, fk, parent, pk in _INCLUSION_CASES]
    return inclusion_audit(cases).orderBy("relation")


_FD_CASES = [
    ("orders: o_orderkey -> o_custkey", "orders", ["o_orderkey"], "o_custkey"),
    ("orders: o_custkey -> o_orderpriority",
     "orders", ["o_custkey"], "o_orderpriority"),
    ("lineitem: l_orderkey,l_linenumber -> l_partkey",
     "lineitem", ["l_orderkey", "l_linenumber"], "l_partkey"),
    ("lineitem: l_orderkey -> l_suppkey",
     "lineitem", ["l_orderkey"], "l_suppkey"),
    ("customer: c_custkey -> c_nationkey",
     "customer", ["c_custkey"], "c_nationkey"),
    ("nation: n_regionkey -> n_name", "nation", ["n_regionkey"], "n_name"),
    ("events: event_id -> user_id", "events", ["event_id"], "user_id"),
    ("part: p_brand -> p_type", "part", ["p_brand"], "p_type"),
]


def _fd_oracle() -> str:
    parts = []
    for label, t, lhs, rhs in _FD_CASES:
        parts.append(f"""
    SELECT '{label}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(CASE WHEN nd > 1 THEN 1 END) AS BIGINT) AS n_violating,
           CAST(MAX(nd) AS BIGINT) AS max_rhs_per_group,
           COUNT(CASE WHEN nd > 1 THEN 1 END) = 0 AS holds
    FROM (SELECT COUNT(DISTINCT {rhs}) AS nd FROM {t}
          GROUP BY {', '.join(lhs)}) g""")
    return " UNION ALL ".join(parts) + " ORDER BY fd"


@query(
    "q241_fd_audit",
    oracle=_fd_oracle(),
    doc="Functional-dependency discovery: per candidate lhs -> rhs, the "
        "lhs group count, violating groups, worst rhs fan-out, holds flag "
        "— one COUNT(DISTINCT) groupBy per case, one-row folds after.",
)
def q241(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.quality import fd_audit

    t = tables(spark, sf_dir)
    cases = [(label, t[tbl], lhs, rhs) for label, tbl, lhs, rhs in _FD_CASES]
    return fd_audit(cases).orderBy("fd")


_KEY_CASES = [
    ("region(r_regionkey)", "region", ["r_regionkey"]),
    ("nation(n_nationkey)", "nation", ["n_nationkey"]),
    ("nation(n_name)", "nation", ["n_name"]),
    ("customer(c_custkey)", "customer", ["c_custkey"]),
    ("customer(c_nationkey)", "customer", ["c_nationkey"]),
    ("supplier(s_suppkey)", "supplier", ["s_suppkey"]),
    ("part(p_partkey)", "part", ["p_partkey"]),
    ("orders(o_orderkey)", "orders", ["o_orderkey"]),
    ("lineitem(l_orderkey,l_linenumber)",
     "lineitem", ["l_orderkey", "l_linenumber"]),
    ("lineitem(l_orderkey)", "lineitem", ["l_orderkey"]),
    ("events(event_id)", "events", ["event_id"]),
    ("documents(doc_id)", "documents", ["doc_id"]),
    ("embeddings(vec_id)", "embeddings", ["vec_id"]),
]


def _key_oracle() -> str:
    parts = []
    for label, t, cols in _KEY_CASES:
        tup = cols[0] if len(cols) == 1 else "(" + ", ".join(cols) + ")"
        parts.append(f"""
    SELECT '{label}' AS key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {tup}) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT {tup}) AS BIGINT) AS n_dup,
           COUNT(*) = COUNT(DISTINCT {tup}) AS is_key
    FROM {t}""")
    return " UNION ALL ".join(parts) + " ORDER BY key"


@query(
    "q242_candidate_keys",
    oracle=_key_oracle(),
    doc="Candidate-key discovery: per (table, column set), row count vs "
        "distinct tuple count and an is_key verdict — including negative "
        "probes (non-keys) so the audit demonstrates rejection too.",
)
def q242(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.quality import key_candidates

    t = tables(spark, sf_dir)
    cases = [(label, t[tbl], cols) for label, tbl, cols in _KEY_CASES]
    return key_candidates(cases).orderBy("key")


# --------------------------------------------------------------------------
# Q251 FK enforcement report: q240 DISCOVERS which inclusion edges hold;
# this ENFORCES the declared ones — per edge, how many child ROWS route
# clean vs quarantine (q240 counts keys; enforcement bills by row). The
# events->customer edge is the deliberately dirty one.
_Q251_EDGES = [
    ("orders.o_custkey -> customer.c_custkey",
     "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_suppkey -> supplier.s_suppkey",
     "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events.user_id -> customer.c_custkey",
     "events", "user_id", "customer", "c_custkey"),
]


def _q251_oracle() -> str:
    parts = []
    for label, ct, fk, pt, pk in _Q251_EDGES:
        parts.append(f"""
    SELECT '{label}' AS edge,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN {fk} IS NULL OR EXISTS
                  (SELECT 1 FROM {pt} p WHERE p.{pk} = c.{fk})
                THEN 1 END) AS BIGINT) AS n_clean,
           CAST(COUNT(CASE WHEN {fk} IS NOT NULL AND NOT EXISTS
                  (SELECT 1 FROM {pt} p WHERE p.{pk} = c.{fk})
                THEN 1 END) AS BIGINT) AS n_quarantined
    FROM {ct} c""")
    return " UNION ALL ".join(parts) + " ORDER BY edge"


@query(
    "q251_fk_enforcement",
    oracle=_q251_oracle(),
    doc="Row-level FK enforcement per declared edge: clean vs quarantined "
        "row counts from ONE broadcast key-domain probe per edge "
        "(operators/quality.py::enforce_inclusion).",
)
def q251(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from inspectadb_spark.operators.quality import enforce_inclusion

    t = tables(spark, sf_dir)
    outs = []
    for label, ct, fk, pt, pk in _Q251_EDGES:
        clean, quar = enforce_inclusion(t[ct], t[pt], fk, pk)
        outs.append(
            clean.agg(F.count(F.lit(1)).alias("n_clean"))
            .crossJoin(quar.agg(F.count(F.lit(1)).alias("n_quarantined")))
            .select(
                F.lit(label).alias("edge"),
                (F.col("n_clean") + F.col("n_quarantined")).alias("n_rows"),
                "n_clean", "n_quarantined",
            )
        )
    return reduce(lambda a, b: a.unionAll(b), outs).orderBy("edge")


# --------------------------------------------------------------------------
# Q254 grain navigator served from a multi-grain summary: ONE stored
# summary (a groupingSets pass over the declared grains, grouping_id kept)
# answers the returnflag grain as a pure filter+projection — no
# re-aggregation, no exchange (plan-pinned in test_mv/test_plans). Oracle
# is the direct base-table aggregate, so the hash match certifies the
# multi-grain storage + mask addressing end to end.
@query(
    "q254_grain_navigator",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                                AS DOUBLE) / COUNT(l_quantity)
                           AS DECIMAL(18,6)), 4) AS DOUBLE) AS avg_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="Per-returnflag rollup answered from the (ship_day, returnflag) "
        "multi-grain summary's exact (returnflag) grain — filter + "
        "projection serving, zero aggregation in the plan.",
)
def q254(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.mv import AggRequest, MVDef, route

    li = tables(spark, sf_dir)["lineitem"]
    base = li.withColumn("ship_day", F.date_trunc("day", F.col("l_shipdate")))
    gs = MVDef(
        name="gs_lineitem",
        keys=("ship_day", "l_returnflag"),
        sets=(("ship_day", "l_returnflag"), ("l_returnflag",), ()),
        measures={"sum_qty": ("sum", "l_quantity"),
                  "cnt": ("count", "*"),
                  "cnt_qty": ("count", "l_quantity")},
    )
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(tempfile.gettempdir(),
                        f"inspectadb_gsmv_{tag}_{os.getpid()}")
    gs.store(base, path)
    req = AggRequest(
        keys={"l_returnflag": None},
        measures={"n_rows": ("count", "*"),
                  "sum_qty": ("sum", "l_quantity"),
                  "avg_qty": ("avg", "l_quantity")},
    )
    out, used = route(spark, req, {gs.name: (gs, path)}, base)
    assert used == gs.name, "declared grain must serve from the summary"
    return (
        out.withColumn("avg_qty",
                       F.round(F.col("avg_qty").cast("decimal(18,6)"), 4)
                       .cast("double"))
        .select("l_returnflag", "n_rows", "sum_qty", "avg_qty")
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Q271 value-verified multimodal feature extraction (operators/
# multimodal.py::attach_pcm8_blobs + pcm8_frame_features): md5-chained
# 8-bit PCM payloads decoded and feature-extracted through Arrow-batched
# mapInPandas, with every output integer recomputed nibble-by-nibble in
# SQL — the first multimodal query whose FEATURE VALUES (not just blob
# sizes) hash-match an oracle. Exact integer math end to end: per-frame
# mean-square energy (no sqrt), silence frames, peak deviation, clips.
_Q271_V = ("(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)"
           " || ':au:' || CAST(k AS VARCHAR)), 2*j + 1, 1)) - 1) * 16 + "
           "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)"
           " || ':au:' || CAST(k AS VARCHAR)), 2*j + 2, 1)) - 1)")


@query(
    "q271_audio_pcm8_features",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, k * 16 + j AS idx, {_Q271_V} AS v
      FROM documents,
           UNNEST(generate_series(0, 15)) AS uk(k),
           UNNEST(generate_series(0, 15)) AS uj(j)),
    frames AS (
      SELECT doc_id, idx // 32 AS frame,
             CAST(SUM((v - 128) * (v - 128)) // 32 AS BIGINT) AS energy
      FROM s GROUP BY doc_id, idx // 32),
    doc_fr AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM(energy) // COUNT(*) AS BIGINT) AS mean_energy,
             CAST(SUM(CASE WHEN energy < 4000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_silence
      FROM frames GROUP BY doc_id),
    doc_s AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(MAX(ABS(v - 128)) AS BIGINT) AS peak,
             CAST(SUM(CASE WHEN v = 0 OR v = 255 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clip
      FROM s GROUP BY doc_id)
    SELECT doc_id, n_samples, n_frames, mean_energy, n_silence, peak,
           n_clip
    FROM doc_s JOIN doc_fr USING (doc_id) ORDER BY doc_id
    """,
    doc="PCM8 audio frame features through mapInPandas with the payload "
        "bytes recomputed in SQL: sample/frame counts, integer "
        "mean-square energy, silence frames, peak deviation, clips.",
)
def q271(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.multimodal import (
        attach_pcm8_blobs,
        pcm8_frame_features,
    )

    d = tables(spark, sf_dir)["documents"]
    return pcm8_frame_features(attach_pcm8_blobs(d)).orderBy("doc_id")


# --------------------------------------------------------------------------
# Q336 bucketed co-located join (VERDICT r10 item 3: unit-only -> oracled).
# Both sides are persisted bucketed+sorted on the join key, so the
# SortMergeJoin needs NO Exchange on either side — the shuffle was paid once
# at write time (tests/test_plans.py pins the zero-exchange property; this
# row pins the VALUES through the bucketed path against the plain join).
# At 100 TB this is the recurring-join layout: bucket the fact tables once,
# then every orderkey join is exchange-free.
@query(
    "q336_bucketed_join",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           {dsum('l_quantity', 'sum_qty')},
           {dsum('l_extendedprice * (1 - l_discount)', 'net')}
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Join through catalog-bucketed tables (zero-exchange SMJ path); "
        "values must equal the plain join the oracle runs.",
)
def q336(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from inspectadb_spark.operators.scale import bucketed_write

    db = "bkt_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    loc = _tmp(sf_dir, "q336db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    # a fresh session's catalog doesn't know tables a previous process left
    # on disk, and saveAsTable refuses a pre-existing managed location —
    # drop catalog entries (removes data when known) AND sweep the dirs
    for tbl in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{tbl}")
        shutil.rmtree(os.path.join(loc, tbl), ignore_errors=True)
    t = tables(spark, sf_dir)
    bucketed_write(
        t["orders"].select("o_orderkey", "o_orderpriority"),
        f"{db}.orders_b", "o_orderkey", 8, sort_col="o_orderkey",
    )
    bucketed_write(
        t["lineitem"].select(
            F.col("l_orderkey").alias("o_orderkey"),
            "l_quantity", "l_extendedprice", "l_discount",
        ),
        f"{db}.lineitem_b", "o_orderkey", 8, sort_col="o_orderkey",
    )
    joined = (
        spark.table(f"{db}.orders_b")
        .hint("merge")  # pin the SMJ path; broadcast would also be correct
        .join(spark.table(f"{db}.lineitem_b"), "o_orderkey")
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.expr(f"CAST(SUM({dec('l_quantity')}) AS DOUBLE)").alias("sum_qty"),
            F.expr(
                f"CAST(SUM({dec('l_extendedprice * (1 - l_discount)')}) AS DOUBLE)"
            ).alias("net"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q337 binaryFile ingest accounting (VERDICT r10 item 3). Documents are
# written out as real files partitioned by doc_id % 8 (one text file per
# bucket via coalesce(1) — test-scale only; at 100 TB you keep the natural
# task parallelism and account per bucket, not per file), then re-ingested
# through the binaryFile source. The oracle re-derives every byte from the
# documents table alone: each row contributes strlen(text) + 1 (the text
# writer's newline), so a match proves the listing, the metadata `length`
# column, and the content bytes all survived the roundtrip. pathGlobFilter
# prunes _SUCCESS at listing time (never read-then-filter).
@query(
    "q337_binaryfile_ingest",
    oracle="""
    SELECT CAST(doc_id % 8 AS INT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(strlen(text) + 1) AS BIGINT) AS bytes
    FROM documents GROUP BY 1 ORDER BY 1
    """,
    doc="binaryFile re-ingest of a partitioned text export; per-bucket "
        "doc and byte accounting derived independently by the oracle.",
)
def q337(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.sources.files import read_binary_files

    out = _tmp(sf_dir, "q337")
    d = tables(spark, sf_dir)["documents"].select(
        (F.col("doc_id") % 8).cast("int").alias("bucket"), "text"
    )
    d.coalesce(1).write.mode("overwrite").partitionBy("bucket").text(out)
    files = read_binary_files(spark, out, glob="*.txt")
    return (
        files.select(
            F.regexp_extract("path", r"bucket=(\d+)", 1).cast("int").alias("bucket"),
            F.col("length"),
            # newline-terminated lines: line count == doc count per bucket
            (F.size(F.split(F.col("content").cast("string"), "\n", -1)) - 1)
            .cast("bigint")
            .alias("n_lines"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("n_lines").alias("n_docs"),
            F.sum("length").cast("bigint").alias("bytes"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Q338 Python DataSource roundtrip (VERDICT r10 item 3). The custom
# `synthetic_events` source generates rows from md5(event_id) arithmetic in
# partition-parallel Python; the oracle REGENERATES the same rows in pure
# DuckDB SQL (md5 + hex-digit arithmetic), so a match proves the DataSource
# plumbing — schema declaration, partition planning, per-partition reads —
# delivered exactly the declared rows, not merely the right count.
def _hex_int(expr: str, start: int, n: int) -> str:
    """Portable hex-substring -> integer (DuckDB lacks strtol)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({expr}, {start + i}, 1)) - 1)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def _pyds_oracle(rows: int = 600) -> str:
    h = "md5('synth:' || CAST(event_id AS VARCHAR))"
    etypes = "', '".join(("view", "click", "purchase", "signup", "error"))
    return f"""
    WITH e AS (
      SELECT CAST(range AS BIGINT) AS event_id, {h} AS h FROM range({rows})),
    r AS (
      SELECT event_id,
             {_hex_int('h', 1, 4)} % 1000 AS user_id,
             ['{etypes}'][({_hex_int('h', 5, 2)} % 5) + 1] AS event_type,
             {_hex_int('h', 7, 6)} % 50000 AS cents
      FROM e)
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(SUM(user_id) AS BIGINT) AS sum_user,
           CAST(MIN(event_id) AS BIGINT) AS min_eid,
           CAST(MAX(event_id) AS BIGINT) AS max_eid
    FROM r GROUP BY event_type ORDER BY event_type
    """


@query(
    "q338_pyds_roundtrip",
    oracle=_pyds_oracle(),
    doc="Python DataSource scan (4 partition splits) aggregated per event "
        "type; the oracle regenerates the md5-derived rows in SQL.",
)
def q338(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.sources.pydatasource import register

    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 600)
        .option("partitions", 4)
        .load()
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            # value is round(cents/100, 2); *100 + round recovers the exact
            # integer cents, so the SUM is integer-exact on both sides
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
            F.sum("user_id").cast("bigint").alias("sum_user"),
            F.min("event_id").alias("min_eid"),
            F.max("event_id").alias("max_eid"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q339/Q340 shared oracle machinery (SURVEY.md round-12 candidates, landed
# in round 11): the IVF model is made fully SQL-reproducible by taking the
# centroids FROM THE TABLE ITSELF — the embeddings of vec_id 0/100/200/300,
# cell id = vec_id/100 — so DuckDB can re-derive every vector's cell
# (argmax cosine, lower cell on ties: the exact ivf_assign() order) and the
# query side's probe ranking (_probe_cells' argsort order) from first
# principles. Scores compare as raw doubles; the fixture's vectors are
# i.i.d. random 64-dim, so cross-cell score ties below float precision do
# not occur, and the FINAL sim is ppm-quantized exactly like q193/q224.
_IVF_CELL_CTES = """
    cents AS (
      SELECT CAST(vec_id // 100 AS INT) AS cell, embedding AS cv
      FROM embeddings WHERE vec_id IN (0, 100, 200, 300)),
    zc AS (
      SELECT e.vec_id, c.cell, UNNEST(e.embedding) AS x, UNNEST(c.cv) AS y
      FROM embeddings e CROSS JOIN cents c),
    scored AS (
      SELECT vec_id, cell,
             SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
               / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS s
      FROM zc GROUP BY vec_id, cell
      HAVING SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) > 0),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cell) AS r
        FROM scored) t WHERE r = 1)
"""


def _centroid_rows(e: DataFrame):
    """The 4 deterministic centroid vectors (model-sized collect: 4 rows —
    the model itself, same class as q43e's kmeans_fit output)."""
    import numpy as np

    rows = (e.filter(F.col("vec_id").isin(0, 100, 200, 300))
            .orderBy("vec_id").collect())
    return np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)


# --------------------------------------------------------------------------
# Q339 batched IVF k-NN join (operators/similarity.py ivf_knn_join): every
# query row gets its top-k through a CELL EQUI-JOIN — ~|Q|·n_probe/n_cells
# of the pairs the q224 broadcast cross join generates — and the oracle
# re-derives assignment, probing, candidate generation and ppm-cosine
# ranking in pure SQL restricted to the same probed cells.
@query(
    "q339_ivf_knn_join",
    oracle=f"""
    WITH {_IVF_CELL_CTES},
    probe AS (
      SELECT vec_id AS q_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cell) AS r
        FROM scored WHERE vec_id % 25 = 3) t WHERE r <= 2),
    cand AS (
      SELECT p.q_id, a.vec_id AS n_id
      FROM probe p JOIN assigned a ON a.cell = p.cell
      WHERE a.vec_id <> p.q_id),
    zp AS (
      SELECT c.q_id, c.n_id,
             UNNEST(q.embedding) AS x, UNNEST(n.embedding) AS y
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.q_id
      JOIN embeddings n ON n.vec_id = c.n_id),
    sims AS (
      SELECT q_id, n_id,
             CAST(CAST(SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                       / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                          * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS sim_ppm
      FROM zp GROUP BY q_id, n_id
      HAVING SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) > 0
         AND SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) > 0)
    SELECT q_id, n_id, sim_ppm, rank FROM (
      SELECT q_id, n_id, sim_ppm,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY sim_ppm DESC, n_id)
                  AS INT) AS rank
      FROM sims) t
    WHERE rank <= 3 ORDER BY q_id, rank
    """,
    doc="Batched IVF k-NN join (cell equi-join, n_probe=2 of 4 cells, "
        "k=3) for the vec_id%25=3 query batch; the oracle re-derives "
        "cells, probes and ppm-cosine ranks from the table alone.",
)
def q339(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.similarity import ivf_knn_join

    e = tables(spark, sf_dir)["embeddings"]
    cents = _centroid_rows(e)
    q = e.filter(F.col("vec_id") % 25 == 3)
    return (ivf_knn_join(q, e, cents, k=3, n_probe=2)
            .orderBy("q_id", "rank"))


# --------------------------------------------------------------------------
# Q340 persisted-index serving (save_ivf_index → ivf_topk_from_index): the
# q43d shape against the PERSISTED layout — build the cell-partitioned
# index, then serve one query with a probe that reads only 2 of 4 inverted
# lists (the partition-filter scan test_cluster pins). The oracle computes
# exact cosine top-k restricted to the same probed cells, so a match proves
# the model table, the partitioned lists and the probe-time pruning all
# preserve the inline ivf_topk contract.
@query(
    "q340_ivf_index_topk",
    oracle=f"""
    WITH {_IVF_CELL_CTES},
    probe AS (
      SELECT cell FROM (
        SELECT cell, ROW_NUMBER() OVER (ORDER BY s DESC, cell) AS r
        FROM scored WHERE vec_id = 7) t WHERE r <= 2),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
    z AS (
      SELECT e.vec_id, UNNEST(e.embedding) AS x, UNNEST(q.qe) AS y
      FROM embeddings e
      JOIN assigned a ON a.vec_id = e.vec_id
      JOIN probe p ON p.cell = a.cell
      CROSS JOIN q),
    s AS (
      SELECT vec_id,
             SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
             SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n1,
             SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS n2
      FROM z GROUP BY vec_id)
    SELECT vec_id,
           CAST(ROUND(CAST(dot / (SQRT(n1) * SQRT(n2)) AS DECIMAL(18,6)), 4)
                AS DOUBLE) AS sim
    FROM s ORDER BY sim DESC, vec_id LIMIT 10
    """,
    doc="Top-10 by cosine served from the persisted IVF index (2 of 4 "
        "cells probed, partition-filter scan); oracle = exact cosine "
        "restricted to the same probed cells.",
)
def q340(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.similarity import (
        ivf_topk_from_index,
        save_ivf_index,
    )

    e = tables(spark, sf_dir)["embeddings"]
    cents = _centroid_rows(e)
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 7).first()["embedding"]]
    path = _tmp(sf_dir, "q340idx")
    save_ivf_index(e, cents, path)
    return ivf_topk_from_index(spark, path, qvec, k=10, n_probe=2)


# --------------------------------------------------------------------------
# Q341 corrupt-record quarantine ingest (sources/files.py): orders are
# exported as JSON lines with a deterministic subset (o_orderkey % 97 = 13)
# replaced by malformed bytes, re-ingested through the strict quarantine
# reader, and accounted on BOTH sides. The oracle re-derives every figure
# from the orders table alone, so a match proves the split is
# total-preserving (every line in exactly one side), the good side parsed
# the declared schema, and the quarantined side kept the raw bytes.
@query(
    "q341_quarantine_ingest",
    oracle="""
    SELECT
      CAST(SUM(CASE WHEN o_orderkey % 97 <> 13 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_good,
      CAST(SUM(CASE WHEN o_orderkey % 97 <> 13 THEN o_orderkey ELSE 0 END)
           AS BIGINT) AS sum_key_good,
      CAST(SUM(CASE WHEN o_orderkey % 97 <> 13 THEN o_custkey ELSE 0 END)
           AS BIGINT) AS sum_cust_good,
      CAST(SUM(CASE WHEN o_orderkey % 97 = 13 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_quarantined,
      CAST(SUM(CASE WHEN o_orderkey % 97 = 13
               THEN strlen('CORRUPT<' || CAST(o_orderkey AS VARCHAR))
               ELSE 0 END) AS BIGINT) AS quarantined_bytes
    FROM orders
    """,
    doc="Quarantine ingest accounting over a JSON-lines orders export with "
        "planted malformed lines; the oracle re-derives both sides from "
        "the orders table, proving the split is total-preserving.",
)
def q341(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    from inspectadb_spark.sources.files import read_json_with_quarantine

    o = tables(spark, sf_dir)["orders"]
    line = F.when(
        F.col("o_orderkey") % 97 == 13,
        F.concat(F.lit("CORRUPT<"), F.col("o_orderkey").cast("string")),
    ).otherwise(F.to_json(F.struct(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("c"))))
    src = _tmp(sf_dir, "q341src")
    o.select(line.alias("value")).write.mode("overwrite").text(src)

    schema = StructType([
        StructField("k", LongType()), StructField("c", LongType())])
    good, bad = read_json_with_quarantine(
        spark, src, schema, quarantine_path=_tmp(sf_dir, "q341quar"))
    g = good.agg(
        F.count("*").alias("n_good"),
        F.sum("k").alias("sum_key_good"),
        F.sum("c").alias("sum_cust_good"))
    b = bad.agg(
        F.count("*").alias("n_quarantined"),
        F.sum(F.length("value")).cast("bigint").alias("quarantined_bytes"))
    return g.crossJoin(b)


# --------------------------------------------------------------------------
# Q343 k-anonymity / l-diversity release audit (Sweeney 2002;
# Machanavajjhala 2007): quasi-identifiers (c_nationkey, acctbal band of
# 2000), sensitive attribute c_mktsegment. One row per k threshold with
# the re-identification risk mass below k (groups, rows, exact integer
# ppm) and the monoculture counters no k can fix (groups/rows whose
# sensitive set is a single value). The structural/linkage face of
# privacy beside the content-level PII regex screens (text.redact /
# blocklist); all integer-exact, one map-side-combinable QI group-by, the
# threshold sweep explodes the model-sized group table. The per-group
# sufficient statistics are a COUNT and a bounded distinct SET — the
# `count`/`set` IncrementalAggregate kinds — so S55 maintains the same
# group table live and reads out through the SAME k_anonymity_readout.
# The fixture tells the true scale story: ~43% of rows sit in sub-2
# groups at sf0.001, 0.13% at sf0.01, zero risk at sf0.1 — growing
# corpora anonymize; the lint-checked statistics vary at both SFs.
@query(
    "q343_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey AS nation,
             CAST(FLOOR(c_acctbal / 2000) AS INT) AS bal_band,
             COUNT(*) AS n,
             COUNT(DISTINCT c_mktsegment) AS l
      FROM customer GROUP BY 1, 2),
    x AS (SELECT g.*, UNNEST([2, 5, 10, 20]) AS k FROM g)
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_lt_k,
           CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
             AS rows_lt_k,
           CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) * 1000000
                // SUM(n) AS BIGINT) AS rows_lt_k_ppm,
           CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_l_lt_2,
           CAST(SUM(CASE WHEN l < 2 THEN n ELSE 0 END) AS BIGINT)
             AS rows_l_lt_2
    FROM x GROUP BY k ORDER BY k
    """,
    doc="k-anonymity / l-diversity audit over (nation, balance-band) "
        "quasi-identifier groups with c_mktsegment sensitive: risk mass "
        "below each k threshold plus monoculture counters, integer-exact.",
)
def q343(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.privacy import (
        k_anonymity_readout, qi_group_stats,
    )

    c = tables(spark, sf_dir)["customer"]
    groups = qi_group_stats(
        c.select(F.col("c_nationkey").alias("nation"),
                 F.expr("CAST(FLOOR(c_acctbal / 2000) AS INT)")
                 .alias("bal_band"), "c_mktsegment"),
        ["nation", "bal_band"], "c_mktsegment")
    return k_anonymity_readout(groups)


# --------------------------------------------------------------------------
# Q344 k-anonymization operating curve (the ENFORCE companion of q343's
# audit): global recoding of the balance quasi-identifier over a
# generalization ladder (band widths 2000/4000/8000/16000), exact sub-k
# (k=5) risk mass per width, and the chosen width — smallest with residual
# risk <= 5% ppm budget, else the widest, whose residue k_anonymize then
# suppresses. The corpus is scanned once at base width; coarser widths
# re-aggregate the model-sized group table via the floor-nesting law
# floor(v/(w·m)) = floor(floor(v/w)/m), which the DuckDB oracle
# deliberately does NOT use (it re-bins from raw values per width), so
# the law itself is cross-checked end-to-end. Fixture story: sf0.001
# never meets the budget (chooses 16000, 26% suppressed — small corpora
# anonymize expensively); sf0.01 settles at 4000 with 1.8% residue.
@query(
    "q344_k_anonymize_sweep",
    oracle="""
    WITH base AS (
      SELECT c_nationkey AS nation, c_acctbal AS v FROM customer),
    w AS (SELECT UNNEST([1, 2, 4, 8]) AS m),
    g AS (
      SELECT m, nation,
             CAST(FLOOR(v / (2000.0 * m)) AS INT) AS band,
             COUNT(*) AS n
      FROM base CROSS JOIN w GROUP BY m, nation, band),
    s AS (
      SELECT CAST(m * 2000 AS INT) AS width,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_lt_k,
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS rows_lt_k,
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) * 1000000
                  // SUM(n) AS BIGINT) AS rows_lt_k_ppm
      FROM g GROUP BY m),
    sel AS (
      SELECT COALESCE(MIN(CASE WHEN rows_lt_k_ppm <= 50000
                                THEN width END), MAX(width)) AS cw
      FROM s)
    SELECT width, n_groups, groups_lt_k, rows_lt_k, rows_lt_k_ppm,
           CAST(CASE WHEN width = cw THEN 1 ELSE 0 END AS INT) AS is_chosen
    FROM s CROSS JOIN sel ORDER BY width
    """,
    doc="k-anonymization generalization ladder over (nation, balance "
        "band): per-width exact sub-5 risk mass and the chosen width "
        "(smallest within a 5% residual budget, else widest).",
)
def q344(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.privacy import anonymize_sweep

    c = tables(spark, sf_dir)["customer"]
    return anonymize_sweep(
        c.select(F.col("c_nationkey").alias("nation"), "c_acctbal"),
        ["nation"], "c_acctbal", k=5, base_width=2000.0,
        multipliers=(1, 2, 4, 8), budget_ppm=50000)


# --------------------------------------------------------------------------
# Q345 t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
# member of the release-hygiene triad: k-anonymity (q343) bounds LINKAGE,
# l-diversity (q343) bounds monoculture, t-closeness bounds the SKEWNESS
# attack l-diversity misses — a group can hold several sensitive values yet
# still leak if its distribution sits far from the corpus-global one. Same
# (nation, balance-band) quasi-identifiers and c_mktsegment sensitive as
# q343, so the triad reads as one report. Per-group total-variation
# distance is integer-exact via the 2·n·N scaling, with every sensitive
# value ABSENT from a group folded into a closed-form n·N correction — the
# plan joins the observed (QI, s) pair table against the broadcast global
# marginal only, never QI-domain x sensitive-domain. The pair counts are
# the `count` IncrementalAggregate kind keyed by (QI, s), so S57 maintains
# the same table live and reads out through the SAME t_closeness_readout.
# Fixture story: sf0.001 has 91% of rows above t=0.5 (tiny groups are far
# from the global mix in TVD — small corpora cannot claim closeness);
# sf0.01 drops to 1.9% — the same convergence-by-growth story as q343.
@query(
    "q345_t_closeness",
    oracle="""
    WITH pc AS (
      SELECT c_nationkey AS nation,
             CAST(FLOOR(c_acctbal / 2000) AS INT) AS bal_band,
             c_mktsegment AS s, COUNT(*) AS c
      FROM customer GROUP BY 1, 2, 3),
    tot AS (SELECT SUM(c) AS big_n FROM pc),
    sm AS (SELECT s, SUM(c) AS cs FROM pc GROUP BY 1),
    gn AS (SELECT nation, bal_band, SUM(c) AS n FROM pc GROUP BY 1, 2),
    d AS (
      SELECT pc.nation, pc.bal_band, MIN(gn.n) AS n,
             CAST((SUM(ABS(pc.c * tot.big_n - sm.cs * gn.n) - sm.cs * gn.n)
                   + MIN(gn.n) * MIN(tot.big_n)) * 1000000
                  // (2 * MIN(gn.n) * MIN(tot.big_n)) AS BIGINT) AS tvd_ppm
      FROM pc JOIN sm USING (s)
              JOIN gn USING (nation, bal_band)
              CROSS JOIN tot
      GROUP BY pc.nation, pc.bal_band),
    x AS (SELECT d.*, UNNEST([100000, 200000, 300000, 500000]) AS t_ppm
          FROM d)
    SELECT t_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN tvd_ppm > t_ppm THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_gt_t,
           CAST(SUM(CASE WHEN tvd_ppm > t_ppm THEN n ELSE 0 END) AS BIGINT)
             AS rows_gt_t,
           CAST(SUM(CASE WHEN tvd_ppm > t_ppm THEN n ELSE 0 END) * 1000000
                // SUM(n) AS BIGINT) AS rows_gt_t_ppm,
           CAST(MAX(tvd_ppm) AS BIGINT) AS max_tvd_ppm
    FROM x GROUP BY t_ppm ORDER BY t_ppm
    """,
    doc="t-closeness audit over (nation, balance-band) QI groups with "
        "c_mktsegment sensitive: per-threshold groups/rows whose "
        "sensitive distribution sits further than t (total-variation, "
        "exact integer ppm) from the corpus-global one.",
)
def q345(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.privacy import (
        sensitive_pair_counts, t_closeness_readout,
    )

    c = tables(spark, sf_dir)["customer"]
    pairs = sensitive_pair_counts(
        c.select(F.col("c_nationkey").alias("nation"),
                 F.expr("CAST(FLOOR(c_acctbal / 2000) AS INT)")
                 .alias("bal_band"), "c_mktsegment"),
        ["nation", "bal_band"], "c_mktsegment")
    return t_closeness_readout(pairs, ["nation", "bal_band"],
                               "c_mktsegment")


# --------------------------------------------------------------------------
# Q347 differentially-private noisy release (Dwork et al. 2006): per-nation
# customer counts released through the Laplace mechanism at an epsilon
# ladder (0.5 strict / 2.0 loose; sensitivity 1) — the release-side member
# of the privacy family: q343/q345 AUDIT a release, q344 ENFORCES by
# generalize+suppress, q347 PERTURBS, exchanging exactness for a worst-case
# ε-DP bound (ladder total Σε by sequential composition, pinned in tests).
# Noise is the inverse-CDF Laplace draw with u derived deterministically
# from md5(cell:salt:rung) — a keyed-PRF stand-in for the mechanism RNG
# (the q65/q83 seeded convention) making the release replayable and
# engine-invariant; u = (v+1/2)/2^32 is an exact double (every term a
# multiple of 2^-32), ln is DECIMAL-quantized before the exact-decimal
# scale multiply (the q132 two-step), so DuckDB re-derives the identical
# noisy integers from first principles. Negative noisy counts release
# as-is (clamping is consumer post-processing; baking it in would bias).
@query(
    "q347_dp_noisy_release",
    oracle="""
    WITH g AS (
      SELECT c_nationkey AS nation, COUNT(*) AS n FROM customer GROUP BY 1),
    r AS (SELECT * FROM (VALUES ('e05', 0.5), ('e20', 2.0)) t(lbl, eps)),
    x AS (
      SELECT nation, n, lbl, eps,
             CAST(('0x' || substr(md5(CAST(LENGTH(CAST(nation AS VARCHAR))
                                           AS VARCHAR)
                                      || '#' || CAST(nation AS VARCHAR)
                                      || ':dp:' || lbl), 1, 8))
                  AS BIGINT) AS v
      FROM g CROSS JOIN r),
    z AS (
      SELECT nation, n, lbl, eps,
             CASE WHEN (v + 0.5) / 4294967296.0 >= 0.5
                  THEN 1 ELSE -1 END AS sg,
             ROUND(CAST(ln(1 - 2 * abs((v + 0.5) / 4294967296.0 - 0.5))
                        AS DECIMAL(18,6)), 4) AS lnq
      FROM x)
    SELECT lbl, CAST(eps AS DOUBLE) AS eps, nation,
           CAST(ROUND(n + (-sg) * CAST(1.0 / eps AS DECIMAL(18,6)) * lnq, 0)
                AS BIGINT) AS n_noisy
    FROM z ORDER BY lbl, nation
    """,
    doc="Laplace-mechanism DP release of per-nation customer counts at an "
        "epsilon ladder, with deterministic keyed-PRF noise so the release "
        "is replayable and the oracle re-derives identical noisy integers.",
)
def q347(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.privacy import dp_noisy_release

    c = tables(spark, sf_dir)["customer"]
    return dp_noisy_release(
        c.select(F.col("c_nationkey").alias("nation")), ["nation"])


# --------------------------------------------------------------------------
# Q348 bounded-contribution DP sum release: per-nation total order spend
# through the Laplace mechanism with per-CUSTOMER contribution clipping at
# C = 3,000,000 (binds on ~30% of customers — the fixture makes the clip
# real, not vacuous) — the realistic sibling of q347's count release: an
# unbounded SUM has unbounded user-level sensitivity (one whale moves it
# arbitrarily), clipping makes the sensitivity exactly C (Dwork & Roth
# 2014 §3's contribution-bounding recipe; DP-SGD's gradient clipping is
# the same idea). Each customer maps to one nation, so per-(cell,
# contributor) clipping IS user-level bounding here. Same deterministic
# keyed-PRF noise contract as q347 (salt 'dpsum' — independent draws),
# b = C/eps decimal-exact, integer release, negatives unclamped. Clipping
# diagnostics are deliberately NOT in the release (that statistic is
# unprotected); tests audit them.
@query(
    "q348_dp_sum_release",
    oracle="""
    WITH per AS (
      SELECT c_nationkey AS nation, o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS s
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    cells AS (
      SELECT nation,
             SUM(GREATEST(LEAST(s, CAST(3000000.0 AS DECIMAL(18,6))),
                          CAST(-3000000.0 AS DECIMAL(18,6)))) AS t
      FROM per GROUP BY 1),
    r AS (SELECT * FROM (VALUES ('e05', 0.5), ('e20', 2.0)) t(lbl, eps)),
    x AS (
      SELECT nation, t, lbl, eps,
             CAST(('0x' || substr(md5(CAST(LENGTH(CAST(nation AS VARCHAR))
                                           AS VARCHAR)
                                      || '#' || CAST(nation AS VARCHAR)
                                      || ':dpsum:' || lbl), 1, 8))
                  AS BIGINT) AS v
      FROM cells CROSS JOIN r),
    z AS (
      SELECT nation, t, lbl, eps,
             CASE WHEN (v + 0.5) / 4294967296.0 >= 0.5
                  THEN 1 ELSE -1 END AS sg,
             ROUND(CAST(ln(1 - 2 * abs((v + 0.5) / 4294967296.0 - 0.5))
                        AS DECIMAL(18,6)), 4) AS lnq
      FROM x)
    SELECT lbl, CAST(eps AS DOUBLE) AS eps, nation,
           CAST(ROUND(t + (-sg) * CAST(3000000.0 / eps AS DECIMAL(18,6))
                          * lnq, 0) AS BIGINT) AS sum_noisy
    FROM z ORDER BY lbl, nation
    """,
    doc="Bounded-contribution Laplace DP release of per-nation order "
        "spend: per-customer totals clipped at C=3e6 (sensitivity = C), "
        "keyed-PRF noise at the epsilon ladder, integer release.",
)
def q348(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.privacy import dp_noisy_sum_release

    t = tables(spark, sf_dir)
    df = (t["orders"].join(t["customer"],
                           F.col("o_custkey") == F.col("c_custkey"))
          .select(F.col("c_nationkey").alias("nation"), "o_custkey",
                  "o_totalprice"))
    return dp_noisy_sum_release(df, ["nation"], "o_custkey", "o_totalprice",
                                clip=3000000.0)


# --------------------------------------------------------------------------
# Q349 stability-thresholded DP histogram (Korolova et al. 2009 partition
# selection; the production DP-histogram recipe): when cell KEYS are
# themselves data, publishing a key's existence leaks its contributors, so
# after the q347 Laplace step a cell publishes ONLY if its noisy count
# clears tau = ceil(1 + (D/eps)·ln(1/(2*delta))) — bounding the chance a
# single-contributor key ever appears by delta (here 1e-6: tau 28/8 for
# the strict/loose rung). Integer tau makes the drop decision
# engine-invariant; the stricter rung has the HIGHER bar, so a small cell
# can appear in the loose release and vanish from the strict one —
# exactly what the fixture shows: at sf0.001 (segment counts 23-40)
# e05 publishes 2 of 5 segments and e20 all 5; at sf0.01 (~300 each)
# both publish everything. Release rows vary per rung by construction.
@query(
    "q349_dp_thresholded_histogram",
    oracle="""
    WITH g AS (
      SELECT c_mktsegment AS segment, COUNT(*) AS n FROM customer
      GROUP BY 1),
    r AS (SELECT * FROM (VALUES ('e05', 0.5, 28), ('e20', 2.0, 8))
          t(lbl, eps, tau)),
    x AS (
      SELECT segment, n, lbl, eps, tau,
             CAST(('0x' || substr(md5(CAST(LENGTH(segment) AS VARCHAR)
                                      || '#' || segment
                                      || ':dp:' || lbl), 1, 8))
                  AS BIGINT) AS v
      FROM g CROSS JOIN r),
    z AS (
      SELECT segment, n, lbl, eps, tau,
             CASE WHEN (v + 0.5) / 4294967296.0 >= 0.5
                  THEN 1 ELSE -1 END AS sg,
             ROUND(CAST(ln(1 - 2 * abs((v + 0.5) / 4294967296.0 - 0.5))
                        AS DECIMAL(18,6)), 4) AS lnq
      FROM x),
    rel AS (
      SELECT lbl, CAST(eps AS DOUBLE) AS eps, segment,
             CAST(ROUND(n + (-sg) * CAST(1.0 / eps AS DECIMAL(18,6))
                            * lnq, 0) AS BIGINT) AS n_noisy,
             CAST(tau AS INT) AS tau
      FROM z)
    SELECT lbl, eps, segment, n_noisy, tau FROM rel
    WHERE n_noisy >= tau ORDER BY lbl, segment
    """,
    doc="(eps,delta) stability-thresholded DP histogram of customers per "
        "market segment: Laplace noise then publish only cells whose "
        "noisy count clears the per-rung tau = ceil(1+(1/eps)ln(1/2delta)).",
)
def q349(spark: SparkSession, sf_dir: str) -> DataFrame:
    from inspectadb_spark.operators.privacy import dp_thresholded_release

    c = tables(spark, sf_dir)["customer"]
    return dp_thresholded_release(
        c.select(F.col("c_mktsegment").alias("segment")), ["segment"],
        delta=1e-6)


# --------------------------------------------------------------------------
# Q351/Q352 persisted IVF-PQ ADC serving (operators/similarity.py
# save_ivf_pq_index / ivf_pq_topk_from_index): the codebooks, like q339/
# q340's centroids, are TABLE ROWS (codeword c of subspace j = dims
# j*8+1..j*8+8 of embedding vec_id = c*100), so DuckDB re-derives the whole
# pipeline from first principles — cell assignment, probe ranking, the
# per-subspace encoding argmax (v_j·C_jc − |C_jc|²/2, ties to the lower
# code: exactly pq_encode's expr route), the ADC dot against the query's
# subvectors, and cosine via the stored EXACT vector norm. External
# evidence for the code-lists-only serving tier: the oracle never sees the
# persisted index, only the math it must embody. Q352 is the filtered form
# (allowed = lang='en' documents, semi-joined BEFORE ADC scoring — the
# q350 pre-filter commutation at the PQ tier).
def _pq_codebook_rows(cents):
    """(m=8, ks=4, dsub=8) codebooks as a pure reshape of the
    ``_centroid_rows`` matrix — codeword c of subspace j = dims
    [j*8, (j+1)*8) of model row c. No second collect: the call site
    already holds the 4 raw rows."""
    import numpy as np

    full = np.asarray(cents, dtype=np.float64)
    return np.stack([full[:, j * 8:(j + 1) * 8] for j in range(8)])


def _pq_adc_oracle(cand_extra: str) -> str:
    """The full q351-family oracle; ``cand_extra`` narrows the candidate
    set (q352's allowed-id join) between cell probing and encoding."""
    return f"""
    WITH {_IVF_CELL_CTES},
    probe AS (
      SELECT cell FROM (
        SELECT cell, ROW_NUMBER() OVER (ORDER BY s DESC, cell) AS r
        FROM scored WHERE vec_id = 7) t WHERE r <= 2),
    cb AS (
      SELECT CAST(vec_id // 100 AS INT) AS c, embedding AS cw
      FROM embeddings WHERE vec_id IN (0, 100, 200, 300)),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
    qn AS (
      SELECT SQRT(SUM(CAST(qe[d.d] AS DOUBLE) * CAST(qe[d.d] AS DOUBLE)))
               AS qnorm
      FROM q CROSS JOIN generate_series(1, 64) d(d)),
    cand AS (
      SELECT e.vec_id, e.embedding AS ev
      FROM embeddings e
      JOIN assigned a ON a.vec_id = e.vec_id
      JOIN probe p ON p.cell = a.cell{cand_extra}),
    enc AS (
      SELECT cand.vec_id, CAST((d.d - 1) // 8 AS INT) AS j, cb.c,
             SUM(CAST(cand.ev[d.d] AS DOUBLE) * CAST(cb.cw[d.d] AS DOUBLE))
               - SUM(CAST(cb.cw[d.d] AS DOUBLE)
                     * CAST(cb.cw[d.d] AS DOUBLE)) / 2 AS score
      FROM cand CROSS JOIN cb CROSS JOIN generate_series(1, 64) d(d)
      GROUP BY cand.vec_id, CAST((d.d - 1) // 8 AS INT), cb.c),
    code AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY score DESC, c) AS r
        FROM enc) t WHERE r = 1),
    adc AS (
      SELECT code.vec_id,
             SUM(CAST(q.qe[d.d] AS DOUBLE) * CAST(cb.cw[d.d] AS DOUBLE))
               AS dot
      FROM code JOIN cb ON cb.c = code.c
      CROSS JOIN q CROSS JOIN generate_series(1, 64) d(d)
      WHERE CAST((d.d - 1) // 8 AS INT) = code.j
      GROUP BY code.vec_id),
    nrm AS (
      SELECT cand.vec_id,
             SQRT(SUM(CAST(cand.ev[d.d] AS DOUBLE)
                      * CAST(cand.ev[d.d] AS DOUBLE))) AS vnorm
      FROM cand CROSS JOIN generate_series(1, 64) d(d)
      GROUP BY cand.vec_id)
    SELECT adc.vec_id,
           CAST(ROUND(CAST(adc.dot / (nrm.vnorm * qn.qnorm)
                           AS DECIMAL(18,6)), 4) AS DOUBLE) AS sim_adc
    FROM adc JOIN nrm USING (vec_id) CROSS JOIN qn
    ORDER BY sim_adc DESC, vec_id LIMIT 10
    """


def _q351_build(spark: SparkSession, sf_dir: str, filtered: bool):
    from inspectadb_spark.operators.similarity import (
        ivf_pq_topk_from_index,
        save_ivf_pq_index,
    )

    t = tables(spark, sf_dir)
    e = t["embeddings"]
    cents = _centroid_rows(e)
    books = _pq_codebook_rows(cents)
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 7).first()["embedding"]]
    tag = "q352idx" if filtered else "q351idx"
    path = _tmp(sf_dir, tag)
    save_ivf_pq_index(e, cents, books, path)
    allowed = (t["documents"].filter(F.col("lang") == "en")
               .select("doc_id") if filtered else None)
    return ivf_pq_topk_from_index(spark, path, qvec, k=10, n_probe=2,
                                  allowed=allowed)


@query(
    "q351_pq_adc_topk",
    oracle=_pq_adc_oracle(""),
    doc="Top-10 by ADC cosine served from the persisted IVF-PQ index "
        "(codes only, 2 of 4 cells probed); the oracle re-derives "
        "encoding and ADC from the codebook table rows.",
)
def q351(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q351_build(spark, sf_dir, filtered=False)


@query(
    "q352_pq_filtered_topk",
    oracle=_pq_adc_oracle("""
      JOIN documents doc ON doc.doc_id = e.vec_id AND doc.lang = 'en'"""),
    doc="Metadata-filtered (lang='en') ADC top-10 from the persisted "
        "IVF-PQ index: allowed-id semi join BEFORE scoring, so the k-cut "
        "spends on allowed candidates only.",
)
def q352(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q351_build(spark, sf_dir, filtered=True)


# --------------------------------------------------------------------------
# Q354 randomized response (Warner 1965) — LOCAL differential privacy, the
# per-record counterpart of q347's central model: each customer's true bit
# (acctbal > 0) is reported truthfully only with probability p = 0.75,
# flipped otherwise (epsilon = ln(p/(1-p)) = ln 3 per record), and the
# collector DEBIASES the per-nation rate with pi_hat = (r_bar-(1-p))/(2p-1)
# = 2*r_bar - 1/2. The flip coin is the corpus's keyed md5 PRF (replayable
# release, oracle re-derives identical bits); estimates are exact integer
# ppm (can exceed [0, 1e6] on small cells — that bias-variance tradeoff is
# the mechanism's, not a bug, and the true rate rides along for the audit).
# 100 TB story: the flip is scan-side expression arithmetic; one map-side
# combinable group-by; no per-record state anywhere.
@query(
    "q354_randomized_response",
    oracle="""
    WITH x AS (
      SELECT c_nationkey AS nation,
             CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS b,
             CASE WHEN (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                                                 || ':rr'), 1, 8))
                             AS BIGINT) + 0.5) / 4294967296.0 < 0.75
                  THEN CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END
                  ELSE 1 - CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END
             END AS r
      FROM customer)
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(r) AS BIGINT) AS reported_ones,
           CAST(SUM(r) * 1000000 // COUNT(*) AS BIGINT) AS reported_ppm,
           CAST(2 * SUM(r) * 1000000 // COUNT(*) - 500000 AS BIGINT)
             AS pi_hat_ppm,
           CAST(SUM(b) * 1000000 // COUNT(*) AS BIGINT) AS true_ppm
    FROM x GROUP BY nation ORDER BY nation
    """,
    doc="Warner randomized response per nation: keyed-PRF flip at p=0.75 "
        "of the acctbal>0 bit, reported rate, the debiased estimate "
        "2*r_bar - 1/2 (integer ppm), and the true rate for the audit.",
)
def q354(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables(spark, sf_dir)["customer"]
    b = "CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END"
    u = ("(CAST(conv(substr(md5(cast(concat(cast(c_custkey as string),"
         " ':rr') as binary)), 1, 8), 16, 10) AS BIGINT) + 0.5)"
         " / 4294967296.0")
    x = c.select(
        F.col("c_nationkey").alias("nation"),
        F.expr(b).alias("b"),
        F.expr(f"CASE WHEN {u} < 0.75 THEN {b} ELSE 1 - {b} END").alias("r"))
    return (x.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("reported_ones"),
        F.expr("SUM(r) * 1000000 DIV COUNT(*)").cast("bigint")
        .alias("reported_ppm"),
        F.expr("2 * SUM(r) * 1000000 DIV COUNT(*) - 500000").cast("bigint")
        .alias("pi_hat_ppm"),
        F.expr("SUM(b) * 1000000 DIV COUNT(*)").cast("bigint")
        .alias("true_ppm"))
        .orderBy("nation"))


# --------------------------------------------------------------------------
# Q357 DP median via the EXPONENTIAL MECHANISM (McSherry & Talwar 2007) —
# the selection-valued member of the central-DP family (q347 count, q348
# sum, q349 histogram publish/suppress, q354 local RR): releasing "which
# value" rather than "how much" needs utility-weighted sampling, not
# additive noise. Candidates are a FIXED PUBLIC grid (acctbal bands
# -1000..10000 step 1000 — data-independent, as the mechanism requires);
# utility u(c) = -|#(x <= c) - n/2| has sensitivity 1, weights
# exp(eps*u/2) at eps = 1 are quantized DECIMAL(18,6)->R4 per term (q132
# two-step) BEFORE the cumulative sum, and the draw is the keyed md5 PRF
# (replayable; the oracle re-derives the identical release). Weight
# underflow for far-from-median candidates rounds to an exact 0.0 in both
# engines — the truncation is part of the released mechanism, determinism
# is what the oracle certifies.
# 100 TB story: one scan -> per-(nation, candidate) rank counts via a
# broadcast 12-row grid (map-side combinable), the weighted draw runs on
# the model-sized (nation x candidate) table.
@query(
    "q357_dp_quantile",
    oracle="""
    WITH grid AS (
      SELECT unnest(generate_series(-1000, 10000, 1000)) AS c),
    ranks AS (
      SELECT cu.c_nationkey AS nation, g.c,
             COUNT(*) AS n,
             SUM(CASE WHEN cu.c_acctbal <= g.c THEN 1 ELSE 0 END) AS rk
      FROM customer cu CROSS JOIN grid g
      GROUP BY 1, 2),
    wts AS (
      SELECT nation, c, n, rk,
             -ABS(2 * rk - n) AS u2,
             ROUND(CAST(exp(0.5 * (-ABS(2 * rk - n)) / 2.0)
                        AS DECIMAL(18,6)), 4) AS w
      FROM ranks),
    cum AS (
      SELECT nation, c, n, rk, u2, w,
             SUM(w) OVER (PARTITION BY nation ORDER BY c
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY nation) AS tw,
             (CAST(('0x' || substr(md5(CAST(nation AS VARCHAR)
                                       || ':dpq'), 1, 8)) AS BIGINT)
              + 0.5) / 4294967296.0 AS draw
      FROM wts),
    pick AS (
      SELECT nation, n, c, rk, u2,
             ROW_NUMBER() OVER (PARTITION BY nation ORDER BY c) AS r
      FROM cum WHERE CAST(cw AS DOUBLE) >= draw * CAST(tw AS DOUBLE))
    SELECT nation, CAST(n AS BIGINT) AS n,
           CAST(c AS DOUBLE) AS released_value,
           CAST(rk AS BIGINT) AS released_rank,
           CAST(u2 AS BIGINT) AS neg_abs_2u
    FROM pick WHERE r = 1 ORDER BY nation
    """,
    doc="Exponential-mechanism DP median of customer acctbal per nation "
        "over a fixed public grid (eps=1): utility-weighted keyed-PRF "
        "selection, replayable, with the released candidate's rank and "
        "(doubled) utility for the audit.",
)
def q357(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables(spark, sf_dir)["customer"]
    spark_ = c.sparkSession
    grid = spark_.range(-1, 11).select(
        (F.col("id") * 1000).cast("int").alias("c"))
    ranks = (c.crossJoin(F.broadcast(grid))
             .groupBy(F.col("c_nationkey").alias("nation"), "c")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.when(F.col("c_acctbal") <= F.col("c"), 1)
                        .otherwise(0)).alias("rk")))
    # u2 = 2*u (kept integer: |2rk - n| avoids the n/2 fraction); the
    # exponent halves it back: eps/2 * u = 0.5 * u2 / 2
    wts = (ranks.withColumn("u2", -F.abs(2 * F.col("rk") - F.col("n")))
           .withColumn("w", F.expr(
               "ROUND(CAST(exp(0.5 * u2 / 2.0) AS DECIMAL(18,6)), 4)")))
    from pyspark.sql import Window

    wo = Window.partitionBy("nation").orderBy("c")
    wa = Window.partitionBy("nation")
    draw = ("(CAST(conv(substr(md5(cast(concat(cast(nation as string),"
            " ':dpq') as binary)), 1, 8), 16, 10) AS BIGINT) + 0.5)"
            " / 4294967296.0")
    cum = (wts
           .withColumn("cw", F.sum("w").over(
               wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
           .withColumn("tw", F.sum("w").over(wa))
           .withColumn("draw", F.expr(draw)))
    pick = (cum.filter(F.col("cw").cast("double")
                       >= F.col("draw") * F.col("tw").cast("double"))
            .withColumn("r", F.row_number().over(wo)))
    return (pick.filter(F.col("r") == 1)
            .select("nation", F.col("n").cast("bigint").alias("n"),
                    F.col("c").cast("double").alias("released_value"),
                    F.col("rk").cast("bigint").alias("released_rank"),
                    F.col("u2").cast("bigint").alias("neg_abs_2u"))
            .orderBy("nation"))
