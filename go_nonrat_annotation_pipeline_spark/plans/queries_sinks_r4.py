"""ORC round-trip and grouped HLL queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import sketches as SK
from ..sources.testdata import load_table
from .registry import register


@register(
    "q_orc_roundtrip",
    """
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents GROUP BY source
    """,
    doc="ORC sink→source round-trip is lossless (columnar alternative "
    "to parquet, native Spark writer/reader; oracle aggregates the "
    "original table — equality proves the round trip)",
)
def q_orc_roundtrip(spark, sf_dir):
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(tempfile.mkdtemp(prefix="orc_rt_"), "docs")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "q_hll_by_group",
    f"""
    WITH mapped AS (
      SELECT event_type,
             {SK.sql_hash60("CAST(user_id AS VARCHAR)")} % 64 AS register,
             CASE WHEN {SK.sql_hash60("CAST(user_id AS VARCHAR)")} // 64 = 0
                  THEN 55
                  ELSE 55 - LENGTH(LTRIM(BIN(
                      {SK.sql_hash60("CAST(user_id AS VARCHAR)")} // 64), '0'))
             END AS rho
      FROM events
    )
    SELECT event_type, register, MAX(rho) AS max_rho
    FROM mapped GROUP BY event_type, register
    """,
    doc="grouped HLL: per-event_type register tables in ONE aggregate — "
    "the per-segment distinct-user rollup (state = groups × 64 rows, "
    "mergeable across days by register-wise MAX)",
)
def q_hll_by_group(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    h = SK.hash60(F.col("user_id").cast("string"))
    w = F.shiftright(h, 6)
    rho = F.when(w == 0, F.lit(SK.HASH_BITS - 6 + 1)).otherwise(
        F.lit(SK.HASH_BITS - 6 + 1) - F.length(F.bin(w))
    )
    return (
        events.select(
            "event_type", (h % 64).alias("register"), rho.alias("rho")
        )
        .groupBy("event_type", "register")
        .agg(F.max("rho").alias("max_rho"))
    )


@register(
    "q_kmv_merge_law",
    SK.sql_kmv_minima("orders", "CAST(o_custkey AS VARCHAR)", 32),
    doc="KMV union law attested cross-engine: Spark merges two shard "
    "bottom-k tables (union distinct, re-rank, truncate to k); the "
    "oracle sketches the whole table directly — exact because the "
    "bottom-k of a union of bottom-ks IS the bottom-k of the union",
)
def q_kmv_merge_law(spark, sf_dir):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_custkey").cast("string")
    a = SK.kmv_minima(orders.where(F.col("o_orderkey") % 2 == 0), key, 32)
    b = SK.kmv_minima(orders.where(F.col("o_orderkey") % 2 == 1), key, 32)
    merged = (
        a.select("hval")
        .unionByName(b.select("hval"))
        .distinct()
        .orderBy("hval")
        .limit(32)
    )
    w = Window.orderBy("hval")
    return merged.select(
        F.row_number().over(w).cast("int").alias("rank"), "hval"
    )


@register(
    "q_cms_merge_law",
    f"""
    WITH exploded AS (
      SELECT d,
             {SK.sql_hash60("CAST(d AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)")}
               % 128 AS bucket
      FROM orders, UNNEST(GENERATE_SERIES(0, 3)) AS t(d)
    )
    SELECT d, bucket, COUNT(*) AS cnt FROM exploded GROUP BY d, bucket
    """,
    doc="CMS merge law attested cross-engine: Spark builds two shard "
    "counter tables and merges by counter-wise SUM; the oracle counts "
    "the whole table directly",
)
def q_cms_merge_law(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    depth, width = 4, 128

    def counters(df):
        salts = F.array(*[F.lit(str(d)) for d in range(depth)])
        ex = df.select(
            F.posexplode(salts).alias("d", "salt"),
            F.col("o_custkey").cast("string").alias("k"),
        ).select(
            "d",
            (
                SK.hash60(F.concat(F.col("salt"), F.lit("|"), F.col("k")))
                % width
            ).alias("bucket"),
        )
        return ex.groupBy("d", "bucket").agg(F.count("*").alias("cnt"))

    a = counters(orders.where(F.col("o_orderkey") % 2 == 0))
    b = counters(orders.where(F.col("o_orderkey") % 2 == 1))
    return (
        a.unionByName(b)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
