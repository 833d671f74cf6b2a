"""KMV set-overlap estimation (bottom-k Jaccard).

The sketch family so far estimates cardinality (KMV, HLL) and point
frequency (CMS); this adds the SET-OVERLAP estimator those sketches
exist to enable at 100 TB: given two key sets A, B, their bottom-k
signatures alone estimate Jaccard(A, B) as
|S ∩ S_A ∩ S_B| / |S| where S = bottom-k of (S_A ∪ S_B)
(Beyer et al. 2007, "On synopses for distinct-value estimation under
multiset operations" — the k-minimum-values coincidence estimator).
Everything after the two distinct() exchanges is TakeOrdered heaps on
k-row tables, so two 100 TB event streams compare through 2k hashes.

The estimator is a DETERMINISTIC function of the md5-based hash60, so
the driver oracle checks it EXACTLY (no tolerance plumbing): both
engines compute the same minima, the same coincidence count, and the
same fixed-point ppm division (Spark DIV == DuckDB // on non-negative
BIGINTs — the round-6 integer discipline). True Jaccard ships in the
same row, so the record doubles as accuracy evidence (k=64 over ~1k
distinct users per side at sf0.01).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators import sketches as SK
from ..sources.testdata import load_table
from .registry import register

_K = 64
_A, _B = "click", "purchase"

_H = SK.sql_hash60("CAST(user_id AS VARCHAR)")


@register(
    "q_kmv_jaccard",
    f"""
    WITH ua AS (
      SELECT DISTINCT {_H} AS hval FROM events WHERE event_type = '{_A}'
    ),
    ub AS (
      SELECT DISTINCT {_H} AS hval FROM events WHERE event_type = '{_B}'
    ),
    sa AS (SELECT hval FROM ua ORDER BY hval LIMIT {_K}),
    sb AS (SELECT hval FROM ub ORDER BY hval LIMIT {_K}),
    su AS (
      SELECT hval FROM (
        SELECT hval FROM sa UNION SELECT hval FROM sb)
      ORDER BY hval LIMIT {_K}
    ),
    sk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
             CAST(SUM(CASE WHEN hval IN (SELECT hval FROM sa)
                            AND hval IN (SELECT hval FROM sb)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      FROM su
    ),
    tru AS (
      SELECT
        CAST((SELECT COUNT(*) FROM
               (SELECT DISTINCT user_id FROM events
                WHERE event_type = '{_A}') a
              JOIN (SELECT DISTINCT user_id FROM events
                    WHERE event_type = '{_B}') b USING (user_id))
             AS BIGINT) AS n_inter_true,
        CAST((SELECT COUNT(DISTINCT user_id) FROM events
              WHERE event_type IN ('{_A}', '{_B}'))
             AS BIGINT) AS n_union_true
    )
    SELECT k_used, n_both,
           CASE WHEN k_used = 0 THEN NULL
                ELSE CAST(n_both * 1000000 // k_used AS BIGINT)
           END AS jaccard_est_ppm,
           n_inter_true, n_union_true,
           CASE WHEN n_union_true = 0 THEN NULL
                ELSE CAST(n_inter_true * 1000000 // n_union_true AS BIGINT)
           END AS jaccard_true_ppm
    FROM sk, tru
    """,
    doc="KMV bottom-k Jaccard: two key sets compared through their "
    "k-minima signatures alone (coincidence count within the merged "
    "bottom-k), deterministic given the hash so the oracle is exact; "
    "true Jaccard in the same row as accuracy evidence — fixed-point "
    "ppm integer math on both engines",
)
def q_kmv_jaccard(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")

    def minima(tag: str):
        return SK.kmv_minima(
            ev.where(F.col("event_type") == tag), key, _K
        ).select("hval")

    sa, sb = minima(_A), minima(_B)
    su = (
        sa.unionByName(sb)
        .distinct()
        .orderBy("hval")
        .limit(_K)
    )
    sk = (
        su.join(sa.withColumnRenamed("hval", "ha"),
                su["hval"] == F.col("ha"), "left")
        .join(sb.withColumnRenamed("hval", "hb"),
              su["hval"] == F.col("hb"), "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_used"),
            F.sum(
                (
                    F.col("ha").isNotNull() & F.col("hb").isNotNull()
                ).cast("long")
            )
            .cast("long")
            .alias("n_both"),
        )
    )
    ua = ev.where(F.col("event_type") == _A).select("user_id").distinct()
    ub = ev.where(F.col("event_type") == _B).select("user_id").distinct()
    tru = (
        ua.join(ub, "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter_true"))
        .crossJoin(
            ua.unionByName(ub)
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_union_true"))
        )
    )
    return (
        sk.crossJoin(F.broadcast(tru))
        .withColumn(
            # empty-sketch guard (ADVICE r12): Spark DIV and DuckDB //
            # need not agree on /0, so both engines emit NULL explicitly
            "jaccard_est_ppm",
            F.expr(
                "CASE WHEN k_used = 0 THEN NULL"
                " ELSE CAST(n_both * 1000000 DIV k_used AS BIGINT) END"
            ),
        )
        .withColumn(
            "jaccard_true_ppm",
            F.expr(
                "CASE WHEN n_union_true = 0 THEN NULL"
                " ELSE CAST(n_inter_true * 1000000 DIV n_union_true"
                " AS BIGINT) END"
            ),
        )
        .select(
            "k_used",
            "n_both",
            "jaccard_est_ppm",
            "n_inter_true",
            "n_union_true",
            "jaccard_true_ppm",
        )
    )
