"""Data-validation / compliance queries.

The expectations-report shape (dbt-test / Great Expectations family): a
pipeline asserts nullability, ranges, uniqueness, and referential
integrity as ONE pass of aggregates and ships the per-rule violation
counts as an audit artifact — the engine-side generalization of the
reference pipeline's QC side outputs (S9; pipeline/run.py's counter
report). All counts are integers; every rule is a conditional aggregate
with map-side combine, and the referential check is the same
broadcast-dim anti-join shape as J9.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register


@register(
    "q_expectations_report",
    """
    SELECT 'o_orderkey_not_null' AS rule,
           COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS violations,
           COUNT(*) AS total
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_positive',
           COUNT(*) FILTER (WHERE o_totalprice IS NULL OR o_totalprice <= 0),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus_domain',
           COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey_unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'o_custkey_in_customer',
           COUNT(*) FILTER (WHERE c.c_custkey IS NULL),
           COUNT(*)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="expectations report: nullability / range / domain / uniqueness "
    "/ referential-integrity violation counts in conditional aggregates "
    "+ one broadcast-dim left join — the QC side-output shape (S9) "
    "generalized to an audit artifact",
)
def q_expectations_report(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def rule(name, violations, total):
        return F.struct(
            F.lit(name).alias("rule"),
            violations.alias("violations"),
            total.alias("total"),
        )

    base = orders.agg(
        F.array(
            rule(
                "o_orderkey_not_null",
                F.count_if(F.col("o_orderkey").isNull()),
                F.count(F.lit(1)),
            ),
            rule(
                "o_totalprice_positive",
                F.count_if(
                    F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
                ),
                F.count(F.lit(1)),
            ),
            rule(
                "o_orderstatus_domain",
                F.count_if(~F.col("o_orderstatus").isin("O", "F", "P")),
                F.count(F.lit(1)),
            ),
            rule(
                "o_orderkey_unique",
                F.count(F.lit(1)) - F.countDistinct("o_orderkey"),
                F.count(F.lit(1)),
            ),
        ).alias("rules")
    ).select(F.explode("rules").alias("r")).select("r.*")

    ri = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders["o_custkey"] == customer["c_custkey"],
            "left",
        )
        .agg(
            F.count_if(F.col("c_custkey").isNull()).alias("violations"),
            F.count(F.lit(1)).alias("total"),
        )
        .select(
            F.lit("o_custkey_in_customer").alias("rule"),
            "violations",
            "total",
        )
    )
    return base.unionByName(ri)


@register(
    "q_k_anonymity",
    """
    SELECT n_chars // 50 AS len_bucket, lang, source,
           COUNT(*) AS group_size
    FROM documents
    GROUP BY 1, 2, 3
    HAVING COUNT(*) < 5
    """,
    doc="k-anonymity audit: quasi-identifier groups (length bucket, "
    "lang, source) smaller than k=5 — one hash aggregate + HAVING, the "
    "re-identification-risk report a compliance pass ships",
)
def q_k_anonymity(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            (F.col("n_chars") / 50).cast("long").alias("len_bucket"),
            "lang",
            "source",
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") < 5)
    )


@register(
    "q_hist_by_source",
    """
    SELECT source,
           CAST(LEAST(GREATEST(FLOOR((CAST(n_chars AS DOUBLE) - (0.0))
                                     / (25.0)), 0), 15) AS INT) AS bin,
           COUNT(*) AS n
    FROM documents
    WHERE n_chars IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="per-group histogram state: document-length distribution per "
    "source — the grouped form of the hist sketch (shuffle bounded at "
    "groups × n_bins rows/partition), the per-domain length audit a "
    "curation pass reads",
)
def q_hist_by_source(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    width = 25.0
    b = F.floor((F.col("n_chars").cast("double") - F.lit(0.0)) / F.lit(width))
    clamped = F.least(F.greatest(b, F.lit(0)), F.lit(15)).cast("int")
    return (
        docs.where(F.col("n_chars").isNotNull())
        .groupBy("source", clamped.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
