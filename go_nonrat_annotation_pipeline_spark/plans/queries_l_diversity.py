"""l-diversity audit.

Completes the privacy family next to q_k_anonymity: k-anonymity bounds
GROUP SIZE, but a group of 100 rows all sharing one sensitive value
still leaks it — l-diversity requires every quasi-identifier group to
contain at least l DISTINCT sensitive values (Machanavajjhala et al.,
ICDE 2006). Quasi-identifiers here are (length bucket, source), the
sensitive attribute is lang; the report lists groups violating l = 3.
One hash aggregate with a distinct-count + HAVING — same 100 TB shape
as the k-anonymity audit (shuffle bounded at group cardinality).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_L = 3


@register(
    "q_l_diversity",
    f"""
    SELECT n_chars // 50 AS len_bucket, source,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_sensitive
    FROM documents
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT lang) < {_L}
    """,
    doc="l-diversity audit: quasi-identifier groups (length bucket, "
    "source) whose sensitive attribute (lang) has fewer than l=3 "
    "distinct values — the disclosure-risk report k-anonymity misses; "
    "one hash aggregate + HAVING",
)
def q_l_diversity(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.expr("n_chars DIV 50").alias("len_bucket"), "source"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.countDistinct("lang").cast("long").alias("n_sensitive"),
        )
        .where(F.col("n_sensitive") < _L)
    )
